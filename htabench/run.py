"""Run one benchmark workload and print its result as the last stdout line.

    python3 htabench/run.py --workload history --seed 1 --seconds 10 --trace 0

Builds first if needed (see build.py), then starts one JVM with a fixed
heap that runs the workload (htabench.Main). With --trace 0 the result
holds every `end_to_end` metric of BENCHMARK.json, with --trace 1 every
`per_layer` metric; a traced run also prints, above the result, how far
its end-to-end figures moved from the untraced run of the same seed
when one ran earlier in this checkout. Exits non-zero, printing no
result, when the build, the run or a listed metric is missing.
"""
import argparse
import json
import os
import pathlib
import shutil
import subprocess
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

HEAP = "3g"
TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java(classpath, work, main_class, *args):
    """The JVM command line: fixed heap, temp files under `work`."""
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work / 'tmp'}"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", os.pathsep.join(classpath), main_class, *args, "--work", str(work)])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads(pathlib.Path("BENCHMARK.json").read_text())
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"htabench: unknown workload {a.workload}")
    classpath = build.build()
    began = time.monotonic()  # the run's timeout excludes compilation

    work = build.OUT / "runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = java(classpath, work, "htabench.Main", "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=max(10, TIMEOUT_S - (time.monotonic() - began)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("htabench: run timed out")
    finally:
        for trace in work.glob("trace-*.jsonl"):
            (build.OUT / "traces").mkdir(exist_ok=True)
            shutil.move(str(trace), build.OUT / "traces" / trace.name)
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"htabench: run failed ({proc.returncode})")
    full = json.loads(lines[-1])

    metrics = {}
    for m in wanted:
        got = full["metrics"].get(m["name"])
        if got is None or got["value"] is None:
            raise SystemExit(f"htabench: {a.workload} did not measure {m['name']}")
        if got["unit"] != m["unit"]:
            raise SystemExit(f"htabench: {m['name']} is in {got['unit']}, not {m['unit']}")
        metrics[m["name"]] = got

    last = build.OUT / "last" / f"{a.workload}-{a.seed}.json"
    if a.trace:
        report_overhead(last, full)
    else:
        last.parent.mkdir(exist_ok=True)
        last.write_text(json.dumps(full))
    print(json.dumps({"correct": full["correct"], "attempted": full["attempted"],
                      "failed": full["failed"], "metrics": metrics}))


def report_overhead(untraced_file, traced):
    """Tracing overhead: end-to-end figures of this traced run against the
    untraced run of the same workload and seed, when one is on record."""
    if not untraced_file.is_file():
        print("tracing overhead: no untraced run of this seed on record; "
              "run it with --trace 0 first")
        return
    base = json.loads(untraced_file.read_text())["metrics"]
    for name, b in base.items():
        t = traced["metrics"].get(name)
        if t and b["value"] and t["value"] is not None:
            print(f"tracing overhead {name}: {t['value'] - b['value']:+.4g} {b['unit']} "
                  f"({(t['value'] / b['value'] - 1) * 100:+.1f}%)")


if __name__ == "__main__":
    main()
