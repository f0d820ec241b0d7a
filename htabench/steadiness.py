"""Steadiness check: run each workload several times, one seed per run,
and print each end-to-end metric's median, quartiles and spread, the
spread being (Q3 - Q1) / median with quartiles from
statistics.quantiles(values, n=4).

    python3 htabench/steadiness.py --runs 10 --out htabench/results/aa.json
    python3 htabench/steadiness.py --workloads ingest --runs 5

Runs are sequential, so they never contend with each other. A metric
whose spread exceeds a third of its bound in BENCHMARK.json is flagged.
"""
import argparse
import json
import os
import pathlib
import platform
import statistics
import subprocess
import sys
import time

RUN = pathlib.Path(__file__).resolve().parent / "run.py"


def main():
    spec = json.loads(pathlib.Path("BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out")
    a = ap.parse_args()

    record = {"host": {"cpus": len(os.sched_getaffinity(0)),
                       "machine": platform.machine(), "python": platform.python_version()},
              "run_seconds": spec["run_seconds"], "workloads": {}}
    for w in a.workloads:
        runs = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.monotonic()
            out = subprocess.run([sys.executable, str(RUN), "--workload", w, "--seed", str(seed),
                                  "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                                 stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            if out.returncode != 0:
                raise SystemExit(f"{w} seed {seed}: run failed ({out.returncode})")
            res = json.loads(out.stdout.strip().splitlines()[-1])
            res["seed"], res["wall_s"] = seed, round(time.monotonic() - t0, 1)
            runs.append(res)
            print(f"{w} seed {seed}: {res['wall_s']} s, correct={res['correct']}, "
                  f"failed {res['failed']}/{res['attempted']}", flush=True)
        summary = {}
        print(f"\n{w}: {len(runs)} runs\n{'metric':28s} {'median':>12s} {'q1':>12s} "
              f"{'q3':>12s} {'spread':>7s} {'bound':>6s}")
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            flag = "" if spread < m["bound"] / 3 else "  <- above bound/3"
            print(f"{m['name']:28s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:7.3f} "
                  f"{m['bound']:6.2f}{flag}")
            summary[m["name"]] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                                  "bound": m["bound"], "values": vals}
        record["workloads"][w] = {"runs": [{k: r[k] for k in ("seed", "wall_s", "correct",
                                                                "attempted", "failed")}
                                           for r in runs],
                                  "metrics": summary}
        print()
        if a.out:
            pathlib.Path(a.out).parent.mkdir(parents=True, exist_ok=True)
            pathlib.Path(a.out).write_text(json.dumps(record, indent=1) + "\n")


if __name__ == "__main__":
    main()
