"""Build the benchmark: compile the program (src/main/scala) together with
the benchmark's own Scala sources into .bench_build/htabench/classes.

Uses the Scala compiler that ships with Spark's jars ($SPARK_HOME/jars,
default /opt/spark/jars), so no build tool or network is needed. A
content hash of every source skips the compile when nothing changed.

    python3 htabench/build.py        # from the repository root
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
OUT = pathlib.Path(".bench_build", "htabench").resolve()
CLASSES = OUT / "classes"


def spark_jars():
    jars = pathlib.Path(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    found = sorted(jars.glob("*.jar"))
    if not found:
        raise SystemExit(f"htabench: no Spark jars under {jars}")
    return jars, found


def sources():
    program = sorted(pathlib.Path("src", "main", "scala").resolve().rglob("*.scala"))
    if not program:
        raise SystemExit("htabench: no program sources under src/main/scala; "
                         "run from the repository root")
    own = sorted((BENCH / "src").rglob("*.scala")) + sorted((BENCH / "tests").rglob("*.scala"))
    return program + own


def build():
    """Compile if any source changed; return the classpath to run with."""
    srcs = sources()
    jar_dir, jars = spark_jars()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    stamp = OUT / "classes.sha256"
    cp = [str(CLASSES), str(jar_dir / "*")]
    if CLASSES.is_dir() and stamp.is_file() and stamp.read_text() == h.hexdigest():
        return cp
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jar_cp = os.pathsep.join(str(j) for j in jars)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}",
           "-cp", jar_cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", jar_cp] + [str(f) for f in srcs]
    print(f"htabench: compiling {len(srcs)} sources", file=sys.stderr)
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        raise SystemExit(f"htabench: compile failed ({done.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    stamp.write_text(h.hexdigest())
    return cp


if __name__ == "__main__":
    build()
