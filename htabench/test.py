"""The benchmark's own tests (tests/SelfTest.scala): the same seed gives
identical chunks and requests, and the oracle agrees with the program's
history service on a tiny store written through the ingest path.

    python3 htabench/test.py        # from the repository root
"""
import pathlib
import shutil
import subprocess
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402

work = build.OUT / "selftest"
shutil.rmtree(work, ignore_errors=True)
(work / "tmp").mkdir(parents=True)
try:
    code = subprocess.run(run.java(build.build(), work, "htabench.SelfTest")).returncode
finally:
    shutil.rmtree(work, ignore_errors=True)
sys.exit(code)
