#!/usr/bin/env python3
"""Self-tests of the benchmark's own code.

    python3 perfbench/selftest.py

Builds like run.py, then runs graftbench.SelfTest: generator determinism
(same seed, identical bytes; other seed, different bytes) and output checks
that pass on real results and fail on deliberately corrupted ones (a dropped
fact row, a resurrected taken-down key). Exits non-zero if any test fails.
"""
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    cp = run.build()
    work = os.path.join(run.RUNS, "selftest")
    cmd = (["java"] + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xms2g", "-Xmx2g", "-cp", cp, "graftbench.SelfTest", work, run.STATES])
    os.makedirs(run.RUNS, exist_ok=True)
    with open(os.path.join(run.RUNS, "selftest.log"), "w") as err:
        code = subprocess.call(cmd, cwd=run.ROOT, stderr=err, stdin=subprocess.DEVNULL)
    sys.exit(code)


if __name__ == "__main__":
    main()
