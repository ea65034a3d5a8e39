#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark package (perfbench/build.sbt, which
depends on the repository's own build) when their sources changed since the
last build, then runs one JVM for the workload. The JVM generates the
workload's inputs from the seed, sets up, measures for the given seconds,
checks every output, and prints one JSON result object; this script prints
that object as the last line of its standard output and exits with the JVM's
code (non-zero when an output check failed). Everything it writes stays under
perfbench/.build and perfbench/.run.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
RUNS = os.path.join(BENCH, ".run")
STATES = os.path.join(ROOT, "src", "test", "resources", "us_states.csv")
WORKLOADS = ("wh_daily", "corpus_table")
HEAP = "3g"  # fixed heap: -Xms equals -Xmx
RUN_LIMIT_S = 170  # the whole run, JVM start to exit

# Spark on JDK 17 needs these outside spark-submit (the program's build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of the path, size and mtime of every build input."""
    h = hashlib.sha1()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, ROOT)} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building the program and the benchmark with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-20000:])
        raise SystemExit("build failed")
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if not lines:
        sys.stderr.write(p.stdout[-20000:])
        raise SystemExit("build printed no classpath")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala"), STATES):
        if not os.path.exists(need):
            raise SystemExit(f"not a checkout of the program: {os.path.relpath(need, ROOT)} is missing")

    cp = build()
    work = os.path.join(RUNS, f"{a.workload}-{a.seed}-{a.trace}")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
            "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--states", STATES])
    os.makedirs(RUNS, exist_ok=True)
    jvm_log = os.path.join(RUNS, f"{a.workload}-{a.seed}-{a.trace}.log")
    with open(jvm_log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"run exceeded {RUN_LIMIT_S} s; log in {jvm_log}")
    with open(jvm_log) as f:
        for line in f:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    result = None
    for line in reversed(out.splitlines()):
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and "metrics" in obj:
            result = obj
            break
    # keep the report and trace, drop the run's warehouse and tables
    for name in ("report.json", "trace.json"):
        src = os.path.join(work, name)
        if os.path.exists(src):
            shutil.copy(src, os.path.join(RUNS, f"{a.workload}-{a.seed}-{a.trace}.{name}"))
    shutil.rmtree(work, ignore_errors=True)
    if result is None:
        raise SystemExit(f"the run printed no result (exit {proc.returncode}); log in {jvm_log}")
    print(json.dumps(result), flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
