#!/usr/bin/env python3
"""Steadiness report: run each workload N times, one seed per run, and show
each end-to-end metric's median, quartiles and spread against its bound.

    python3 perfbench/steadiness.py [--runs 10] [--seed0 1000] [--workloads a,b]

The spread is (q3 - q1) / median, with quartiles from Python's
statistics.quantiles(values, n=4); bounds come from BENCHMARK.json. A
metric is steady when its spread is under a third of its bound, and
unresolved when its spread is wider than its bound. Beside
each run the report records the 1-minute load average and the host-steal
ticks the run saw. They are there for reading only: no run is dropped or
re-weighted because of them. The full record is written to
perfbench/.run/steadiness.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def steal_ticks():
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) if len(cpu) > 8 else 0


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {}
    for w in a.workloads.split(","):
        runs = []
        for i in range(a.runs):
            seed = a.seed0 + i
            load0, steal0, t0 = loadavg(), steal_ticks(), time.time()
            p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(a.seconds), "--trace", "0"],
                               cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            wall = time.time() - t0
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if lines else None
            run = {"seed": seed, "exit": p.returncode, "wall_s": round(wall, 1),
                   "loadavg_before": load0, "loadavg_after": loadavg(),
                   "steal_ticks": steal_ticks() - steal0, "result": result}
            runs.append(run)
            vals = {k: v["value"] for k, v in (result or {}).get("metrics", {}).items()}
            print(f"{w} seed {seed} exit {p.returncode} wall {wall:.0f}s load {load0:.1f} "
                  f"steal {run['steal_ticks']} " +
                  " ".join(f"{k}={v:.4g}" for k, v in vals.items()), flush=True)
        record[w] = runs
        print(f"\n{w}: {len(runs)} runs")
        print(f"  {'metric':32} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>8} {'bound':>6}  verdict")
        for name, bound in bounds.items():
            vals = [r["result"]["metrics"][name]["value"] for r in runs
                    if r["result"] and name in r["result"]["metrics"]]
            if len(vals) < 2:
                print(f"  {name:32} too few values")
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            verdict = ("steady" if spread < bound / 3 else
                       "within bound" if spread <= bound else "UNRESOLVED: wider than its bound")
            print(f"  {name:32} {med:10.4g} {q1:10.4g} {q3:10.4g} {spread:8.3f} {bound:6.2f}  {verdict}")
        print(flush=True)
    os.makedirs(os.path.join(BENCH, ".run"), exist_ok=True)
    with open(os.path.join(BENCH, ".run", "steadiness.json"), "w") as f:
        json.dump(record, f, indent=1)


if __name__ == "__main__":
    main()
