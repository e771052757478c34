#!/usr/bin/env python3
"""Steadiness report: run each workload repeatedly and print every metric's spread.

    python3 perfbench/steady.py [--workloads a,b] [--runs 10] [--first-seed 100] [--trace 0]

Each run uses its own seed (first-seed, first-seed+1, ...). For every
workload and metric it prints the median, the quartiles as
statistics.quantiles(values, n=4) gives them, the spread (q3 - q1) as a
share of the median, and, for end-to-end metrics, the metric's bound from
BENCHMARK.json with a mark where the spread exceeds a third of it. The
runs' raw results are written to .bench_build/steady.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=100)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    raw = {}
    ok = True
    for w in a.workloads.split(","):
        results = []
        for i in range(a.runs):
            seed = a.first_seed + i
            t0 = time.time()
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                   "--trace", str(a.trace)]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                  stderr=subprocess.DEVNULL, text=True)
            lines = proc.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
            print("%s seed %d: exit %d, %.1f s, correct %s" % (
                w, seed, proc.returncode, time.time() - t0, res and res["correct"]),
                flush=True)
            if res is None or not res["correct"]:
                ok = False
                continue
            results.append(res)
        raw[w] = results
        if not results:
            continue
        print("%-20s %-26s %12s %12s %12s %8s %6s" % (
            "workload", "metric", "median", "q1", "q3", "spread", "bound"))
        for name in results[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in results]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else float("nan")
            bound = bounds.get(name) if not a.trace else None
            flag = "" if bound is None or spread <= bound / 3 else "  <-- above bound/3"
            print("%-20s %-26s %12.5g %12.5g %12.5g %8.3f %6s%s" % (
                w, name, med, q1, q3, spread, bound if bound is not None else "", flag),
                flush=True)
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_build", "steady.json"), "w") as fh:
        json.dump(raw, fh)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
