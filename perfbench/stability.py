#!/usr/bin/env python3
"""Runs the benchmark several times per workload, each with another seed,
and prints per end-to-end metric the median, the quartiles (Python's
statistics.quantiles, n=4) and the quartile spread as a share of the median,
beside the metric's bound from BENCHMARK.json (a spread under a third of the
bound is steady).

    python3 perfbench/stability.py [--runs 10] [--first-seed 1] [workload ...]
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
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in a.workloads or [x["name"] for x in bench["workloads"]]:
        values = {m: [] for m in bounds}
        elapsed = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            p = subprocess.run(bench["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, text=True)
            elapsed.append(time.time() - t0)
            result = json.loads(p.stdout.strip().splitlines()[-1])
            if p.returncode != 0 or not result["correct"]:
                sys.exit(f"{w} seed {seed}: exit {p.returncode}, {result}")
            for m in bounds:
                values[m].append(result["metrics"][m]["value"])
            print(f"{w} seed={seed} run={elapsed[-1]:.1f}s " + " ".join(
                f"{m}={values[m][-1]:.4g}" for m in bounds), flush=True)
        for m in bounds:
            q1, med, q3 = statistics.quantiles(values[m], n=4)
            print(f"{w} {m}: median={med:.5g} q1={q1:.5g} q3={q3:.5g} "
                  f"spread={(q3 - q1) / med:.4f} bound={bounds[m]}", flush=True)
        print(f"{w} run seconds: median={statistics.median(elapsed):.1f} "
              f"max={max(elapsed):.1f}", flush=True)


if __name__ == "__main__":
    main()
