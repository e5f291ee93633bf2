#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's metrics.

Usage:
  python3 connbench/spread.py [--runs 10] [--first-seed 1] [--trace 0] [workload ...]

Runs connbench/run.py once per seed (first-seed, first-seed+1, ...) on
each workload (all of them by default) and prints, per metric, the
median and the spread: the distance between the first and the third
quartile, as statistics.quantiles(values, n=4) gives them, as a share of
the median. The spread is shown against the metric's bound in
BENCHMARK.json. Raw results go to .bench_build/spread-<workload>.json.
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
sys.path.insert(0, HERE)
import run  # noqa: E402


def main():
    p = argparse.ArgumentParser()
    p.add_argument("workloads", nargs="*", default=run.WORKLOADS)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in a.workloads:
        results, walls = [], []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                 "--trace", str(a.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            walls.append(time.time() - t0)
            if out.returncode != 0:
                print(f"{w} seed {seed}: exit {out.returncode}")
                continue
            results.append(json.loads(out.stdout.strip().splitlines()[-1]))
        with open(os.path.join(run.BUILD, f"spread-{w}.json"), "w") as fh:
            json.dump({"results": results, "wall_s": walls}, fh)
        bad = sum(not r["correct"] for r in results)
        print(f"== {w}: {len(results)} runs, {bad} incorrect, "
              f"wall per run {statistics.median(walls):.1f} s (max {max(walls):.1f})")
        for name in sorted(results[0]["metrics"]) if results else []:
            vals = [r["metrics"][name]["value"] for r in results]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
            spread = (q[2] - q[0]) / med if med else float("nan")
            bound = bounds.get(name)
            flag = "" if bound is None else f"bound {bound}  {'ok' if spread < bound / 3 else 'WIDE'}"
            print(f"  {name:40s} median {med:14.4f}  spread {spread:7.4f}  {flag}")


if __name__ == "__main__":
    main()
