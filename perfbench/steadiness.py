#!/usr/bin/env python3
"""Runs one workload repeatedly and reports how much each metric moves.

    python3 perfbench/steadiness.py --workload ingest --runs 10 [--first-seed 1]

Run from the checkout root. Each run uses the next seed. For every metric
the report gives the median, the quartiles (Python's
statistics.quantiles(n=4)), the interquartile spread as a share of the
median, the max/min spread, and the metric's bound from BENCHMARK.json.
A later change whose effect on a metric is smaller than that metric's
spread cannot be told apart from run-to-run noise: report it as
unresolved, not as unchanged.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()

    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {}
    for seed in range(a.first_seed, a.first_seed + a.runs):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            sys.exit(f"seed {seed}: exit {r.returncode}")
        res = json.loads(lines[-1])
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"\n{a.workload}: {a.runs} runs, seeds {a.first_seed}..{a.first_seed + a.runs - 1}")
    print(f"{'metric':34s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'iqr/med':>8s} "
          f"{'max/min':>8s} {'bound':>6s}")
    for k, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], 0, xs[0])
        iqr = (q3 - q1) / med if med else float("nan")
        mm = max(xs) / min(xs) - 1 if min(xs) > 0 else float("nan")
        b = bounds.get(k)
        print(f"{k:34s} {med:12.4f} {q1:12.4f} {q3:12.4f} {iqr:8.3f} {mm:8.3f} "
              f"{'' if b is None else b:>6}")


if __name__ == "__main__":
    main()
