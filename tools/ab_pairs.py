#!/usr/bin/env python3
"""Interleaved A/B pairs of perfbench runs: a base revision against a change.

    python3 tools/ab_pairs.py --base <rev> --workload service,ingest --seeds 101-110

The base revision is exported with `git archive` into --work; the change
is the working tree of this checkout (or --head <rev>, exported the same
way). Each side is built once, into its own CARGO_TARGET_DIR, before any
run. Then, for each workload of the comma-separated --workload in turn,
pair i runs `perfbench/run.py --workload W --seed s_i --seconds 15
--trace 0` on both sides, base first on even pairs and the change first
on odd ones, so host drift falls on both sides alike.

For every end-to-end metric of BENCHMARK.json and every workload it
prints each side's median and quartiles, the change's wins (pairs where
it is better in the metric's direction) and two verdicts. The gain rule
holds when the change wins at least 9 pairs in 10 (the same share for
other pair counts) and its median is better than the base's by more than
the base's interquartile range. The worse rule is the same rule the other
way round: the change loses at least 9 pairs in 10 and its median is
worse by more than the base's interquartile range. Next to them it prints
the reject rule: the change/base ratio of the medians and the metric's
`bound` from BENCHMARK.json, `beyond` when the change's median is worse
than the base's by more than that fraction, else `within`. Every run's
metrics go to --out as JSON.

One run takes about 45 s on a 4-core host and a build about 100 s, so 10
pairs of one workload take about 17 minutes.
"""
import argparse
import importlib.util
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the benchmark's fixed run length; both sides of a pair must share it
SECONDS = "15"


def export(rev, dest):
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", ROOT, "archive", rev], check=True,
                             stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    return dest


def build(root, target):
    """Builds one side with its own perfbench/run.py into `target`."""
    spec = importlib.util.spec_from_file_location(
        f"perfbench_run_{abs(hash(root))}", os.path.join(root, "perfbench", "run.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    os.environ["CARGO_TARGET_DIR"] = target
    try:
        mod.build(root, mod.spark_jars())
    finally:
        del os.environ["CARGO_TARGET_DIR"]


def run(root, target, workload, seed):
    env = dict(os.environ, CARGO_TARGET_DIR=target)
    t = time.monotonic()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", SECONDS, "--trace", "0"],
                       cwd=root, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    wall = time.monotonic() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return {"seed": seed, "wall_s": wall, "error": f"exit {p.returncode}"}
    out = json.loads(lines[-1])
    return {"seed": seed, "wall_s": wall, "correct": out["correct"],
            "metrics": {k: v["value"] for k, v in out["metrics"].items()}}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def seeds_of(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def report(pairs, metrics):
    """Per metric: both sides' quartiles, the change's wins and losses, and
    the gain and worse verdicts."""
    n = len(pairs)
    need = math.ceil(0.9 * n)
    print(f"{'metric':16s} {'base q1/med/q3':>28s} {'change q1/med/q3':>28s} "
          f"{'wins':>6s} {'losses':>6s}  {'ratio':>6s} {'bound':>5s}         gain / worse")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        ok = [(b["metrics"][name], h["metrics"][name]) for b, h in pairs
              if "metrics" in b and "metrics" in h]
        if not ok:
            continue
        bs, hs = [b for b, _ in ok], [h for _, h in ok]
        wins = sum(1 for b, h in ok if (h < b if lower else h > b))
        losses = sum(1 for b, h in ok if (h > b if lower else h < b))
        bq, hq = quartiles(bs), quartiles(hs)
        iqr = bq[2] - bq[0]
        gap = (bq[1] - hq[1]) if lower else (hq[1] - bq[1])
        gain = len(ok) == n and wins >= need and gap > iqr
        worse = len(ok) == n and losses >= need and -gap > iqr
        # the reject rule: the change's median worse than the base's by
        # more than the metric's bound, as a fraction of the base median
        ratio = hq[1] / bq[1] if bq[1] else float("nan")
        worse_frac = -gap / abs(bq[1]) if bq[1] else float("nan")
        bound = m["bound"]
        # (a nan ratio, from a zero base median, counts as beyond)
        verdict = "within" if worse_frac <= bound else "beyond"
        print(f"{name:16s} {bq[0]:9.4g}/{bq[1]:8.4g}/{bq[2]:9.4g} "
              f"{hq[0]:9.4g}/{hq[1]:8.4g}/{hq[2]:9.4g} {wins:3d}/{len(ok):<2d} "
              f"{losses:3d}/{len(ok):<2d}  {ratio:6.3f} {bound:5.3g} {verdict:6s}  "
              f"{'GAIN' if gain else 'no'} / "
              f"{'WORSE' if worse else 'no'} (gap {gap:.4g}, base IQR {iqr:.4g})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True, help="git revision of the base side")
    ap.add_argument("--head", default="", help="git revision of the change "
                    "(default: this working tree)")
    ap.add_argument("--workload", required=True,
                    help="one workload or several, comma-separated: service,ingest,curate")
    ap.add_argument("--seeds", required=True, help="e.g. 101-110 or 3,4,5: one pair each")
    ap.add_argument("--work", default=os.path.join(ROOT, ".ab_work"),
                    help="exported trees and builds go here")
    ap.add_argument("--out", help="JSON file for every run's metrics")
    a = ap.parse_args()

    os.makedirs(a.work, exist_ok=True)
    base = export(a.base, os.path.join(a.work, "base"))
    head = export(a.head, os.path.join(a.work, "head")) if a.head else ROOT
    sides = {"base": (base, os.path.join(a.work, "base-build")),
             "change": (head, os.path.join(a.work, "head-build"))}
    for root, target in sides.values():
        build(root, target)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]
    pairs = {}
    for workload in a.workload.split(","):
        done = pairs[workload] = []
        for i, seed in enumerate(seeds_of(a.seeds)):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            got = {s: run(*sides[s], workload, seed) for s in order}
            done.append((got["base"], got["change"]))
            for s in ("base", "change"):
                r = got[s]
                vals = " ".join(f"{k}={v:.4g}" for k, v in r.get("metrics", {}).items())
                print(f"{workload} pair {i} seed {seed} {s:6s} wall {r['wall_s']:.0f}s "
                      f"{r.get('error', '')}{vals}", flush=True)
            if a.out:
                with open(a.out, "w") as fh:
                    json.dump({"base": a.base, "head": a.head or "worktree", "workloads": {
                        w: [{"base": b, "change": h} for b, h in ps]
                        for w, ps in pairs.items()}}, fh, indent=1)
    for workload, done in pairs.items():
        print(f"\n{workload}: {len(done)} pairs")
        report(done, metrics)


if __name__ == "__main__":
    main()
