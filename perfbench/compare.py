#!/usr/bin/env python3
"""Compare two sets of benchmark records, or traced against untraced.

    python3 perfbench/compare.py BEFORE AFTER
    python3 perfbench/compare.py --overhead RECORDS

BEFORE, AFTER and RECORDS are record files or directories of them
(run.py writes one per run under .bench_build/perfbench/records/).

Two-set mode prints, per workload and end-to-end metric, each side's
median and quartiles and a verdict:

  improved     AFTER beats BEFORE on at least 9 in 10 seed-paired runs
               (the i-th run of a seed on each side; ties count for
               neither) and the medians differ by more than BEFORE's
               interquartile range;
  worse        AFTER's median is worse than BEFORE's by more than the
               metric's bound in BENCHMARK.json;
  within       neither, and BEFORE's spread is within the bound;
  unresolved   neither, and BEFORE's spread is wider than the bound.

It then flags any change in the per-call plan-shape counts of traced
records (driver.stages, driver.tasks, io.shuffle_read_bytes,
io.shuffle_write_bytes), which are exact and so show a plan change that
timing noise hides.

Overhead mode prints, per workload and end-to-end metric, the median of
traced runs minus the median of untraced runs.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SHAPE = ["driver.stages", "driver.tasks", "io.shuffle_read_bytes", "io.shuffle_write_bytes"]


def load(paths):
    recs = []
    for p in paths:
        files = sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]
        for f in files:
            with open(f) as fh:
                recs.append(json.load(fh))
    return recs


def spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return {m["name"]: m for m in json.load(f)["end_to_end"]}


def quart(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def pairs_by_seed(before, after):
    """Pair the i-th run of each seed in BEFORE with the i-th run of the
    same seed in AFTER. before/after: [(seed, value)] in load order."""
    def by_seed(runs):
        out = {}
        for seed, v in runs:
            out.setdefault(seed, []).append(v)
        return out
    b, a = by_seed(before), by_seed(after)
    return [p for s in b if s in a for p in zip(b[s], a[s])]


def verdict(before, after, lower_better, bound):
    """before/after: [(seed, value)], one entry per run. Returns one of
    the four verdicts."""
    b, a = [v for _, v in before], [v for _, v in after]
    b1, bm, b3 = quart(b)
    am = statistics.median(a)
    sign = -1 if lower_better else 1
    pairs = pairs_by_seed(before, after)
    wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
    if pairs and wins >= 0.9 * len(pairs) and abs(am - bm) > (b3 - b1):
        return "improved"
    if sign * (am - bm) < 0 and abs(am - bm) > bound * abs(bm):
        return "worse"
    return "within" if (b3 - b1) <= bound * abs(bm) else "unresolved"


def by_workload(recs, trace):
    out = {}
    for r in recs:
        if r["trace"] == trace:
            out.setdefault(r["workload"], []).append(r)
    return out


def two_sets(before, after):
    metrics = spec()
    bw, aw = by_workload(before, 0), by_workload(after, 0)
    print(f"{'workload':<16} {'metric':<20} {'before q1/med/q3':>30} {'after q1/med/q3':>30}  verdict")
    for w in sorted(set(bw) & set(aw)):
        for name, m in metrics.items():
            b = [(r["seed"], r["metrics"][name]) for r in bw[w] if name in r["metrics"]]
            a = [(r["seed"], r["metrics"][name]) for r in aw[w] if name in r["metrics"]]
            if not b or not a:
                continue
            fb = "/".join(f"{x:.4g}" for x in quart([v for _, v in b]))
            fa = "/".join(f"{x:.4g}" for x in quart([v for _, v in a]))
            v = verdict(b, a, m["better"] == "lower", m["bound"])
            n = len(pairs_by_seed(b, a))
            print(f"{w:<16} {name:<20} {fb:>30} {fa:>30}  {v}"
                  f"  (runs {len(b)}/{len(a)}, seed pairs {n})")
    bt, at = by_workload(before, 1), by_workload(after, 1)
    flagged = False
    for w in sorted(set(bt) & set(at)):
        for k in SHAPE:
            b = statistics.median(r["per_layer"][k] for r in bt[w])
            a = statistics.median(r["per_layer"][k] for r in at[w])
            if b != a:
                flagged = True
                print(f"PLAN SHAPE {w}: {k} per call {b:.6g} -> {a:.6g}")
    if bt and at and not flagged:
        print("plan shape: per-call stages, tasks and shuffle bytes unchanged")


def overhead(recs):
    metrics = spec()
    un, tr = by_workload(recs, 0), by_workload(recs, 1)
    print(f"{'workload':<16} {'metric':<20} {'untraced':>12} {'traced':>12} {'traced-untraced':>16}")
    for w in sorted(set(un) & set(tr)):
        for name in metrics:
            u = statistics.median(r["metrics"][name] for r in un[w])
            t = statistics.median(r["metrics"][name] for r in tr[w])
            print(f"{w:<16} {name:<20} {u:>12.5g} {t:>12.5g} {t - u:>+16.5g}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("paths", nargs="+")
    a = ap.parse_args()
    if a.overhead:
        overhead(load(a.paths))
    elif len(a.paths) == 2:
        two_sets(load([a.paths[0]]), load([a.paths[1]]))
    else:
        sys.exit("give BEFORE and AFTER, or --overhead RECORDS")


if __name__ == "__main__":
    main()
