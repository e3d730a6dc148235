#!/usr/bin/env python3
"""Per-call job table of a perfbench trace: where a call's wall time sits
relative to the Spark jobs it ran.

    python3 tools/call_jobs.py TRACE
    python3 tools/call_jobs.py --diff A B
    python3 tools/call_jobs.py --all TRACE        # warm-up calls too

TRACE, A and B are a traced run's `spans.jsonl` or the directory holding
it (`perfbench/run.py --trace 1` writes
`.bench_build/perfbench/trace/<workload>-s<seed>/spans.jsonl`).

For each call name (medians over the measured calls of that name) it
prints the wall time, the number of jobs and stages the call ran, the
union of its job intervals, and the wall time outside that union: the
out-of-job time (driver planning, waits, the layer's own code). A job
belongs to the call its span descends from (directly, or through a
streaming micro-batch span). The last row sums the per-call medians.

`--diff A B` prints each name's A and B figures side by side, with the
B - A difference of wall, jobs and out-of-job time.
"""
import argparse
import json
import os
import statistics
import sys


def load(path):
    if os.path.isdir(path):
        path = os.path.join(path, "spans.jsonl")
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def union_us(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def per_call(spans, include_warm):
    """{call name: [(wall_ms, jobs, stages, in_jobs_ms, out_ms), ...]}"""
    by_id = {s["id"]: s for s in spans}

    def owner(span):
        while span is not None and span["kind"] != "call":
            span = by_id.get(span["parent"])
        return span

    calls = {s["id"]: s for s in spans
             if s["kind"] == "call" and (include_warm or s.get("measured"))}
    jobs = {cid: [] for cid in calls}
    stages = {cid: 0 for cid in calls}
    for s in spans:
        if s["kind"] not in ("job", "stage"):
            continue
        c = owner(s)
        if c is None or c["id"] not in calls:
            continue
        if s["kind"] == "job":
            jobs[c["id"]].append((s["start_us"], s["end_us"]))
        else:
            stages[c["id"]] += 1
    out = {}
    for cid, c in sorted(calls.items(), key=lambda kv: kv[1]["start_us"]):
        wall = c["end_us"] - c["start_us"]
        # a job can outlive its call (an async broadcast): clip to the call
        clipped = [(max(s, c["start_us"]), min(e, c["end_us"])) for s, e in jobs[cid]]
        in_jobs = union_us([iv for iv in clipped if iv[1] > iv[0]])
        out.setdefault(c["name"], []).append(
            (wall / 1000.0, len(jobs[cid]), stages[cid], in_jobs / 1000.0, (wall - in_jobs) / 1000.0))
    return out


def medians(rows):
    return tuple(statistics.median(r[i] for r in rows) for i in range(5))


def table(path, include_warm):
    return {n: medians(rows) for n, rows in per_call(load(path), include_warm).items()}


def fmt(x):
    return f"{x:.0f}" if abs(x - round(x)) < 1e-9 else f"{x:.1f}"


def show(t):
    head = ["call", "wall_ms", "jobs", "stages", "in_jobs_ms", "out_of_job_ms"]
    rows = [[n] + [fmt(v) for v in vals] for n, vals in t.items()]
    rows.append(["total"] + [fmt(sum(vals[i] for vals in t.values())) for i in range(5)])
    print_rows(head, rows)


def show_diff(a, b):
    head = ["call", "wall_ms A", "wall_ms B", "jobs A", "jobs B", "stages A", "stages B",
            "out_of_job_ms A", "out_of_job_ms B", "d wall", "d jobs", "d out_of_job"]
    names = list(a) + [n for n in b if n not in a]
    rows, tot = [], [0.0] * 11
    for n in names:
        va, vb = a.get(n), b.get(n)
        if va is None or vb is None:
            rows.append([n, "only in " + ("B" if va is None else "A")] + [""] * 10)
            continue
        vals = [va[0], vb[0], va[1], vb[1], va[2], vb[2], va[4], vb[4],
                vb[0] - va[0], vb[1] - va[1], vb[4] - va[4]]
        tot = [t + v for t, v in zip(tot, vals)]
        rows.append([n] + [fmt(v) for v in vals])
    rows.append(["total"] + [fmt(v) for v in tot])
    print_rows(head, rows)


def print_rows(head, rows):
    w = [max(len(str(r[i])) for r in [head] + rows) for i in range(len(head))]
    for r in [head] + rows:
        print("  ".join(str(c).ljust(w[0]) if i == 0 else str(c).rjust(w[i])
                        for i, c in enumerate(r)))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--diff", nargs=2, metavar=("A", "B"), help="compare two traces call by call")
    ap.add_argument("--all", action="store_true", help="include unmeasured (warm-up) calls")
    ap.add_argument("trace", nargs="?", help="spans.jsonl or its directory")
    a = ap.parse_args()
    if a.diff:
        show_diff(table(a.diff[0], a.all), table(a.diff[1], a.all))
    elif a.trace:
        show(table(a.trace, a.all))
    else:
        ap.error("give a trace, or --diff A B")


if __name__ == "__main__":
    sys.exit(main())
