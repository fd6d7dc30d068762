#!/usr/bin/env python3
"""Where a warm benchmark op's wall time goes, in time order.

    python3 tools/op_timeline.py perfbench/out/<run record>.json

Reads a run record written by a traced perfbench run (`--trace 1`) and, for
each op kind, prints the median split of its warm ops (passes after the
first) into consecutive segments:

  build          op start to the end of its last `queries.build` span that
                 ends before the first job (the DataFrame build, with any
                 analysis it runs eagerly; an op whose first job starts
                 inside a build span, as a registry replay's does, counts
                 that build in `plan -> job 1`)
  planning       analysis, optimization and planning phases that start after
                 the build and before the first job (their union)
  plan -> job 1  the rest of the time from the build to the first job
  job i          job i's start to end, with the rows its tasks read
  job i -> i+1   the gap between two jobs
  tail           the last job's end to the op's end (result return, checks)

An op without jobs is all build, planning and tail. Segment i of a kind is
the median over the ops of that kind that have it, so the segments of a
kind with a varying job count need not sum to its median wall time; the
op count behind each line is printed beside it. Nothing is written.
"""

import argparse
import json
import statistics
import sys
from collections import defaultdict


def union_ms(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
        elif b > end:
            total += b - end
        end = max(end, b)
    return total


def op_segments(op, builds, phases, jobs, rows):
    """[(segment name, ms, rows or None)] for one op, in time order."""
    start, end = op["start_ms"], op["end_ms"]
    first_job = jobs[0]["start"] if jobs else end
    built = max((b for _, b in builds if b <= first_job), default=start)
    planning = union_ms(phases, built, first_job)
    segs = [("build", built - start, None), ("planning", planning, None)]
    if not jobs:
        return segs + [("tail", max(0.0, end - built - planning), None)]
    segs.append(("plan -> job 1", max(0.0, first_job - built - planning), None))
    for i, j in enumerate(jobs, 1):
        if i > 1:
            segs.append((f"job {i - 1} -> {i}", max(0.0, j["start"] - jobs[i - 2]["end"]), None))
        segs.append((f"job {i}", j["end"] - j["start"], rows.get(j["id"], 0)))
    segs.append(("tail", max(0.0, end - jobs[-1]["end"]), None))
    return segs


def timelines(rec):
    """{op kind: (warm op count, median wall ms, [(segment, median ms, ops, median rows)])}."""
    spark = rec.get("spark") or {}
    if not spark.get("jobs") and not spark.get("planning"):
        sys.exit("this run record has no Spark events: record it with --trace 1")
    ops = rec["ops"]

    def op_at(t):
        return next((o["id"] for o in ops if o["start_ms"] <= t <= o["end_ms"]), -1)

    jobs = defaultdict(list)
    stage_job = {}
    for jid, op, start, end, stages in spark["jobs"]:
        op = op if op >= 0 else op_at(start)
        jobs[op].append({"id": jid, "start": start, "end": end if end is not None else start})
        stage_job.update((s, jid) for s in stages)
    rows = defaultdict(int)
    for t in spark["tasks"]:
        if t[0] in stage_job:
            rows[stage_job[t[0]]] += t[8]
    phases = defaultdict(list)
    for _, start, end in spark["planning"]:
        phases[op_at(start)].append((start, end))
    builds = defaultdict(list)
    for _, name, _, op, start, end in rec["spans"]:
        if name == "queries.build":
            builds[op].append((start, end))

    by_kind = defaultdict(list)
    for o in ops:
        if o["pass"] >= 1:
            segs = op_segments(o, builds[o["id"]], phases[o["id"]],
                               sorted(jobs[o["id"]], key=lambda j: j["start"]), rows)
            by_kind[o["kind"]].append((o["end_ms"] - o["start_ms"], segs))

    out = {}
    for kind, samples in sorted(by_kind.items()):
        order, values = [], defaultdict(list)
        for _, segs in samples:
            for name, ms, n in segs:
                if name not in values:
                    order.append(name)
                values[name].append((ms, n))
        pos = {name: i for i, name in enumerate(order)}
        order.sort(key=lambda name: (name == "tail", pos[name]))
        lines = []
        for name in order:
            vs = values[name]
            n_rows = [n for _, n in vs if n is not None]
            lines.append((name, statistics.median(ms for ms, _ in vs), len(vs),
                          statistics.median(n_rows) if n_rows else None))
        out[kind] = (len(samples), statistics.median(w for w, _ in samples), lines)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("record", help="a perfbench run record (perfbench/out/*.json) from a --trace 1 run")
    args = ap.parse_args()
    with open(args.record) as f:
        rec = json.load(f)
    print(f"{rec['workload']} seed {rec['seed']}: median split of a warm op, ms")
    for kind, (n, wall, lines) in timelines(rec).items():
        print(f"\n{kind}: {n} warm ops, median wall {wall:.1f} ms")
        for name, ms, count, n_rows in lines:
            extra = f"  rows read {n_rows:,.0f}" if n_rows is not None else ""
            print(f"  {name:<16} {ms:8.1f}  ({count} ops){extra}")


if __name__ == "__main__":
    main()
