#!/usr/bin/env python3
"""Summarize the spans of one traced run, or diff two traced runs.

    python3 perfbench/trace_summary.py .bench_out/<run>          # one run
    python3 perfbench/trace_summary.py .bench_out/<a> .bench_out/<b>  # b - a

A run directory holds spans.jsonl (written by `run.py --trace 1`). Per span
name the summary gives the instance count, busy time, self time (the span's
duration minus the time its child spans cover) and the span's own Spark
counters: jobs, stages, tasks, executor CPU, shuffle read+write, bytes
written, Catalyst plan time. Compiles and checkpoints are inclusive deltas
(read on the calling thread around the span). The diff prints b - a for the
same columns, largest self-time change first, so a change can show which
layer its saving sits in.
"""
import collections
import json
import os
import sys

COLS = ("n", "busy_s", "self_s", "jobs", "stages", "tasks", "cpu_s",
        "shuffle_mb", "written_mb", "plan_ms", "compiles", "checkpoints")


def load(path):
    if os.path.isdir(path):
        path = os.path.join(path, "spans.jsonl")
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def covered(intervals):
    """Total length of the union of [start, end) intervals."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def summarize(spans):
    kids = collections.defaultdict(list)
    for s in spans:
        kids[s["parent"]].append((int(s["start_ns"]), int(s["end_ns"])))
    mb = 1024.0 * 1024.0
    out = collections.defaultdict(lambda: dict.fromkeys(COLS, 0.0))
    for s in spans:
        dur = int(s["end_ns"]) - int(s["start_ns"])
        row = out[s["name"]]
        row["n"] += 1
        row["busy_s"] += dur / 1e9
        row["self_s"] += (dur - covered(kids.get(s["id"], []))) / 1e9
        row["jobs"] += int(s["jobs"])
        row["stages"] += int(s["stages"])
        row["tasks"] += int(s["tasks"])
        row["cpu_s"] += int(s["cpu_ns"]) / 1e9
        row["shuffle_mb"] += int(s["shuffle_bytes"]) / mb
        row["written_mb"] += int(s["written_bytes"]) / mb
        row["plan_ms"] += int(s["plan_ms"])
        row["compiles"] += int(s["compiles_incl"])
        row["checkpoints"] += int(s["checkpoints_incl"])
    return out


def table(rows, order):
    print("%-30s" % "span" + "".join("%12s" % c for c in COLS))
    for name in order:
        r = rows[name]
        print("%-30s" % name + "".join(
            "%12d" % r[c] if c in ("n", "jobs", "stages", "tasks", "compiles",
                                   "checkpoints", "plan_ms")
            else "%12.3f" % r[c] for c in COLS))


def main(argv):
    if len(argv) not in (2, 3):
        raise SystemExit(__doc__)
    a = summarize(load(argv[1]))
    if len(argv) == 2:
        table(a, sorted(a, key=lambda k: -a[k]["self_s"]))
        return
    b = summarize(load(argv[2]))
    zero = dict.fromkeys(COLS, 0.0)
    diff = {k: {c: b.get(k, zero)[c] - a.get(k, zero)[c] for c in COLS}
            for k in set(a) | set(b)}
    print("b - a, where a = %s and b = %s" % (argv[1], argv[2]))
    table(diff, sorted(diff, key=lambda k: -abs(diff[k]["self_s"])))


if __name__ == "__main__":
    main(sys.argv)
