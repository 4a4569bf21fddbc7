#!/usr/bin/env python3
"""Paired base/head comparison of the end-to-end metrics.

    python3 perfbench/compare.py --base ../base-checkout --head .

For every workload of BENCHMARK.json, pair k runs both checkouts on seed k
(the same inputs), alternating which side goes first, for ten pairs. Each
side runs its own perfbench/run.py; the two perfbench directories should
be identical (a change that claims a gain does not edit the benchmark), and
a warning is printed when they are not.

A run fails when it exits non-zero, prints no result or reports a failed
operation or check. Failed runs are counted per side. For every end-to-end
metric it reports each side's median and quartiles over its good runs, the
share of the ten pairs the head wins (a pair whose head run failed is a
loss, a pair whose base run failed is no win) and a verdict:

  worse       the head has more failed runs than the base, or its median
              is worse than the base median by more than the bound
  unresolved  the base had a failed run, or the base's quartile spread
              exceeds the bound and not every head run beats every base run
  better      head wins at least 9 of 10 pairs and the medians differ by
              more than the base's own quartile spread
  same        none of the above: within the bound

The bounded metrics are CPU time, which does not see latency that burns no
CPU (a stage run serially, a blocking wait). So the wall latency of the op,
`op_p50_s` of the run record, is judged the same way with the op_cpu_s
bound, and a line is flagged when it is judged worse while op_cpu_s is not.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys

PAIRS = 10
WIN_SHARE = 0.9
WALL = {"name": "op_p50_s", "better": "lower", "from": "op_cpu_s"}


def tree_hash(root):
    h = hashlib.sha256()
    base = os.path.join(root, "perfbench")
    for d, _, files in sorted(os.walk(base)):
        if "__pycache__" in d:
            continue
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, base).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_side(root, workload, seed):
    """Metric values of one good run (end-to-end metrics plus the record's
    op_p50_s), or None when the run failed."""
    r = subprocess.run([sys.executable, os.path.join(root, "perfbench",
                                                     "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--trace", "0"],
                       cwd=root, stdout=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        return None
    info, res = json.loads(lines[-2]), json.loads(lines[-1])
    if not res["correct"] or res["failed"]:
        return None
    values = {k: v["value"] for k, v in res["metrics"].items()}
    values[WALL["name"]] = info.get("op_p50_s")
    return values


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def judge(name, lower, bound, runs):
    """runs: [{"base": values or None, "head": values or None}]."""
    def val(side):
        return [r[side][name] for r in runs
                if r[side] and r[side].get(name) is not None]
    base, head = val("base"), val("head")
    bad_base = len(runs) - len(base)
    bad_head = len(runs) - len(head)
    out = {"metric": name, "bound": bound, "base_failed": bad_base,
           "head_failed": bad_head}
    if not base or not head:
        out["verdict"] = "worse" if bad_head > bad_base else "unresolved"
        return out
    bq1, bmed, bq3 = quartiles(base)
    hq1, hmed, hq3 = quartiles(head)

    def wins(r):
        if not (r["head"] and r["base"]):
            return False
        b, h = r["base"][name], r["head"][name]
        return (h < b) if lower else (h > b)
    won = sum(map(wins, runs))
    spread = (bq3 - bq1) / bmed if bmed else float("inf")
    worse_by = ((hmed - bmed) if lower else (bmed - hmed)) / bmed
    all_better = (max(head) < min(base)) if lower else (min(head) > max(base))
    if bad_head > bad_base or worse_by > bound:
        verdict = "worse"
    elif bad_base or (spread > bound and not all_better):
        verdict = "unresolved"
    elif won >= WIN_SHARE * len(runs) and abs(hmed - bmed) > (bq3 - bq1):
        verdict = "better"
    else:
        verdict = "same"
    out.update(base=[bq1, bmed, bq3], head=[hq1, hmed, hq3],
               head_wins="%d/%d" % (won, len(runs)),
               change=(hmed - bmed) / bmed if bmed else None,
               base_spread=spread, verdict=verdict)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True)
    ap.add_argument("--head", default=".")
    a = ap.parse_args()
    base, head = os.path.abspath(a.base), os.path.abspath(a.head)
    if tree_hash(base) != tree_hash(head):
        print("warning: base and head perfbench/ differ; the comparison "
              "is not like for like", file=sys.stderr)
    with open(os.path.join(head, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in [x["name"] for x in bench["workloads"]]:
        runs = []
        for k in range(PAIRS):
            seed = 1000 + k
            order = [("base", base), ("head", head)]
            if k % 2:
                order.reverse()
            got = {side: run_side(root, w, seed) for side, root in order}
            runs.append(got)
            print("%s pair %d (seed %d, %s first): %s" % (
                w, k, seed, order[0][0], json.dumps(got)), file=sys.stderr)
        print("== %s: %d pairs, failed runs: base %d, head %d" % (
            w, len(runs), sum(not r["base"] for r in runs),
            sum(not r["head"] for r in runs)))
        verdicts = {}
        for m in bench["end_to_end"]:
            j = judge(m["name"], m["better"] == "lower", m["bound"], runs)
            verdicts[m["name"]] = j["verdict"]
            print(json.dumps(j))
        j = judge(WALL["name"], True, bounds[WALL["from"]], runs)
        j["bounded"] = False
        if j["verdict"] == "worse" and verdicts.get(WALL["from"]) != "worse":
            j["flag"] = "wall latency worse while %s is %s" % (
                WALL["from"], verdicts.get(WALL["from"]))
        print(json.dumps(j))


if __name__ == "__main__":
    main()
