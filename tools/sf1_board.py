#!/usr/bin/env python3
"""Recurring sf1 mini-board (r15, r14 verdict #6): re-probe the
top-N-by-cost rows of the previous round's archived board at sf1 every
round, so a serving-class scaling regression in a CARRIED row is caught
automatically instead of only when suspicion arises.

Reads the archive, picks the top-N costliest queries (skipping rows
whose sf1 growth is OUTPUT-bound by construction on the shifted corpus
— the documented exclusions below), and invokes
`sbt "Test/runMain graft.Sf1Probe names:..."`. Tee the output to
test_archive/sf1_board_r{N}.txt and compare round-over-round in SURVEY
with the sentinel convention (fn_safe_cast / fn_datediff /
src_csv_roundtrip are always appended as the drift basis).

r17 (r16 verdict #2): Sf1Probe itself auto-annotates any row whose
sf1/sf0.1 ratio exceeds 5x with its measured OUTPUT row counts at both
scales, so a pair-output row that debuts on the board carries its
output-bound adjudication in the same artifact (the
dd_containment_join precedent — 6.7x in r16 with no archived counts).

Usage: tools/sf1_board.py bench_archive/bench_r14.json [N]
"""
import json
import subprocess
import sys

# rows whose sf1 number measures their OUTPUT growth or a correctness
# construction, not the operator (curated in Sf1Probe's scaladoc):
#  - *_novelty_collapse semantic arm is deliberately single-cell (the
#    oracle construction) — its within-cell quadratic is the documented
#    worst case, not the production shape
#  - jw/allpairs expanded forms square clique sizes on the duplicated
#    corpus by construction (the _reps forms are the scale path and are
#    probed instead when they make the cut)
EXCLUDE = {"dd_semantic_novelty_collapse",
           # measured r15: 57x/71x on the shifted corpus — output-bound
           # by construction (each text/name repeats 10x, pair output
           # grows ~100x); the _reps siblings are the scale path and
           # make the cut on their own cost
           "dd_allpairs_join", "op_jw_cross", "op_jw_join",
           "dd_tfidf_pairs",
           # measured r16 (test_archive/sf1_board_r16.txt tail): the
           # pair-output forms first made the cut this round at
           # 32.8x/30.3x — output counts (test_archive/apcount_r17.txt):
           # 791k -> 79.2M (100.1x) and 1.17M -> 117.2M (100.2x) pairs
           # on the 10x-duplicated corpus, sub-linear per output row;
           # the _reps siblings are the scale path
           "dd_allpairs", "dd_containment",
           # measured r17 (test_archive/apcount_r17.txt + the r17
           # board's auto-annotation): the cross-corpus form grows
           # 100.0x in output (227,628 -> 22,762,800 pairs) on the
           # 10x-duplicated corpus while running 6.8x = 0.068x per
           # output row — output-bound like its siblings; the _reps
           # form is the scale path
           "dd_containment_join",
           # measured r16 (test_archive/range_join_probe_r16.txt): the
           # shifted corpus grows windows AND points 10x on one time
           # axis, so intersections grow exactly 100.0x (6.1M -> 612.7M
           # pre-agg pairs) while the join runs 4.3x = 0.04x per output
           # row — output-bound by construction
           "op_range_join"}

SENTINELS = ["fn_safe_cast", "fn_datediff", "src_csv_roundtrip"]


def main(archive: str, n: int = 25) -> None:
    board = json.load(open(archive))["queries"]
    top = [k for k, _ in sorted(board.items(), key=lambda kv: -kv[1])
           if k not in EXCLUDE][:n]
    names = top + [s for s in SENTINELS if s not in top]
    print(f"[sf1-board] probing {len(names)} rows: {','.join(names)}",
          flush=True)
    subprocess.run(
        ["sbt", "-batch", f"Test/runMain graft.Sf1Probe names:{','.join(names)}"],
        check=True)


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 25)
