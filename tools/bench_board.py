#!/usr/bin/env python3
"""Recompute the SURVEY close-section board numbers from archived bench
artifacts — run at round close and paste ONLY these numbers into the
SURVEY board paragraph (the r11/r12 verdicts both flagged hand-quoted
numbers that did not match the archived artifact; this makes every
quoted figure a copy of a recomputation).

Usage: tools/bench_board.py bench_archive/bench_r13.json \
           bench_archive/bench_r12.json
"""
import json
import sys

# r16 (r15 verdict #4): every query is tagged with the drift class of
# its dominant cost so the regression list below can be normalized by
# the MATCHING frozen sentinel instead of compared raw — the
# dd_key_novelty_grow dispute (elevated on raw ratio, explained by
# codegen-class JIT variance) becomes mechanical. Classes:
#   map     — scan + narrow projection; normalized by the map-only
#             sentinel mean (fn_safe_cast / fn_datediff / src_csv)
#   shuffle — exchange-dominated (joins/aggs/writes); sentinel_shuffle
#   codegen — large generated-code rows (expression-heavy dedup/text/
#             media/vector families and multi-job ingest loops) whose
#             JIT warmth spreads ±30%; sentinel_codegen
# Prefix rules with explicit overrides — a new query gets a class the
# moment it's named, no per-round curation.
PREFIX_CLASS = [
    ("fn_", "map"),
    ("ta_", "codegen"), ("dd_", "codegen"), ("sim_", "codegen"),
    ("mm_", "codegen"),
    ("ev_", "shuffle"), ("mat_", "shuffle"), ("cat_", "shuffle"),
    ("src_", "shuffle"), ("se_", "shuffle"), ("snapshot_", "shuffle"),
    ("inc_", "shuffle"), ("ddl_", "shuffle"), ("q", "shuffle"),
    ("op_", "shuffle"),
]
CLASS_OVERRIDES = {
    # string-similarity joins are generated-code bound, not exchange
    "op_jw_join": "codegen", "op_jw_cross": "codegen",
    "op_jw_reps": "codegen", "op_editdist_join": "codegen",
    # simple single-scan rows that behave like the map sentinels
    "src_csv_roundtrip": "map", "src_json_roundtrip": "map",
    "src_orc_roundtrip": "map",
}


def query_class(name: str) -> str:
    if name in CLASS_OVERRIDES:
        return CLASS_OVERRIDES[name]
    for pfx, cls in PREFIX_CLASS:
        if name.startswith(pfx):
            return cls
    return "shuffle"


def main(cur_path: str, prev_path: str) -> None:
    cur = json.load(open(cur_path))
    prev = json.load(open(prev_path))
    qc, qp = cur["queries"], prev["queries"]
    shared = sorted(set(qc) & set(qp))
    new = sorted(set(qc) - set(qp))
    gone = sorted(set(qp) - set(qc))
    sc = sum(qc[k] for k in shared)
    sp = sum(qp[k] for k in shared)
    print(f"current board : {cur['value']:.1f} s / {len(qc)} queries "
          f"(failed: {cur.get('failed', [])})")
    print(f"shared-{len(shared)}    : {sc:.1f} s vs prev {sp:.1f} s "
          f"= {sc / sp:.3f}x raw")
    print(f"new rows ({len(new)}) : "
          f"{sum(qc[k] for k in new):.1f} s total")
    for k in sorted(new, key=lambda k: -qc[k]):
        print(f"    {k} {qc[k]:.2f}")
    if gone:
        print(f"REMOVED rows ({len(gone)}): {gone}")
    sent_c = cur.get("sentinel", {})
    sent_p = prev.get("sentinel", {})
    if sent_c and sent_p:
        pairs = [(k, sent_c[k], sent_p[k]) for k in sorted(sent_c)
                 if k in sent_p]
        print("sentinels     : " + "  ".join(
            f"{k}={c:.2f}/{p:.2f}({c / p:.2f}x)" for k, c, p in pairs))
        # r14 (verdict #6): the de-noised cross-round signal — shared-raw
        # divided by the mean sentinel ratio. The box drifts 0.9-1.5x
        # across a day (r13: driver 268.0 s vs builder 217.9 s on the
        # SAME commit); the sentinels are untouched map-only rows, so
        # their mean ratio estimates the box factor and the normalized
        # figure is the code-attributable movement.
        # the headline normalization stays on the MAP-ONLY sentinels
        # (continuity with every prior round's board figure); the class
        # block below is the finer-grained lens
        map_pairs = [(k, c, p) for k, c, p in pairs
                     if not k.startswith("sentinel_")]
        mean_sent = sum(c / p for _, c, p in map_pairs) / len(map_pairs)
        print(f"normalized    : shared {sc / sp:.3f}x raw / "
              f"{mean_sent:.3f}x sentinel-mean = "
              f"{sc / sp / mean_sent:.3f}x code-attributable")
        # r15 (r14 verdict #1): per-CLASS drift. The three map-only
        # sentinels cannot see shuffle- or codegen-heavy drift —
        # dd_semantic moved ~1.3x across rounds on byte-identical code
        # while they moved ~1.0x (board_order_probe_r15.txt: JIT-warmth/
        # compile variance spreads a codegen-heavy row 4.75–6.94 s on
        # one box and one code). Bench now times two FROZEN
        # bench-internal rows of the missing classes; print each class
        # ratio so a >2 s codegen-heavy mover can be judged against
        # the codegen sentinel, not the map mean. Until both archives
        # carry them, absent classes print as n/a. Cross-round per-row
        # deltas for >2 s codegen-heavy rows carry ±30% error even
        # sentinel-normalized — treat single-row movements inside that
        # band as noise unless they repeat across independent runs.
        classes = {"map": [k for k, _, _ in pairs
                           if not k.startswith("sentinel_")],
                   "shuffle": ["sentinel_shuffle"],
                   "codegen": ["sentinel_codegen"]}
        class_ratio = {}
        parts = []
        for cls, names in classes.items():
            rs = [sent_c[k] / sent_p[k] for k in names
                  if k in sent_c and k in sent_p]
            if rs:
                class_ratio[cls] = sum(rs) / len(rs)
            parts.append(f"{cls}={sum(rs) / len(rs):.2f}x"
                         if rs else f"{cls}=n/a")
        print("class drift   : " + "  ".join(parts))
    else:
        class_ratio = {}
    # r16 (r15 verdict #4): the regression list is CLASS-NORMALIZED —
    # each row's ratio is divided by its class sentinel's drift before
    # the 1.25x flag, so a codegen-heavy row that merely rode a warm/
    # cold JIT swing no longer reads as a code regression (and a real
    # one on a box that got FASTER is no longer hidden). Raw ratio is
    # printed alongside for continuity.
    def nratio(k):
        return qc[k] / qp[k] / class_ratio.get(query_class(k), 1.0)
    movers = sorted(((nratio(k), k) for k in shared
                     if qp[k] > 0.3 and nratio(k) > 1.25),
                    reverse=True)
    print(f"regressions >1.25x class-normalized (prev >0.3 s): "
          f"{[(k, query_class(k), f'{r:.2f}x', f'raw {qc[k] / qp[k]:.2f}x', f'{qp[k]:.2f}->{qc[k]:.2f}') for r, k in movers[:8]]}")
    improv = sorted(((nratio(k), k) for k in shared
                     if qp[k] > 0.5 and nratio(k) < 0.8))
    print(f"improvements <0.8x class-normalized (prev >0.5 s): "
          f"{[(k, f'{r:.2f}x') for r, k in improv[:8]]}")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
