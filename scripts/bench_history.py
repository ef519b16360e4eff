#!/usr/bin/env python
"""Calibration-normalized bench history: catch CUMULATIVE creep that the
round-over-round ±1.5x diff gate can't see (each round passes while drift
compounds — r8 verdict "What's wrong #2").

Compares the working-tree BENCH_FULL.json against the OLDEST committed
map (the round-1-era baseline) and flags any query whose normalized
wall-clock grew more than THRESHOLD x without a written scale-rework
justification. Exit 1 on an unjustified flag, so it can run as a gate.

Normalization, in preference order per map pair:

1. Both maps carry ``calibration_cpu_sec`` (the CPU-bound probe,
   bench.py — pinned from round 10): true CPU-calibration multiples.
   The IO-bound scan probe under-captures CPU drift (round 9 measured a
   ~1.3x CPU residual it missed), so the CPU probe wins when present.
2. Both carry only ``calibration_sec`` (the IO scan probe): IO-probe
   multiples.
3. The old map predates both probes (the round-1-era baseline): estimate
   the cross-map scale as the MEDIAN per-query ratio over all common
   queries (robust panel normalization: assume the median query did not
   regress) — queries are then flagged RELATIVE to their round-1 peers,
   so uniform box drift cancels out.

Whatever the normalization, residual drift remains (no probe captures a
box perfectly — r9's gate flapped on a 0.35s->0.74s sub-second query
under a 1.6x calibration swing). So a flag requires BOTH a normalized
growth ratio above ``--threshold`` AND an absolute excess above
``--floor-sec`` current-box seconds (cur * (1 - 1/ratio): the time the
query costs today beyond what its round-1 normalized cost predicts). A
sub-second query can no longer flip the gate on noise; a real multi-
second regression still trips it (tests/test_bench_history.py plants
one and proves the gate stays red).

Usage: python scripts/bench_history.py [--threshold 2.0] [--floor-sec 1.0]
       [--baseline REV]
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# Queries whose normalized growth vs round 1 is a DOCUMENTED scale-safety
# rework, not creep. Each entry names the mechanism; the 100x curve
# (SCALING_100x.json) is the evidence that the trade bought flatness.
JUSTIFIED: dict[str, str] = {
    "order_value_percentiles": (
        "round-3/5 rework: holistic percentile buffers -> exact two-level "
        "binned percentiles (plans/relational.py:980). Slower at sf0.1, "
        "bounded memory at any scale; 100x curve flat."
    ),
    "lineitem_column_profile": (
        "deliberately RETAINED exact holistic baseline for parity with the "
        "binned scale path (lineitem_column_profile_binned); the pair "
        "certifies the rework. r8 verdict plan-audit: 'sound as kept'."
    ),
    "k3_origin_estimator": (
        "round-5 rework: corpus-proportional %13 sample -> bounded "
        "hash-drawn query batches (plans/kernels.py:252) after the 100x "
        "curve exposed O(N^2) pair growth; fixed batch work costs more at "
        "sf0.1, is constant-factor at scale."
    ),
    "k4_priority_scorer": (
        "round-5 rework: same bounded-batch class as k3 "
        "(plans/kernels.py:409); trades small-sf speed for a pair count "
        "independent of corpus size."
    ),
    "a11_mean_hamming": (
        "round-5 rework: bounded batch pair scan (plans/kernels.py:567), "
        "same class as k3/k4."
    ),
    "knn_label_predict": (
        "round-5 rework: bounded hash-drawn query batch, same class as k3."
    ),
    "ivf_topk_probe": (
        "round-6 rework: fixed-size hash-drawn query batch + probe-only "
        "read of the maintained IVF index (plans/embeddings.py:341); the "
        "index build amortizes at scale."
    ),
    "contrastive_negative_sample": (
        "round-6 rework: fixed-size anchor batches (was %-modulus, "
        "corpus-proportional)."
    ),
    "embedding_near_dup_pairs": (
        "round-5 rework: sampled exact-baseline comparison against the "
        "banded path; the sample is the certification."
    ),
    "semantic_dedup_cells": (
        "rounds 3/5/6 rework chain: fixed 8-cell -> two-level -> BLAS tree "
        "descent (plans/embeddings.py:860); O(N*k^1/3) at scale."
    ),
    "ngram_jaccard_pairs": (
        "round-6 repoint to the published dup_pairs serving table "
        "(pipelines/derived.py); pays a publish read, drops the inline "
        "O(N^2) candidate scan."
    ),
    "csv_typed_roundtrip": (
        "round-6 strict reader: full-row parse tripwire (sources/"
        "tabular.py:50) — pruning-proof correctness costs the full parse."
    ),
    "chunked_export_roundtrip": (
        "round-5/6 strict one-pass re-read + distributed sha2 manifest "
        "verification; the verification is the product."
    ),
    "tfidf_top_terms": (
        "round-5: AQE-decides join strategy (removed the broadcast hint "
        "on a corpus-linear frame — the hint OOMs at scale)."
    ),
    "hot_band_pair_stress": (
        "round-6: adaptive per-key salting (operators/skew.py) — the "
        "salt-plan pass costs time at sf0.1, bounds per-task pairs at "
        "scale (SKEW_TASK_BOUND.json: max task 5957->744 ms at sf1)."
    ),
    "event_value_trend": (
        "round-3: int64 slope products widened to decimal(38,0) "
        "(overflow-safe at scale; verify-skill gotcha list)."
    ),
    "prefix_filter_jaccard_pairs": (
        "output-bound: 980x more qualifying pairs at 100x (r8 verdict); "
        "sf0.1 time tracks result size, not inefficiency."
    ),
    "simhash_hamming_pairs": (
        "round-3 rework: banded candidate join + filter-before-distinct; "
        "certified vs exact at sf0.1."
    ),
    "ivf_recall_at_3": (
        "round-3/6 rework: recall certified on a fixed 100-query hash "
        "sample against brute force; the brute-force leg is the oracle."
    ),
    "pq_adc_topk": (
        "round-3 rework: ADC over probed cells only; quantization tables "
        "rebuilt per run at small sf (amortized at scale)."
    ),
    "minhash_jaccard_calibration": (
        "round-6 rework (CHANGES.md 'Calibration bounded'): exact Jaccard "
        "scored on a FIXED 40-pair hash-drawn sample per signature bucket "
        "(was corpus-proportional); 10x tail 11.62 -> 1.53, sf1 8.8 -> "
        "2.5 s. The bounded sampler costs more at sf0.1 than the tiny "
        "unbounded round-1 scan did."
    ),
    "incremental_dup_components": (
        "delta-fold vs published map: pays a publish read at sf0.1; "
        "avoids recomputing CC over the full corpus at scale."
    ),
    "release_export_replay": (
        "round-10 rework: payload-skinny release cascade "
        "(run_release_cycle(payload_cols=...) drops wide columns before "
        "the duplicate_idx key-shuffle window and re-attaches them to the "
        "accepted delta via the measured-hint join) plus the byte-aware "
        "measured-delta broadcast hint and the accepted-uniqueness / "
        "re-attach 1:1 hard-stops. +1.46s at sf0.1 across the two cycles; "
        "buys the 100 TB shape (WIDE_ROW_BYTES.json release leg: cycle-2 "
        "shuffle identical at 60B and 30KB payloads, frac 0.00072)."
    ),
}


def _load_map(rev: str | None) -> dict:
    if rev is None:
        return json.loads((REPO / "BENCH_FULL.json").read_text())
    out = subprocess.run(
        ["git", "-C", str(REPO), "show", f"{rev}:BENCH_FULL.json"],
        capture_output=True,
        text=True,
        check=True,
    )
    return json.loads(out.stdout)


def _oldest_committed_rev() -> str:
    out = subprocess.run(
        ["git", "-C", str(REPO), "log", "--format=%H", "--diff-filter=A", "--", "BENCH_FULL.json"],
        capture_output=True,
        text=True,
        check=True,
    )
    revs = out.stdout.split()
    if not revs:
        raise SystemExit("no committed BENCH_FULL.json found")
    return revs[-1]


def compare_maps(
    cur: dict,
    old: dict,
    threshold: float = 2.0,
    floor_sec: float = 1.0,
) -> dict:
    """Pure comparison core (importable by the planted-regression test).

    Returns {mode, ratios, excess_sec, flagged, unjustified}. A query is
    flagged when its normalized growth ratio exceeds ``threshold`` AND its
    absolute excess — ``cur_sec * (1 - 1/ratio)``, the current-box seconds
    it costs beyond its round-1-normalized prediction — exceeds
    ``floor_sec``. Both conditions, because normalization residue is real:
    the probes never capture a box's drift perfectly, and a sub-second
    query under residual drift produces arbitrarily large ratios at
    negligible absolute cost (r9's gate flapped on exactly that).
    """
    cur_q, old_q = cur["queries"], old["queries"]
    common = sorted(set(cur_q) & set(old_q))
    if not common:
        raise SystemExit("no common queries between maps")

    cur_cpu, old_cpu = cur.get("calibration_cpu_sec"), old.get("calibration_cpu_sec")
    cur_io, old_io = cur.get("calibration_sec"), old.get("calibration_sec")
    if cur_cpu is not None and old_cpu is not None:
        cur_cal, old_cal = cur_cpu, old_cpu
        mode = "true CPU-calibration multiples on both sides"
    elif cur_io is not None and old_io is not None:
        cur_cal, old_cal = cur_io, old_io
        mode = "true IO-calibration multiples on both sides"
    elif cur_io is not None or cur_cpu is not None:
        cur_cal, old_cal = (cur_cpu or cur_io), None
        mode = None  # panel-rescaled below
    else:
        raise SystemExit("working-tree BENCH_FULL.json lacks calibration — rerun bench.py")

    raw = {q: (cur_q[q] / cur_cal) / (old_q[q] / (old_cal or 1.0)) for q in common}
    if old_cal is None:
        # Panel normalization: treat the median common query as unmoved.
        scale = statistics.median(raw.values())
        mode = f"median-rescaled (old map has no calibration; scale={scale:.3f})"
    else:
        scale = 1.0
    ratios = {q: r / scale for q, r in raw.items()}
    excess = {q: cur_q[q] * (1.0 - 1.0 / r) if r > 1.0 else 0.0 for q, r in ratios.items()}

    flagged = {
        q: r for q, r in ratios.items() if r > threshold and excess[q] > floor_sec
    }
    unjustified = {q: r for q, r in flagged.items() if q not in JUSTIFIED}
    return {
        "mode": mode,
        "ratios": ratios,
        "excess_sec": excess,
        "flagged": flagged,
        "unjustified": unjustified,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--threshold", type=float, default=2.0)
    ap.add_argument("--floor-sec", type=float, default=1.0,
                    help="minimum absolute excess (current-box seconds) to flag")
    ap.add_argument("--baseline", default=None, help="git rev (default: oldest commit)")
    args = ap.parse_args(argv)

    rev = args.baseline or _oldest_committed_rev()
    cur, old = _load_map(None), _load_map(rev)
    res = compare_maps(cur, old, threshold=args.threshold, floor_sec=args.floor_sec)
    ratios, flagged, unjustified = res["ratios"], res["flagged"], res["unjustified"]

    print(f"baseline {rev[:9]} ({len(old['queries'])} queries) vs HEAD "
          f"({len(cur['queries'])}); {len(ratios)} common; {res['mode']}")
    print(f"median normalized ratio: {statistics.median(ratios.values()):.3f}; "
          f"p90: {sorted(ratios.values())[int(0.9 * len(ratios))]:.3f}")
    for q, r in sorted(flagged.items(), key=lambda kv: -kv[1]):
        tag = "justified" if q in JUSTIFIED else "UNJUSTIFIED"
        print(f"  {r:6.2f}x  (+{res['excess_sec'][q]:.2f}s)  {q}  [{tag}]")
        if q in JUSTIFIED:
            print(f"          {JUSTIFIED[q]}")
    below = {q: r for q, r in ratios.items()
             if r > args.threshold and q not in flagged and q not in JUSTIFIED}
    if below:
        print(f"note: {len(below)} ratio-only outliers under the {args.floor_sec}s "
              f"significance floor (residual drift on sub-second queries): "
              + ", ".join(f"{q} {r:.2f}x (+{res['excess_sec'][q]:.2f}s)"
                          for q, r in sorted(below.items(), key=lambda kv: -kv[1])))
    stale = sorted(set(JUSTIFIED) - set(flagged))
    if stale:
        print(f"note: {len(stale)} justifications currently below threshold "
              f"(kept — load spreads move queries across it): {', '.join(stale[:6])}...")
    if unjustified:
        print(f"\n{len(unjustified)} query(ies) grew >{args.threshold}x normalized "
              f"(and >{args.floor_sec}s absolute) vs round 1 with NO written "
              f"justification — investigate or document.")
        return 1
    print(f"\nOK: no unjustified normalized growth >{args.threshold}x with "
          f">{args.floor_sec}s excess ({len(flagged)} flagged, all justified)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
