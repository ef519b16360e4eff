#!/usr/bin/env python
"""Measure registered queries at growing scale factors in ONE session and
record the warm-time ratios — the empirical scaling curve behind the
100 TB sizing table.

Default: every registered query at sf0.01 and sf0.1 -> SCALING.json. A
10x data step that costs << 10x shows the plan has parallel/overhead
slack; >~10x flags superlinear work (the thing the plan audit exists to
prevent).

``--sf1``: the 100x step (sf0.01 -> sf0.1 -> sf1) for the most expensive
and most scale-sensitive queries plus the semdedup_assign derived-table
build -> SCALING_100x.json. The single 10x step leaves every plateau
argument (NDV grids, SemDeDup cell sizes, band collisions) asymptotic;
this step measures them. The sf1 corpus is derived from the driver's own
sf0.1 tables by scripts/make_sf1.py (FK-consistent 10x replication — run
it first); the oracle harness never touches it, so this is a PERFORMANCE
artifact only. The ideal 100x ratio for a fully parallel linear plan on a
32-thread box is well under 100 (the sf0.01 run is overhead-dominated);
superlinear work shows up as a ratio far ABOVE the corpus growth that
survives the fixed-overhead floor. The 10x sub-step sf0.1 -> sf1, where
both points are past the overhead floor, is reported alongside.

Naming queries reruns just those and merges them into the existing
artifact. Usage: python scripts/scaling_curve.py [--sf1] [query ...]
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from harvester_database_and_automation_spark.plans import QUERIES  # noqa: E402
from harvester_database_and_automation_spark.session import get_spark  # noqa: E402

SF_A = "/root/testdata/sf0.01"
SF_B = "/root/testdata/sf0.1"
SF_1 = str(REPO / ".scaling" / "sf1")
BUILD = "semdedup_assign_build"

# --sf1 default: top of BENCH_FULL by cost plus every query the round-4
# verdict flagged for scaling evidence (quantile profiles, dedup
# families, round-trips).
DEFAULT_QUERIES_100X = [
    "streaming_watermark_window_replay",
    "streaming_change_router_replay",
    "streaming_dedup_replay",
    "word_heavy_hitters",
    "lineitem_column_profile",
    "lineitem_column_profile_binned",
    "order_value_percentiles",
    "substring_overlap_pairs",
    "semantic_dedup_cells",
    "prefix_filter_jaccard_pairs",
    "kmeans_lloyd_clusters",
    "incremental_dup_components",
    "streaming_upsert_publish_replay",
    "chunked_export_roundtrip",
    "csv_typed_roundtrip",
    "embedding_near_dup_pairs",
    "tfidf_top_terms",
    "hot_band_pair_stress",
    # Serving-shape consumers (round 6): probe/report over the published
    # derived tables — the production plans that replace the
    # rebuild-bound ivf_topk_probe tail and the inline shingle recompute.
    "ivf_probe_served",
    "ngram_jaccard_pairs",
    "minhash_lsh_candidates_served",
    "semantic_dedup_served",
    "derived_rebuild_parity",
]


# Known-legitimate double-digit 100x tails, carried into the artifact so a
# reader never has to reverse-engineer WHY a ratio is big. Every entry
# here is also hash-certified at sf1 (CORRECTNESS_SF1.json) — the
# annotation explains cost, the certification proves correctness.
ANNOTATIONS = {
    "event_concurrency_window": "output-bound: overlapping-event pairs grow ~100x faster than rows on the derived corpus (1M result rows at sf1, sf1-hash-certified)",
    "minhash_jaccard_calibration": "bounded certification: exact ground truth computed for a FIXED 40-pair hash-drawn sample per signature bucket; the remaining growth is the candidate count + two-level sample windows over narrow int triples (sf1-hash-certified)",
    "prefix_filter_jaccard_pairs": "output-bound: 980x more qualifying pairs on the derived corpus for the same threshold; linear in output (250,600 rows at sf1, sf1-hash-certified)",
    "hot_band_pair_stress": "output quadratic by design: the planted hot band is N/3 docs, so its pair count grows 100x per 10x data; enumeration stays distributed (SKEW_TASK_BOUND.json) and sf1-hash-certified",
    "semantic_dedup_cells": "three-level tree-descent assignment (~3*k^(1/3) BLAS-batched comparisons per vector; corpus-sized exchanges are one fan-out and one cell co-location shuffle) plus the linear per-cell BLAS pair scan (sf1-hash-certified)",
    "semantic_dedup_served": "reads the maintained semdedup_assign table and runs ONLY the per-cell BLAS pair scan (one co-location shuffle, ~250x250 matmul per cell, linear in the corpus; sf1-hash-certified)",
    "chunked_export_roundtrip": "data-linear I/O with little fixed cost: writes, uploads, sha2-hashes, and re-reads 100x the bytes (sf1-hash-certified)",
    "salted_brand_volume": "sub-2s absolute at sf1: fixed-overhead amplification on a salted two-phase agg, not superlinear work",
    "pii_scrub_stats": "sub-1.5s absolute at sf1: regex scrub is scan-bound; ratio is overhead amplification",
    "jdbc_roundtrip": "embedded-Derby transport (single-writer harness), not a Spark plan cost",
    "xz_feed_roundtrip": "single-stream lzma spool is the transport harness; scan side splits normally",
}
BUILD_NOTE = (
    "the semdedup_assign derived-table BUILD (three-level "
    "tree descent): per-vector work ~3*k^(1/3) BLAS comparisons, "
    "corpus-sized exchanges limited to one fan-out and one "
    "co-location shuffle"
)


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def timed(run) -> float:
    """Best of two back-to-back calls of ``run()``, in seconds."""
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        run()
        best = min(best, time.time() - t0)
    return round(best, 3)


def _row_10x(ta: float, tb: float) -> dict:
    return {"sf001": ta, "sf01": tb, "ratio": round(tb / ta, 2) if ta > 0 else None}


def _row_100x(name: str, ta: float, tm: float, tb: float) -> dict:
    row = {
        "sf001": ta,
        "sf01": tm,
        "sf1": tb,
        "ratio_100x": round(tb / ta, 2) if ta > 0 else None,
        "ratio_10x_tail": round(tb / tm, 2) if tm > 0 else None,
    }
    if name == BUILD:
        row["note"] = BUILD_NOTE
    elif name in ANNOTATIONS:
        row["note"] = ANNOTATIONS[name]
    elif row["ratio_100x"] is not None and row["ratio_100x"] > 3 and tb < 2.5:
        # A big ratio over a trivially small absolute time is the
        # sf0.01 baseline being ~all fixed scheduling overhead, not
        # superlinear work — say so in the artifact itself.
        row["note"] = (
            f"sub-2.5s absolute at sf1 ({tb}s for 100x the rows): the sf0.01 "
            "baseline is dominated by fixed job overhead, so the ratio is "
            "overhead amplification, not superlinear work"
        )
    return row


def _summary_10x(rows: dict, calibration_sec: float) -> dict:
    ratios = sorted(r["ratio"] for r in rows.values() if r["ratio"])
    out = {
        "data_step": "10x rows (sf0.01 -> sf0.1), same session, best-of-2 warm",
        "median_ratio": ratios[len(ratios) // 2],
        "p90_ratio": ratios[(9 * len(ratios)) // 10],
        "max_ratio": ratios[-1],
        "calibration_sec": calibration_sec,
        "queries": dict(sorted(rows.items(), key=lambda kv: -(kv[1]["ratio"] or 0))),
    }
    print(
        f"{len(rows)} queries: median time ratio {out['median_ratio']}x for 10x data, "
        f"p90 {out['p90_ratio']}x, max {out['max_ratio']}x -> SCALING.json"
    )
    return out


def _summary_100x(rows: dict, calibration_sec: float) -> dict:
    r100 = sorted(r["ratio_100x"] for r in rows.values() if r["ratio_100x"] is not None)
    r10 = sorted(r["ratio_10x_tail"] for r in rows.values() if r["ratio_10x_tail"] is not None)
    n_excluded = sum(1 for r in rows.values() if r["ratio_100x"] is None)
    if n_excluded:
        print(f"note: {n_excluded} queries excluded from ratio stats (zero baseline)")
    out = {
        "data_step": "100x rows (sf0.01 -> derived sf1), same session, best-of-2 warm",
        "sf1_source": "scripts/make_sf1.py: FK-consistent 10x replication of the driver's sf0.1",
        "calibration_sec": calibration_sec,
        "median_ratio_100x": round(statistics.median(r100), 2),
        "max_ratio_100x": r100[-1],
        "median_ratio_10x_tail": round(statistics.median(r10), 2),
        "max_ratio_10x_tail": r10[-1],
        "n_excluded_zero_baseline": n_excluded,
        "queries": dict(sorted(rows.items(), key=lambda kv: -(kv[1]["ratio_100x"] or 0))),
    }
    print(
        f"{len(rows)} queries: median 100x ratio {out['median_ratio_100x']}x, "
        f"max {out['max_ratio_100x']}x; tail 10x median {out['median_ratio_10x_tail']}x, "
        f"max {out['max_ratio_10x_tail']}x -> SCALING_100x.json"
    )
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf1", action="store_true", help="the 100x step -> SCALING_100x.json")
    ap.add_argument("queries", nargs="*", help=f"default: all; --sf1: the 100x set + {BUILD}")
    args = ap.parse_args(argv)

    names = args.queries or (DEFAULT_QUERIES_100X + [BUILD] if args.sf1 else list(QUERIES))
    unknown = [n for n in names if n not in QUERIES and n != BUILD]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    sfs = (SF_A, SF_B, SF_1) if args.sf1 else (SF_A, SF_B)
    if args.sf1 and not Path(SF_1).exists():
        print(f"{SF_1} missing — run scripts/make_sf1.py first", file=sys.stderr)
        return 2
    spark = get_spark("scaling-curve")

    def run(name: str, sf: str) -> None:
        if name == BUILD:
            # The ingest build itself, not just its consumers: the
            # builder plan only — the publish write is corpus-proportional
            # I/O measured by chunked_export_roundtrip.
            from harvester_database_and_automation_spark.pipelines.derived import LAYER

            noop(LAYER.tables["semdedup_assign"].build(spark, sf, {}))
        else:
            noop(QUERIES[name].fn(spark, sf))

    # Warm every (query, sf) pair fully first (JIT + footer caches).
    for n in names:
        for sf in sfs:
            run(n, sf)
    rows = {}
    for n in names:
        times = [timed(lambda sf=sf: run(n, sf)) for sf in sfs]
        rows[n] = _row_100x(n, *times) if args.sf1 else _row_10x(*times)
        print(f"{n}: " + " -> ".join(f"{t}s" for t in times))

    artifact = REPO / ("SCALING_100x.json" if args.sf1 else "SCALING.json")
    if args.queries and artifact.exists():
        # Explicit-query rerun (a rework remeasure): merge into the
        # existing artifact instead of shrinking it to the rerun slice.
        prior = json.loads(artifact.read_text()).get("queries", {})
        prior.update(rows)
        rows = prior
    from bench import _calibration_sec  # pinned env-drift workload

    summary = _summary_100x if args.sf1 else _summary_10x
    out = summary(rows, _calibration_sec(spark, SF_B))
    artifact.write_text(json.dumps(out, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
