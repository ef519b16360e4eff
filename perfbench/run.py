"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest_refresh --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run sets up once (session start,
input generation, warm-up) and reports that time as ``setup_s``, reads
bench.py's calibration probes and fills the workload's output checks,
then drives the workload in a closed loop with one client for as many
ops as take ``--seconds`` at the workload's nominal op time, checking
every op's outputs outside the timed window. The last line of stdout is the result object;
the line before it holds the details (box context, tail percentile,
failures, tracing overhead).

``--trace 1`` wraps the package's functions (see trace.py) and reports
the per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import common  # noqa: E402

WORKLOADS = ("ingest_refresh", "query_mix")
SPAN_METRICS = (  # (metric, span name, "s" or "self_s")
    ("pipelines.feed_import.run_feed_import.self_s", "pipelines.feed_import.run_feed_import", "self_s"),
    ("sources.jsonl.read_jsonl.s", "sources.jsonl.read_jsonl", "s"),
    ("sources.jsonl.check_field_drift.s", "sources.jsonl.check_field_drift", "s"),
    ("sources.quarantine.validate.s", "sources.quarantine.validate", "s"),
    ("operators.merge.classify_changes.s", "operators.merge.classify_changes", "s"),
    ("operators.merge.merge_delta.s", "operators.merge.merge_delta", "s"),
    ("operators.external.run_fasta_tool.s", "operators.external.run_fasta_tool", "s"),
    ("operators.publish.publish_versioned.s", "operators.publish.publish_versioned", "s"),
    ("operators.publish.publish_incremental.s", "operators.publish.publish_incremental", "s"),
    ("operators.publish.vacuum.s", "operators.publish.vacuum", "s"),
    ("operators.publish.read_published.s", "operators.publish.read_published", "s"),
    ("pipelines.derived.rebuild_incremental.self_s", "pipelines.derived.rebuild_incremental", "self_s"),
    ("pipelines.release.run_release_cycle.self_s", "pipelines.release.run_release_cycle", "self_s"),
    ("pipelines.release.batch_completeness.s", "pipelines.release.batch_completeness", "s"),
    ("pipelines.release.build_release_plan.s", "pipelines.release.build_release_plan", "s"),
    ("pipelines.release.resequencing_decisions.s", "pipelines.release.resequencing_decisions", "s"),
    ("sources.tabular.read_csv_strict.s", "sources.tabular.read_csv_strict", "s"),
    ("catalog.load_table.s", "catalog.load_table", "s"),
)
COUNT_METRICS = (  # counted by the tracer, reported per op
    "operators.external.rows",
    "operators.publish.bytes_written",
    "operators.publish.files_written",
    "pipelines.derived.partitions_rewritten",
    "catalog.load_table.calls",
)
SPARK_METRICS = {  # name -> unit
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "spark.spill_bytes_per_op": "bytes",
    "spark.failed_tasks": "count",  # run total
    "spark.cached_rdds_after_op": "count",
}


def _workload(name: str, spark, work: Path, seed: int):
    if name == "ingest_refresh":
        from perfbench.ingest import IngestRefresh

        return IngestRefresh(spark, str(work), seed)
    from perfbench.query_mix import QueryMix

    return QueryMix(spark, str(work), seed)


def _setup(name: str, seed: int, work: Path):
    """One set-up, timed from session start (JVM and Spark context)
    through input generation and warm-up to the first op being ready.
    Returns (spark, workload, set-up seconds)."""
    t0 = time.perf_counter()
    spark = common.start_session(work)
    w = _workload(name, spark, work, seed)
    return spark, w, time.perf_counter() - t0


def op_count(w, seconds: float) -> int:
    """Ops in a run: ``seconds`` of ops at the workload's nominal op time,
    in whole rounds. The count is fixed before the run, not read off the
    clock, so a slower or faster box changes the ops' latency but not
    which ops are timed (a clock-stopped run flipped between one and two
    query_mix passes, and between four and six daily cycles)."""
    per_round = getattr(w, "ops_per_round", 1)
    return max(1, math.ceil(seconds / (w.nominal_op_s * per_round))) * per_round


def _loop(w, n_ops: int, tracer=None, counters=None) -> dict:
    """The closed loop: one client, next op once the last has finished,
    ``n_ops`` ops (fewer only if the run overruns its deadline)."""
    op_s, labels, rows, serve, failures, spark_ops = [], [], 0, [], [], []
    attempted = failed = 0
    deadline = time.perf_counter() + 120
    prepared = w.next
    while True:
        if counters is not None:
            counters.begin()
        if tracer is not None:
            tracer.begin(attempted)
        t0 = time.perf_counter()
        try:
            out = w.op(prepared, serve)
            error = None
        except Exception as exc:  # a failed op is counted, not fatal
            out, error = None, f"{type(exc).__name__}: {exc}"
        dt = time.perf_counter() - t0
        if tracer is not None:
            tracer.end()
        if counters is not None:  # before the check, whose Spark jobs are not the op's
            spark_ops.append(counters.end())
        attempted += 1
        op_s.append(dt)
        labels.append(w.label(prepared))
        if error is None:
            try:
                bad = w.check(prepared, out)
            except Exception as exc:  # an output the check cannot even read
                bad = [f"check raised {type(exc).__name__}: {exc}"]
        else:
            bad = [error]
        if bad:
            failed += 1
            failures.append({"op": attempted - 1, "problems": bad[:5]})
        else:
            rows += w.rows(prepared, out)
        if attempted >= n_ops or time.perf_counter() > deadline:
            break
        prepared = w.prepare()
    return {"op_s": op_s, "labels": labels, "rows": rows, "serve_s": serve, "attempted": attempted,
            "failed": failed, "failures": failures, "spark_ops": spark_ops}


def _end_to_end(res: dict, setup_s: float, w, spark) -> tuple[dict, dict]:
    op_s = res["op_s"]
    total = sum(op_s)
    tail, pct, n = common.tail(op_s)
    jvm_mb, py_mb = common.peak_rss_mb(spark)
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(op_s), "s"),
        "op_tail_s": (tail, "s"),
        "ops_per_s": (len(op_s) / total, "1/s"),
        "rows_per_s": (res["rows"] / total, "rows/s"),
        "serve_p50_s": (statistics.median(res["serve_s"]), "s"),
        "store_bytes_per_row": (w.store_bytes_per_row(), "B/row"),
        "peak_rss_mb": (jvm_mb + py_mb, "MB"),
    }
    details = {"op_tail_percentile": pct, "op_samples": n,
               "failed_frac": res["failed"] / res["attempted"],
               "peak_rss_jvm_mb": jvm_mb, "peak_rss_python_mb": py_mb}
    return metrics, details


def _per_layer(res: dict, tracer, w) -> dict:
    n = res["attempted"]
    spans = tracer.per_op(n)
    metrics = {m: (spans.get(f"{span}.{kind}", 0.0), "s") for m, span, kind in SPAN_METRICS}
    for name in COUNT_METRICS:
        metrics[name] = (tracer.counter(name) / n, "bytes" if name.endswith("bytes_written") else "count")
    calls = tracer.counter("catalog.load_table.calls")
    metrics["catalog.load_table.hit_ratio"] = (
        tracer.counter("catalog.load_table.hits") / calls if calls else 0.0, "ratio")
    release_ops = tracer.ops_with("pipelines.release.run_release_cycle")
    from perfbench.trace import MANIFEST_WRITE

    metrics["release.manifest_write_s"] = (
        tracer.op_total(MANIFEST_WRITE, release_ops) / len(release_ops) if release_ops else 0.0, "s")
    for mod in common.PLAN_MODULES:
        for kind in ("build_s", "exec_s"):
            xs = getattr(w, kind, {}).get(mod, [])
            metrics[f"plans.{mod}.{kind}"] = (sum(xs) / len(xs) if xs else 0.0, "s")
    for name, unit in SPARK_METRICS.items():
        total = sum(o[name] for o in res["spark_ops"])
        metrics[name] = (total if name == "spark.failed_tasks" else total / n, unit)
    return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not common.package_present():
        print(f"perfbench: {common.PACKAGE}/ and bench.py must sit beside perfbench/ "
              "(run from the root of a checkout)", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    work = common.reset_dir(common.BENCH_DIR / ".work" / f"{args.workload}-{os.getpid()}")
    out_dir = common.BENCH_DIR / ".out"
    out_dir.mkdir(exist_ok=True)
    common.prepare_environment(work, traced)
    try:
        spark, w, setup_s = _setup(args.workload, args.seed, work)
        box = common.box_context(spark)
        w.prepare_checks()  # e.g. fill the oracle cache; outside set-up and the loop
        tracer = counters = None
        if traced:
            from perfbench.trace import SparkCounters, Tracer

            tracer = Tracer(w.spark)
            tracer.seen(getattr(w, "warm_frames", []))
            tracer.install()
            counters = SparkCounters(spark)
        try:
            res = _loop(w, op_count(w, args.seconds), tracer, counters)
        finally:
            if tracer is not None:
                tracer.uninstall()
        e2e, details = _end_to_end(res, setup_s, w, spark)
        details["box"] = box
        details["failures"] = res["failures"][:5]
        details["workload"] = args.workload
        details["seed"] = args.seed
        details["end_to_end"] = {k: v for k, (v, _u) in e2e.items()}
        if traced:
            metrics = _per_layer(res, tracer, w)
            tracer.dump(str(out_dir / f"{args.workload}-s{args.seed}-spans.jsonl"))
            untraced = out_dir / f"{args.workload}-s{args.seed}-t0.json"
            if untraced.exists():
                base = json.loads(untraced.read_text())["end_to_end"]
                details["tracing_overhead"] = {
                    k: details["end_to_end"][k] / base[k] - 1 for k in ("op_p50_s", "ops_per_s")
                }
        else:
            metrics = e2e
        ops = [[label, s] for label, s in zip(res["labels"], res["op_s"])]
        for op, counts in zip(ops, res["spark_ops"]):  # traced runs only
            op.append(counts)
        (out_dir / f"{args.workload}-s{args.seed}-t{args.trace}.json").write_text(
            json.dumps({**details, "ops": ops}, indent=1) + "\n")
    finally:
        common.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(details))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
