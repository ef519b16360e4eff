#!/usr/bin/env python
"""Profile one or more registered queries: warm noop-sink timings plus
optional .explain("formatted") capture for plans/r11/ before/after files.

Usage:
  [SPARK_UI=1] python scripts/profile_query.py [--runs N] [--no-warm]
      [--explain plans/r11 --tag before] q1 [q2 ...]

Timing methodology matches bench.py (untimed warm pass, then N timed
passes, report min + all) so numbers are comparable to BENCH_FULL.json.
``--no-warm`` skips the warm pass, to time first runs as the repo
benchmark's query_mix does.

With the Spark UI on (``SPARK_UI=1``), each query's last timed run is
also printed job by job: duration, the driver-side gap before the job,
task count and description — the local-mode substitute for clicking
through the UI.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from datetime import datetime, timezone
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from harvester_database_and_automation_spark.metrics import rest  # noqa: E402
from harvester_database_and_automation_spark.plans import QUERIES  # noqa: E402
from harvester_database_and_automation_spark.plans.shared import cleanup_scratch  # noqa: E402
from harvester_database_and_automation_spark.session import get_spark  # noqa: E402


def _last_job_id(spark) -> int:
    return max((j["jobId"] for j in rest(spark, "jobs")), default=-1)


def _print_jobs(spark, after: int, wall: float) -> None:
    """Print every job with an id above ``after`` (ids only grow)."""

    def ts(s: str) -> datetime:
        return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(tzinfo=timezone.utc)

    jobs = sorted((j for j in rest(spark, "jobs") if j["jobId"] > after), key=lambda j: j["jobId"])
    print(f"  last run: wall={wall:.3f}s jobs={len(jobs)}")
    total = 0.0
    prev_end = None
    for j in jobs:
        sub = ts(j["submissionTime"])
        end = ts(j.get("completionTime", j["submissionTime"]))
        dur = (end - sub).total_seconds()
        gap = (sub - prev_end).total_seconds() if prev_end else 0.0
        prev_end = end
        total += dur
        desc = (j.get("description") or j.get("name") or "")[:100]
        print(f"  job {j['jobId']:4d}  dur={dur:7.3f}s gap={gap:7.3f}s tasks={j['numTasks']:4d}  {desc}")
    print(f"  sum(job dur)={total:.3f}s wall={wall:.3f}s (gap = driver-side time between jobs)")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--no-warm", action="store_true", help="skip the untimed warm pass")
    ap.add_argument("--explain", default=None, help="directory for plan dumps")
    ap.add_argument("--tag", default="before", help="suffix for plan dumps")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    spark = get_spark("profile-query")
    ui = bool(spark.sparkContext.uiWebUrl)
    for name in args.queries:
        spec = QUERIES[name]
        # capture plan BEFORE any timing (plan shape, not data)
        if args.explain:
            import contextlib
            import io

            df = spec.fn(spark, args.sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            outdir = Path(args.explain)
            outdir.mkdir(parents=True, exist_ok=True)
            (outdir / f"{name}_{args.tag}.txt").write_text(buf.getvalue())
            cleanup_scratch()
        if not args.no_warm:
            spec.fn(spark, args.sf_dir).write.mode("overwrite").format("noop").save()
            cleanup_scratch()
        times = []
        for _ in range(args.runs):
            before = _last_job_id(spark) if ui else -1
            t0 = time.time()
            spec.fn(spark, args.sf_dir).write.mode("overwrite").format("noop").save()
            times.append(round(time.time() - t0, 3))
            cleanup_scratch()
        print(f"{name}: min={min(times)} runs={times}", flush=True)
        if ui:
            _print_jobs(spark, before, times[-1])


if __name__ == "__main__":
    main()
