"""Helpers shared by the workloads: checkout layout, the Spark session,
result digests, latency statistics, on-disk sizes and box context."""

from __future__ import annotations

import os
import resource
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent  # the checkout
BENCH_DIR = Path(__file__).resolve().parent
PACKAGE = "harvester_database_and_automation_spark"
CORPUS = BENCH_DIR / "corpus"
ORACLE_CACHE = BENCH_DIR / ".oracle_cache"
PLAN_MODULES = (  # the query registry's modules, the strata of query_mix
    "relational", "text", "embeddings", "kernels", "curation", "governance",
    "multimodal", "streaming_replay", "external_integration",
)


def package_present() -> bool:
    return (ROOT / PACKAGE / "__init__.py").is_file() and (ROOT / "bench.py").is_file()


def prepare_environment(work_dir: Path, traced: bool) -> None:
    """Keep every file Spark, its Python workers and the package write
    inside ``work_dir``; must run before the JVM starts."""
    tmp = work_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work_dir / "spark-local")  # wins over spark.local.dir
    tempfile.tempdir = str(tmp)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_UI"] = "true" if traced else "false"
    # A bounded driver heap keeps peak RSS a property of the workload rather
    # than of when G1 chose to grow the heap (3g: 21% run-to-run spread).
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def master() -> str:
    return f"local[{nproc()}]"


def start_session(work_dir: Path):
    from harvester_database_and_automation_spark.session import get_spark

    tmp = work_dir / "tmp"
    return get_spark(
        "perfbench",
        master=master(),
        extra_conf={
            "spark.sql.warehouse.dir": str(work_dir / "warehouse"),
            # -UsePerfData: no hsperfdata file under the system /tmp.
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _identity(batches):
    yield from batches


def warm_python_workers(spark) -> None:
    """Start one Python worker per core and the Arrow path to the client,
    so no timed op pays the session's lazy worker start-up."""
    spark.range(0, 64, 1, nproc()).mapInPandas(_identity, "id long").toPandas()


def shutdown() -> None:
    """Stop the Spark context, if one runs, then the gateway JVM, and
    wait for the JVM to exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def frame_digest(pdf) -> str:
    """The oracle cache's canonical digest of a pandas result."""
    from harvester_database_and_automation_spark.oracle_cache import canonical_digest
    from harvester_database_and_automation_spark.testing import canonical_rows

    return canonical_digest(*canonical_rows(pdf))


def rows_digest(cols: list[str], rows: list[tuple]) -> str:
    """Digest of model rows, normalized exactly like a fetched result."""
    import pandas as pd

    return frame_digest(pd.DataFrame.from_records(rows, columns=cols))


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples above it, by the nearest-rank rule. A run of ten ops or fewer
    has no such percentile; it reports its slowest op (percentile 100)."""
    xs = sorted(values)
    n = len(xs)
    rank = n - 10 if n > 10 else n  # 1-based rank of the reported sample
    return xs[rank - 1], round(100.0 * rank / n, 1), n


def dir_bytes(path: str) -> int:
    """Bytes on disk under ``path``, counting each hard-linked file once."""
    seen: set[tuple[int, int]] = set()
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            st = os.lstat(os.path.join(dirpath, f))
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_size
    return total


def files_bytes_per_row(files: list[str]) -> float:
    """Bytes of the given parquet files per row they hold."""
    import pyarrow.parquet as pq

    rows = sum(pq.read_metadata(f).num_rows for f in files)
    return sum(os.path.getsize(f) for f in files) / rows


def published_bytes_per_row(root: str, tables: list[str]) -> float:
    """Bytes on disk under ``root`` (every retained version) per live row
    of the published ``tables`` (their current versions)."""
    import pyarrow.parquet as pq

    from harvester_database_and_automation_spark.operators.publish import current_version

    rows = 0
    for t in tables:
        for p in Path(t, f"v{current_version(t)}").rglob("*.parquet"):
            rows += pq.read_metadata(p).num_rows
    return dir_bytes(root) / rows


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident memory (MB) of the driver JVM and of this Python
    process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return jvm_kb / 1024.0, py_kb / 1024.0


def box_context(spark) -> dict:
    """nproc, master, pyspark version and bench.py's two pinned
    calibration probes, so results can be read against box drift."""
    import pyspark

    import bench

    return {
        "nproc": nproc(),
        "master": master(),
        "pyspark": pyspark.__version__,
        "calibration_sec": bench._calibration_sec(spark, str(CORPUS)),
        "calibration_cpu_sec": bench._calibration_cpu_sec(spark),
    }


def reset_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path
