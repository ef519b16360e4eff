"""query_mix: the analytic queries served over the static corpus.

The panel is a stratified sample of ``plans.QUERIES``: ``PER_MODULE``
queries from each registry module, drawn once with ``PANEL_SEED``, plus
``release_export_replay``, which carries the release pipeline's layers
(see the README). Every run serves the same panel in the same order, so
``--seed`` changes nothing here: on a JVM this young a query's latency
depends on its position in the pass by up to 3x, and a seeded order
turned that into a 28% run-to-run spread of ``op_p50_s``. Each op builds
one query and fetches its result to the client; every result is checked
against the query's DuckDB oracle digest in the oracle cache, outside the
timed window. The cache is filled by DuckDB alone before the loop, so no
query runs on Spark outside its op.
"""

from __future__ import annotations

import os
import random
from collections import defaultdict

from harvester_database_and_automation_spark import oracle_cache
from harvester_database_and_automation_spark.catalog import TABLES, load_table
from harvester_database_and_automation_spark.pipelines import derived
from harvester_database_and_automation_spark.plans import QUERIES
from harvester_database_and_automation_spark.plans.shared import cleanup_scratch

from perfbench.common import (
    CORPUS,
    ORACLE_CACHE,
    PLAN_MODULES,
    files_bytes_per_row,
    frame_digest,
    warm_python_workers,
)

PANEL_SEED = 0
PER_MODULE = 1
# The ingest_refresh workload covers these pipeline replays.
EXCLUDED = ("feed_import_replay", "derived_rebuild_parity")
PINNED = ("release_export_replay",)
# Derived tables the panel reads from the package's serving store
# (k4_priority_scorer reads mutation_table). The store is built once per
# corpus and then only read, so set-up publishes these; each run gets its
# own store, so no run finds one left by an earlier run.
SERVED = ("mutation_table",)


def module_of(name: str) -> str:
    return QUERIES[name].fn.__module__.rsplit(".", 1)[1]


def panel() -> list[str]:
    rng = random.Random(PANEL_SEED)
    by_mod: dict[str, list[str]] = defaultdict(list)
    for name in sorted(QUERIES):
        if name not in EXCLUDED and name not in PINNED:
            by_mod[module_of(name)].append(name)
    picks = [q for m in PLAN_MODULES for q in rng.sample(by_mod[m], min(PER_MODULE, len(by_mod[m])))]
    return picks + list(PINNED)


class QueryMix:
    """The workload; same shape as ``ingest.IngestRefresh``. ``seed`` is
    taken for that shape only (see the module docstring)."""

    name = "query_mix"
    nominal_op_s = 2.0  # a query on a 4-core VM, mean over a pass

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.corpus = str(CORPUS)
        self.panel = panel()
        self.ops_per_round = len(self.panel)
        self._order: list[str] = []
        self.build_s: dict[str, list[float]] = defaultdict(list)
        self.exec_s: dict[str, list[float]] = defaultdict(list)
        self.cache = oracle_cache.OracleCache(ORACLE_CACHE)
        self._fingerprint = oracle_cache.corpus_fingerprint(self.corpus)
        # Warm-up: Python workers, table plans into the catalog cache and
        # the served derived tables published.
        warm_python_workers(spark)
        self.warm_frames = [load_table(spark, self.corpus, t) for t in TABLES]
        derived._SERVE_ROOT = os.path.join(work_dir, "derived")
        self._served = [derived.read_derived(spark, self.corpus, t) for t in SERVED]
        self.next = self.prepare()

    def prepare(self) -> str:
        cleanup_scratch()  # the previous op's result is already fetched
        if not self._order:
            self._order = self.panel[::-1]
        return self._order.pop()

    def label(self, prepared) -> str:
        return prepared

    def rows(self, _name, pdf) -> int:
        return len(pdf)  # result rows fetched

    def op(self, name: str, serve_times: list[float]):
        from time import perf_counter

        t0 = perf_counter()
        df = QUERIES[name].fn(self.spark, self.corpus)
        t1 = perf_counter()
        pdf = df.toPandas()
        t2 = perf_counter()
        mod = module_of(name)
        self.build_s[mod].append(t1 - t0)
        self.exec_s[mod].append(t2 - t1)
        serve_times.append(t2 - t1)
        return pdf

    def prepare_checks(self) -> None:
        """Run the DuckDB oracle of every panel query the cache lacks (a
        fresh checkout's corpus has new mtimes, so a new fingerprint) and
        store its digest. DuckDB only: the Spark side runs in the ops."""
        import time

        from harvester_database_and_automation_spark.testing import canonical_rows, duckdb_connection

        missing = [q for q in self.panel if self.cache.get(QUERIES[q].oracle, self._fingerprint) is None]
        if not missing:
            return
        con = duckdb_connection(self.corpus)
        try:
            con.execute("SET threads = 1")
            for q in missing:
                t0 = time.perf_counter()
                cols, rows = canonical_rows(con.execute(QUERIES[q].oracle).df())
                self.cache.put(QUERIES[q].oracle, self._fingerprint, cols, rows,
                               time.perf_counter() - t0)
        finally:
            con.close()

    def check(self, name: str, pdf) -> list[str]:
        """Compare the fetched result's digest with the oracle's."""
        entry = self.cache.get(QUERIES[name].oracle, self._fingerprint)
        if entry is None:
            return [f"{name}: no oracle digest in the cache"]
        if len(pdf) != entry.n_rows or frame_digest(pdf) != entry.result_digest:
            return [f"{name}: result digest differs from the oracle's"]
        return []

    def store_bytes_per_row(self) -> float:
        """The static corpus plus the served derived tables."""
        files = [str(p) for p in CORPUS.glob("*.parquet")]
        for df in self._served:
            files.extend(f.removeprefix("file://") for f in df.inputFiles())
        return files_bytes_per_row(files)
