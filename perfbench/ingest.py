"""ingest_refresh: the daily feed import plus derived-table refresh.

Each op is one daily cycle against a sequence table keyed by
``strain_id``:

1. ``run_feed_import`` on that day's JSON-lines snapshot, annotated by
   ``run_fasta_tool`` (an awk GC counter);
2. ``DerivedLayer.rebuild_incremental`` of two country-partitioned
   summaries over the published table;
3. ``vacuum(keep=2)`` of all three tables;
4. three serving reads of the new versions.

``FeedModel`` is the pure-Python model of the feed: it generates each
day's snapshot from the seed and predicts the run report, the published
table's canonical digest and both summaries, so every op is checked
without asking Spark for the answer.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from dataclasses import dataclass, field

from harvester_database_and_automation_spark.operators.external import run_fasta_tool
from harvester_database_and_automation_spark.operators.publish import read_published, vacuum
from harvester_database_and_automation_spark.pipelines.derived import DerivedLayer
from harvester_database_and_automation_spark.pipelines.feed_import import run_feed_import
from harvester_database_and_automation_spark.sources.quarantine import enum_check, not_null

from perfbench.common import frame_digest, published_bytes_per_row, rows_digest

COUNTRIES = ("AT", "BE", "CH", "DE", "DK", "ES", "FR", "IT", "NL", "NO", "PL", "SE")
LINEAGES = tuple(f"B.1.{i}" for i in range(1, 17))

# Generator properties, recorded in BENCHMARK.json and the README. The
# change mix, the quarantine rate and the corrupt line follow the
# package's own feed-import fixture (``feed_import_replay`` in
# plans/external_integration.py): each change class is one key in ten,
# one row in 29 is quarantined, every feed carries one corrupt line. The
# payload width is the "few KB" the workload calls for. The key count and
# the active countries are assumptions, not measured from a real feed:
# the key count sizes a daily cycle to a few seconds, and changes falling
# in a quarter of the partitions give the incremental rebuild clean
# partitions to skip.
N_KEYS = 1200  # live keys in the base snapshot (assumption)
PAYLOAD_CHARS = 2500  # sequence payload per row
ACTIVE_COUNTRIES = 3  # of 12: countries whose rows change on one day (assumption)
SHARE = {  # of the live rows in the day's active countries
    "insert": 0.10,
    "metadata_changed": 0.10,  # a new lineage call
    "payload_changed": 0.10,  # a new sequence
    "delete": 0.10,
}
QUARANTINE_SHARE = 1 / 29  # of the day's feed rows: new keys with no country

_FIELDS = ("strain_id", "country", "lineage", "seq", "n_gc", "annotated_in")
_SEQ_TABLE = bytes.maketrans(bytes(range(256)), b"ACGT" * 64)
_GC_AWK = 'NR%2==1{n=substr($0,2)} NR%2==0{print n"\\t"gsub(/[GC]/,"")}'


def _schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("strain_id", T.LongType()),
            T.StructField("country", T.StringType()),
            T.StructField("lineage", T.StringType()),
            T.StructField("seq", T.StringType()),
            T.StructField("n_gc", T.IntegerType()),
            T.StructField("annotated_in", T.IntegerType()),
        ]
    )


@dataclass
class Day:
    """One generated day: the feed lines plus the model's predictions."""

    number: int
    lines: list[str]
    dirty: list[str]  # partitions the day's changes touch
    report: dict[str, int]  # expected FeedImportReport counts
    table_digest: str = ""
    summaries: dict[str, tuple[int, str]] = field(default_factory=dict)
    serve_country: str = ""
    serve_expect: dict[str, object] = field(default_factory=dict)


class FeedModel:
    """Seeded generator and model of the published sequence table."""

    def __init__(self, seed: int, n_keys: int = N_KEYS, payload_chars: int = PAYLOAD_CHARS):
        self.seed = seed
        self.payload_chars = payload_chars
        self.rows: dict[int, tuple] = {}  # strain_id -> (country, lineage, seq, n_gc, ann)
        self.next_key = 0
        self.day = 0
        rng = self._rng(0)
        lines = []
        for _ in range(n_keys):
            k = self._new_key()
            row = (rng.choice(COUNTRIES), rng.choice(LINEAGES), self._seq(rng))
            lines.append(self._line(k, row))
            self.rows[k] = row + (_gc(row[2]), 0)
        self.base_lines = lines

    def _rng(self, day: int) -> random.Random:
        return random.Random(self.seed * 1_000_003 + day)

    def _new_key(self) -> int:
        self.next_key += 1
        return self.next_key

    def _seq(self, rng: random.Random) -> str:
        return rng.randbytes(self.payload_chars).translate(_SEQ_TABLE).decode()

    @staticmethod
    def _line(key: int, row: tuple) -> str:
        return json.dumps({"strain_id": key, "country": row[0], "lineage": row[1], "seq": row[2]})

    def next_day(self) -> Day:
        """Advance the model one day and return that day's feed."""
        self.day += 1
        d = self.day
        rng = self._rng(d)
        active = sorted(rng.sample(COUNTRIES, ACTIVE_COUNTRIES))
        pool = sorted(k for k, r in self.rows.items() if r[0] in active)
        rng.shuffle(pool)
        counts = {c: round(SHARE[c] * len(pool)) for c in SHARE}
        it = iter(pool)
        picked = {c: [next(it) for _ in range(counts[c])] for c in
                  ("delete", "metadata_changed", "payload_changed")}
        for k in picked["delete"]:
            del self.rows[k]
        for k in picked["metadata_changed"]:
            country, lineage, seq, gc, ann = self.rows[k]
            lineage = rng.choice([x for x in LINEAGES if x != lineage])
            self.rows[k] = (country, lineage, seq, gc, ann)
        for k in picked["payload_changed"]:
            country, lineage, _seq, _gc_, _ann = self.rows[k]
            seq = self._seq(rng)
            self.rows[k] = (country, lineage, seq, _gc(seq), d)
        for _ in range(counts["insert"]):
            seq = self._seq(rng)
            self.rows[self._new_key()] = (rng.choice(active), rng.choice(LINEAGES), seq, _gc(seq), d)
        lines = [self._line(k, r) for k, r in self.rows.items()]
        n_quarantined = max(1, round(QUARANTINE_SHARE * len(lines)))
        for _ in range(n_quarantined):  # new submissions missing their country
            lines.append(self._line(self._new_key(), (None, rng.choice(LINEAGES), self._seq(rng))))
        rng.shuffle(lines)
        n_live_before = len(self.rows) - counts["insert"] + counts["delete"]
        report = {
            "version": d + 1,
            "n_corrupt": 1,
            "n_quarantined": n_quarantined,
            "n_insert": counts["insert"],
            "n_metadata_changed": counts["metadata_changed"],
            "n_payload_changed": counts["payload_changed"],
            "n_unchanged": n_live_before - counts["delete"] - counts["metadata_changed"]
            - counts["payload_changed"],
            "n_delete": counts["delete"],
            "n_annotated": counts["insert"] + counts["payload_changed"],
            "n_tool_failed": 0,
        }
        serve = rng.choice(active)
        day = Day(d, lines, active, report, serve_country=serve)
        day.table_digest = rows_digest(list(_FIELDS), [(k,) + r for k, r in self.rows.items()])
        by_cl: dict[tuple[str, str], list[int]] = {}
        by_c: dict[str, list] = {}
        for country, lineage, _s, gc, ann in self.rows.values():
            acc = by_cl.setdefault((country, lineage), [0, 0])
            acc[0] += 1
            acc[1] += gc
            c = by_c.setdefault(country, [0, set(), 0])
            c[0] += 1
            c[1].add(lineage)
            c[2] = max(c[2], ann)
        lineage_rows = [(c, lin, n, gc) for (c, lin), (n, gc) in by_cl.items()]
        summary_rows = [(c, n, len(lins), ann) for c, (n, lins, ann) in by_c.items()]
        day.summaries = {
            "lineage_by_country": (
                len(lineage_rows),
                rows_digest(["country", "lineage", "n_seqs", "gc_total"], lineage_rows),
            ),
            "country_summary": (
                len(summary_rows),
                rows_digest(["country", "n_seqs", "n_lineages", "latest_cycle"], summary_rows),
            ),
        }
        day.serve_expect = {
            "table_rows": by_c[serve][0],
            "lineages": rows_digest(
                ["lineage", "n_seqs", "gc_total"],
                [(lin, n, gc) for (c, lin, n, gc) in lineage_rows if c == serve],
            ),
            "summary": day.summaries["country_summary"][1],
        }
        return day


def _gc(seq: str) -> int:
    return seq.count("G") + seq.count("C")


def _parse_gc(line: str):
    from pyspark.sql import Row

    name, n = line.split("\t")
    return Row(strain_id=int(name), n_gc=int(n))


def _write_feed(path: str, lines: list[str]) -> None:
    """One snapshot file plus a trailing file holding one truncated line
    (the corrupt-record leg; it sorts after the data file so the drift
    check's head sample sees parsed lines)."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    with open(os.path.join(path, "part-00000.jsonl"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    with open(os.path.join(path, "zz-corrupt.jsonl"), "w") as fh:
        fh.write('{"strain_id": 0, "seq": \n')


def _summary_layer() -> DerivedLayer:
    """Two partitioned summaries over the published table — the stand-ins
    for the spectrum materialized views. ``sf_dir`` is the table dir."""
    from pyspark.sql import functions as F

    layer = DerivedLayer()

    @layer.register("lineage_by_country", partition_by=("country",))
    def lineage_by_country(spark, table_dir, deps):
        return read_published(spark, table_dir).groupBy("country", "lineage").agg(
            F.count(F.lit(1)).alias("n_seqs"), F.sum("n_gc").cast("bigint").alias("gc_total")
        )

    @layer.register("country_summary", partition_by=("country",))
    def country_summary(spark, table_dir, deps):
        return read_published(spark, table_dir).groupBy("country").agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.count_distinct("lineage").alias("n_lineages"),
            F.max("annotated_in").alias("latest_cycle"),
        )

    return layer


class IngestRefresh:
    """The workload. The constructor is one set-up: it generates the base
    snapshot, runs the initial load and the first full summary build;
    ``prepare`` generates the next day (untimed), ``op`` runs the timed
    daily cycle, ``check`` compares its outputs with the model."""

    name = "ingest_refresh"
    nominal_op_s = 3.5  # a daily cycle on a 4-core VM, after the first few

    def __init__(self, spark, work_dir: str, seed: int, n_keys: int = N_KEYS,
                 payload_chars: int = PAYLOAD_CHARS):
        self.spark = spark
        self.root = os.path.join(work_dir, "ingest")
        shutil.rmtree(self.root, ignore_errors=True)
        self.table = os.path.join(self.root, "published", "sequences")
        self.derived = os.path.join(self.root, "published", "summaries")
        self.model = FeedModel(seed, n_keys, payload_chars)
        self.layer = _summary_layer()
        self.schema = _schema()
        base = os.path.join(self.root, "feed", "day0")
        _write_feed(base, self.model.base_lines)
        self._import(base, 0)
        self.layer.rebuild(spark, self.table, self.derived)
        self.next = self.prepare()

    def _annotate(self, cycle: int):
        from pyspark.sql import functions as F

        def annotate(df):
            stats = run_fasta_tool(
                df.select(F.col("strain_id").cast("string").alias("name"),
                          F.col("seq").alias("sequence")),
                ["awk", _GC_AWK],
                "strain_id long, n_gc int",
                _parse_gc,
            )
            return (
                df.drop("n_gc", "annotated_in")
                .join(stats, "strain_id")
                .withColumn("annotated_in", F.lit(cycle))
                .select(*_FIELDS)
            )

        return annotate

    def _import(self, feed: str, cycle: int):
        return run_feed_import(
            self.spark, feed, self.table, self.schema,
            keys=["strain_id"],
            metadata_cols=["country", "lineage"],
            payload_cols=["seq"],
            checks={"country_required": not_null("country"),
                    "lineage_known": enum_check("lineage", list(LINEAGES))},
            annotate=self._annotate(cycle),
            required_fields={"strain_id", "seq"},
        )

    def prepare_checks(self) -> None:
        """Nothing to fill: the feed model predicts every output."""

    def prepare(self):
        day = self.model.next_day()
        path = os.path.join(self.root, "feed", f"day{day.number}")
        _write_feed(path, day.lines)
        shutil.rmtree(os.path.join(self.root, "feed", f"day{day.number - 2}"), ignore_errors=True)
        return day, path

    def label(self, prepared) -> str:
        return f"day{prepared[0].number}"

    def rows(self, prepared, _out) -> int:
        return len(prepared[0].lines) + 1  # plus the corrupt line

    def op(self, prepared, serve_times: list[float]):
        """One daily cycle; returns what ``check`` needs."""
        from time import perf_counter

        from pyspark.sql import functions as F

        day, path = prepared
        report = self._import(path, day.number)
        dirty = F.col("country").isin(day.dirty)
        self.layer.rebuild_incremental(
            self.spark, self.table, self.derived, {t: dirty for t in self.layer.tables}
        )
        vacuum(self.table, keep=2)
        for t in self.layer.tables:
            vacuum(os.path.join(self.derived, t), keep=2)
        c = day.serve_country
        reads = {}
        t0 = perf_counter()
        reads["table_rows"] = (
            read_published(self.spark, self.table).filter(F.col("country") == c).count()
        )
        t1 = perf_counter()
        reads["lineages"] = read_published(
            self.spark, os.path.join(self.derived, "lineage_by_country")
        ).filter(F.col("country") == c).drop("country").toPandas()
        t2 = perf_counter()
        reads["summary"] = read_published(
            self.spark, os.path.join(self.derived, "country_summary")
        ).toPandas()
        t3 = perf_counter()
        serve_times.extend((t1 - t0, t2 - t1, t3 - t2))
        return report, reads

    def check(self, prepared, out) -> list[str]:
        """Mismatches between the op's outputs and the model (empty = ok)."""
        day, _path = prepared
        report, reads = out
        bad = [f"report.{k}: {getattr(report, k)} != {v}"
               for k, v in day.report.items() if getattr(report, k) != v]
        if not report.ok:
            bad.append("report.ok is False")
        table = read_published(self.spark, self.table).toPandas()
        if frame_digest(table) != day.table_digest:
            bad.append("published table digest")
        for t, (n, digest) in day.summaries.items():
            got = read_published(self.spark, os.path.join(self.derived, t)).toPandas()
            if len(got) != n or frame_digest(got) != digest:
                bad.append(f"{t}: {len(got)} rows (expected {n}) or digest")
        if reads["table_rows"] != day.serve_expect["table_rows"]:
            bad.append("serving read: table rows")
        if frame_digest(reads["lineages"]) != day.serve_expect["lineages"]:
            bad.append("serving read: lineages")
        if frame_digest(reads["summary"]) != day.serve_expect["summary"]:
            bad.append("serving read: summary")
        return bad

    def store_bytes_per_row(self) -> float:
        tables = [self.table] + [os.path.join(self.derived, t) for t in self.layer.tables]
        return published_bytes_per_row(os.path.join(self.root, "published"), tables)
