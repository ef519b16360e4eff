"""Span tracer for the traced run.

It wraps the package's public functions at run time, in every module
that looks them up (``pipelines.feed_import.classify_changes`` as well as
``operators.merge.classify_changes``), and keeps one span per call in
memory: name, start, end, parent and op id. The op id is process-wide,
so calls made from the pipelines' own thread pools land on the op that
is running; a span opened on a thread with no open span of its own
takes the client thread's innermost span as its parent.

``SparkCounters`` reads each op's jobs, stages and tasks from the status
tracker and its shuffle and spill bytes from the REST endpoint.
"""

from __future__ import annotations

import inspect
import json
import os
import sys
import threading
import time
import urllib.request
from collections import defaultdict
from dataclasses import dataclass

from perfbench.common import PACKAGE


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


# (module relative to the package, attribute): the functions wrapped in
# the traced run. The span name is "<module>.<attribute>".
TRACED = (
    ("pipelines.feed_import", "run_feed_import"),
    ("sources.jsonl", "read_jsonl"),
    ("sources.jsonl", "check_field_drift"),
    ("sources.quarantine", "validate"),
    ("operators.merge", "classify_changes"),
    ("operators.merge", "merge_delta"),
    ("operators.external", "run_fasta_tool"),
    ("operators.publish", "publish_versioned"),
    ("operators.publish", "publish_incremental"),
    ("operators.publish", "vacuum"),
    ("operators.publish", "read_published"),
    ("pipelines.derived", "DerivedLayer.rebuild_incremental"),
    ("pipelines.release", "run_release_cycle"),
    ("pipelines.release", "batch_completeness"),
    ("pipelines.release", "build_release_plan"),
    ("pipelines.release", "resequencing_decisions"),
    ("sources.tabular", "read_csv_strict"),
    ("catalog", "load_table"),
)
MANIFEST_WRITE = "release.manifest_write"  # DataFrameWriter.csv inside an op


class Tracer:
    def __init__(self, spark):
        self.tool_rows = spark.sparkContext.accumulator(0)  # tool output lines parsed
        self._tool_rows_at = 0
        self.spans: list[Span] = []
        self.op: int | None = None  # process-wide, never thread-local
        self.counts: dict[tuple[int | None, str], float] = defaultdict(float)
        self._lock = threading.Lock()
        self._stacks: dict[int, list[int]] = defaultdict(list)
        self._client = threading.get_ident()
        self._patched: list[tuple[object, str, object]] = []
        self._frames: dict[int, object] = {}  # load_table results seen, by id

    # -- spans ---------------------------------------------------------
    def _open(self, name: str) -> int:
        me = threading.get_ident()
        with self._lock:
            stack = self._stacks[me]
            if stack:
                parent = stack[-1]
            else:
                client = self._stacks[self._client]
                parent = client[-1] if client else None
            self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
            idx = len(self.spans) - 1
            stack.append(idx)
            return idx

    def _close(self, idx: int) -> None:
        with self._lock:
            self.spans[idx].end = time.perf_counter()
            self._stacks[threading.get_ident()].remove(idx)

    def begin(self, op: int) -> None:
        self.op = op
        self._tool_rows_at = self.tool_rows.value

    def end(self) -> None:
        """Close the op; accumulator updates land before an action returns."""
        self.count("operators.external.rows", self.tool_rows.value - self._tool_rows_at)
        self.op = None

    def seen(self, frames) -> None:
        """Frames ``load_table`` returned before tracing began (warm-up)."""
        for f in frames:
            self._frames[id(f)] = f

    def count(self, name: str, value: float) -> None:
        with self._lock:
            self.counts[(self.op, name)] += value

    def wrap(self, name: str, fn):
        sig = inspect.signature(fn)
        after = {
            "operators.publish.publish_versioned": self._after_publish,
            "operators.publish.publish_incremental": self._after_publish,
            "catalog.load_table": self._after_load_table,
        }.get(name)

        def traced(*args, **kwargs):
            if name == "operators.external.run_fasta_tool":
                args, kwargs = self._count_tool_rows(sig, args, kwargs)
            idx = self._open(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                self._close(idx)
            if after is not None:
                after(name, sig.bind(*args, **kwargs).arguments, result)
            return result

        traced.__wrapped__ = fn
        return traced

    def _count_tool_rows(self, sig, args, kwargs):
        """Route the tool's ``parse_line`` through a counter; it runs in
        the Python workers, so the count travels as an accumulator."""
        bound = sig.bind(*args, **kwargs)
        parse_line, acc = bound.arguments["parse_line"], self.tool_rows

        def counting(line):
            acc.add(1)
            return parse_line(line)

        bound.arguments["parse_line"] = counting
        return bound.args, bound.kwargs

    def _after_publish(self, name: str, args: dict, version: int) -> None:
        """Files and bytes the publish wrote fresh (hard links carried
        over from the previous version are not writes)."""
        vdir = os.path.join(args["table_dir"], f"v{version}")
        files = written = 0
        fresh_leaves = set()
        for dirpath, _dirs, names in os.walk(vdir):
            for f in names:
                if f.startswith(("_", ".")):
                    continue
                st = os.stat(os.path.join(dirpath, f))
                if st.st_nlink == 1:
                    files += 1
                    written += st.st_size
                    fresh_leaves.add(dirpath)
        self.count("operators.publish.files_written", files)
        self.count("operators.publish.bytes_written", written)
        if name.endswith("publish_incremental") and self._inside("pipelines.derived"):
            self.count("pipelines.derived.partitions_rewritten", len(fresh_leaves))

    def _after_load_table(self, _name: str, _args: dict, frame) -> None:
        self.count("catalog.load_table.calls", 1)
        with self._lock:
            hit = id(frame) in self._frames  # the dict keeps each frame alive
            self._frames[id(frame)] = frame
        self.count("catalog.load_table.hits", 1 if hit else 0)

    def _inside(self, prefix: str) -> bool:
        with self._lock:
            client = self._stacks[self._client]
            return any(self.spans[i].name.startswith(prefix) for i in client)

    # -- patching ------------------------------------------------------
    def install(self) -> None:
        """Wrap every TRACED function wherever a loaded module of the
        package or of this benchmark holds a reference to it, plus
        DataFrameWriter.csv for the manifest write."""
        import importlib

        from pyspark.sql.readwriter import DataFrameWriter

        for mod_name, attr in TRACED:
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            owner, _, fn_name = attr.rpartition(".")
            name = f"{mod_name}.{fn_name}"
            if owner:  # a method: patch the class
                cls = getattr(mod, owner)
                self._patch(cls, fn_name, self.wrap(name, getattr(cls, fn_name)))
                continue
            fn = getattr(mod, fn_name)
            wrapper = self.wrap(name, fn)
            for m in list(sys.modules.values()):
                mname = getattr(m, "__name__", "") or ""
                if not (mname.startswith(PACKAGE) or mname.startswith("perfbench")):
                    continue
                for a, v in list(vars(m).items()):
                    if v is fn:
                        self._patch(m, a, wrapper)
        self._patch(DataFrameWriter, "csv", self.wrap(MANIFEST_WRITE, DataFrameWriter.csv))

    def _patch(self, owner, attr: str, value) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, value = self._patched.pop()
            setattr(owner, attr, value)

    # -- results -------------------------------------------------------
    def self_times(self) -> list[float]:
        """Each span's duration minus the part its children cover."""
        children: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                children[s.parent].append(i)
        out = []
        for i, s in enumerate(self.spans):
            covered = 0.0
            cur_start = cur_end = None
            for a, b in sorted(
                (max(self.spans[c].start, s.start), min(self.spans[c].end, s.end))
                for c in children[i]
            ):
                if b <= a:
                    continue
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out.append(s.end - s.start - covered)
        return out

    def per_op(self, n_ops: int) -> dict[str, float]:
        """Span totals per op: "<name>.s" is time inside the call,
        "<name>.self_s" that time minus child spans."""
        totals: dict[str, float] = defaultdict(float)
        for s, self_s in zip(self.spans, self.self_times()):
            if s.op is None:
                continue
            totals[f"{s.name}.s"] += s.end - s.start
            totals[f"{s.name}.self_s"] += self_s
        return {k: v / n_ops for k, v in totals.items()}

    def ops_with(self, name: str) -> set[int]:
        return {s.op for s in self.spans if s.name == name and s.op is not None}

    def op_total(self, name: str, ops: set[int]) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name and s.op in ops)

    def counter(self, name: str) -> float:
        return sum(v for (op, n), v in self.counts.items() if n == name and op is not None)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


class SparkCounters:
    """Per-op Spark work: jobs, stages and tasks from the status tracker,
    shuffle-write and spill bytes from the REST endpoint (the UI runs in
    the traced run only)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self.api = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"
        self.next_job = self._scan_jobs(0)[1]

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _scan_jobs(self, start: int) -> tuple[list[int], int]:
        """Job ids from ``start`` on that the tracker knows (ids are dense)."""
        self._drain()
        jobs = []
        j = start
        while self.tracker.getJobInfo(j) is not None:
            jobs.append(j)
            j += 1
        return jobs, j

    def begin(self) -> None:
        self.next_job = self._scan_jobs(self.next_job)[1]

    def end(self) -> dict[str, float]:
        jobs, self.next_job = self._scan_jobs(self.next_job)
        stages: set[int] = set()
        for j in jobs:
            stages.update(self.tracker.getJobInfo(j).stageIds)
        tasks = failed = ran = 0
        for sid in stages:
            info = self.tracker.getStageInfo(sid)
            if info is not None:
                tasks += info.numCompletedTasks
                failed += info.numFailedTasks
                ran += info.numCompletedTasks > 0
        shuffle = spill = 0
        with urllib.request.urlopen(f"{self.api}/stages") as resp:
            for st in json.load(resp):
                if st["stageId"] in stages:
                    shuffle += st["shuffleWriteBytes"]
                    spill += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
        return {
            "spark.jobs_per_op": len(jobs),
            # Stages that ran tasks: how many reused-shuffle stages a job
            # lists as skipped depends on how the package's overlapped jobs
            # interleave, so counting every listed stage does not repeat.
            "spark.stages_per_op": ran,
            "spark.tasks_per_op": tasks,
            "spark.shuffle_write_bytes_per_op": shuffle,
            "spark.spill_bytes_per_op": spill,
            "spark.failed_tasks": failed,
            "spark.cached_rdds_after_op": self.sc._jsc.getPersistentRDDs().size(),
        }
