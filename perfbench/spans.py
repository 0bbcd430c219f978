"""In-memory spans around the public calls into each beats_spark layer.

Nothing inside the library is changed: the traced run wraps the calls from
outside, through benchmark-side subclasses (``TracedPipeline``,
``TracedCatalog``), per-instance wrappers around each top-level
``Stage.apply``, and a wrapper around the ``compile_selector`` name that
``beats_spark.pipeline`` calls. Spans of one ``Pipeline.run`` share its run
id; a span's self time is its duration minus that of its child spans.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import statistics
import threading
import time
import uuid
from dataclasses import dataclass

from beats_spark import pipeline as pipeline_mod
from beats_spark.catalog import ParquetCatalog
from beats_spark.pipeline import Pipeline


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str | None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory; each thread has its own parent stack (the
    streaming runner calls ``Pipeline.run`` from a callback thread)."""

    def __init__(self):
        self.spans: list[Span] = []
        self.counts: dict[tuple[str | None, str], int] = {}
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, run_id: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if run_id is None and parent is not None:
            run_id = self.spans[parent].run_id
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), 0.0, parent, run_id))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    def current_run(self) -> str | None:
        stack = self._stack()
        return self.spans[stack[-1]].run_id if stack else None

    def count(self, name: str, n: int) -> None:
        """Add ``n`` to counter ``name`` of the current run."""
        key = (self.current_run(), name)
        with self._lock:
            self.counts[key] = self.counts.get(key, 0) + n

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def self_times(self) -> list[tuple[Span, float]]:
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        return [(s, s.dur - child[i]) for i, s in enumerate(self.spans)]

    def per_run(self, name: str) -> dict[str, float]:
        """Summed duration of the spans called ``name`` in each run id."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s.name == name and s.run_id is not None:
                out[s.run_id] = out.get(s.run_id, 0.0) + s.dur
        return out

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as one JSON line."""
        with open(path, "w") as f:
            for i, (s, own) in enumerate(self.self_times()):
                f.write(json.dumps({"id": i, "name": s.name, "start": s.start,
                                    "end": s.end, "parent": s.parent,
                                    "run_id": s.run_id, "self_s": own}) + "\n")


def stage_key(idx: int, name: str) -> str:
    slug = re.sub(r"[^A-Za-z0-9_]+", "_", name).strip("_")
    return f"processors.{idx + 1:02d}_{slug}"


class TracedCatalog(ParquetCatalog):
    """ParquetCatalog whose public methods record spans; counts the
    snapshot-log lines every ``snapshots`` call reads."""

    def __init__(self, spark, warehouse, tracer: Tracer):
        super().__init__(spark, warehouse)
        self.tracer = tracer

    def snapshots(self, table):
        with self.tracer.span("catalog.snapshots"):
            out = super().snapshots(table)
            self.tracer.count("catalog.log_lines_read", len(out))
        return out

    def append(self, df, table, run_id=None):
        with self.tracer.span("catalog.append"):
            return super().append(df, table, run_id=run_id)

    def adopt_directory(self, src_dir, table, run_id=None):
        with self.tracer.span("catalog.adopt"):
            return super().adopt_directory(src_dir, table, run_id=run_id)

    def read(self, table, snapshot_ids=None):
        with self.tracer.span("catalog.read"):
            return super().read(table, snapshot_ids)

    def rollback_run(self, run_id):
        with self.tracer.span("catalog.rollback_run"):
            return super().rollback_run(run_id)


class TimedPipeline(Pipeline):
    """Pipeline that records the wall time of every ``run`` call, from its
    start to its return after the lineage commit. Two clock reads per run;
    this is all the instrumentation the untraced measurement carries."""

    def __init__(self, spark, config, catalog):
        super().__init__(spark, config, catalog)
        # (run_id, seconds, RunResult or the exception the run raised)
        self.calls: list[tuple[str | None, float, object]] = []

    def run(self, df, run_id=None, **kwargs):
        t0 = time.perf_counter()
        try:
            res = super().run(df, run_id=run_id, **kwargs)
        except Exception as e:
            self.calls.append((run_id, time.perf_counter() - t0, e))
            raise
        self.calls.append((res.run_id, time.perf_counter() - t0, res))
        return res


class TracedPipeline(TimedPipeline):
    """Pipeline with spans on ``__init__``/``transform``/``run``, on each
    top-level ``Stage.apply`` and on ``compile_selector``. Every ``run``
    also sets a Spark job group named after its run id, so the jobs and
    tasks it started can be read back from ``statusTracker``."""

    def __init__(self, spark, config, catalog, tracer: Tracer):
        self.tracer = tracer
        with tracer.span("pipeline.init"):
            super().__init__(spark, config, catalog)
        for i, st in enumerate(self.stages):
            st.apply = tracer.wrap(stage_key(i, st.name), st.apply)

    def transform(self, df):
        with self.tracer.span("pipeline.transform"):
            return super().transform(df)

    def run(self, df, run_id=None, **kwargs):
        run_id = run_id or uuid.uuid4().hex[:12]
        sc = self.spark.sparkContext
        sc.setJobGroup(run_id, "perfbench traced run")
        try:
            with self.tracer.span("pipeline.run", run_id=run_id):
                return super().run(df, run_id=run_id, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)


@contextlib.contextmanager
def traced_selector(tracer: Tracer):
    """Route ``Pipeline.transform``'s ``compile_selector`` call through a
    span for the duration of the traced run."""
    orig = pipeline_mod.compile_selector
    pipeline_mod.compile_selector = tracer.wrap("selector.compile", orig)
    try:
        yield
    finally:
        pipeline_mod.compile_selector = orig


def job_counts(spark, run_id: str) -> tuple[int, int, int]:
    """(jobs, tasks, failed tasks) that Spark ran under job group ``run_id``."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(run_id)
    tasks = failed = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            stage = st.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numTasks
                failed += stage.numFailedTasks
    return len(jobs), tasks, failed


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0
