"""The traced run: per-layer split of one workload.

1. Two units with spans on (``spans.TracedPipeline``) around one untraced
   unit; the difference of their median ``Pipeline.run`` times is the
   tracing overhead.
2. Execution self time per layer on the same input (one file for the
   stream), each materialized through the ``noop`` sink: the scan alone,
   then every stage prefix of the chain (a stage's time is the difference to
   the prefix before it), then the routed frame (selector), then the real
   partitioned parquet write (its excess over the routed ``noop`` is
   ``pipeline.write_s``).
3. ``stream_microbatch`` only: the same unit at ``local[1]`` after a
   warm-up there, for ``pipeline.core_efficiency`` (throughput at
   ``local[N]`` over N times the single-core throughput).

Driver build times are span durations; times are medians over the traced
runs (micro-batches for the stream), counts are means per run. A metric of a
layer the workload does not run (e.g. a stage of the other chain) reads 0.
"""

from __future__ import annotations

import os
import shutil
import time

from beats_spark.pipeline import Pipeline, PipelineConfig
from beats_spark.processors import build_chain
from beats_spark.schema import META_PREFIX, SINK_COL
from spans import (TracedCatalog, TracedPipeline, Tracer, job_counts, mean,
                   median, stage_key, traced_selector)
from workloads import access_config, fanout_config

EXEC_REPEATS = 2


def _stage_keys(cfg: PipelineConfig) -> list[str]:
    return [stage_key(i, st.name) for i, st in enumerate(build_chain(cfg.processors))]


STAGE_KEYS = list(dict.fromkeys(_stage_keys(fanout_config()) + _stage_keys(access_config())))

# every per-layer metric a traced run prints, with its unit
PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "pipeline.init_s": "s",
    "pipeline.run_s": "s",
    "pipeline.transform_build_s": "s",
    "pipeline.scan_s": "s",
    "pipeline.write_s": "s",
    "pipeline.unattributed_s": "s",
    "pipeline.jobs_per_run": "count",
    "pipeline.tasks_per_run": "count",
    "pipeline.sink_files_per_run": "count",
    "pipeline.failed_tasks": "count",
    "pipeline.core_efficiency": "ratio",
    **{f"{k}.{m}": "s" for k in STAGE_KEYS for m in ("build_s", "exec_s")},
    "selector.build_s": "s",
    "selector.exec_s": "s",
    "catalog.append_s": "s",
    "catalog.adopt_s": "s",
    "catalog.snapshots_s": "s",
    "catalog.log_lines_read": "count",
    "streaming.overhead_s": "s",
    "streaming.batches": "count",
    "trace.overhead_s": "s",
}


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def exec_split(spark, cfg: PipelineConfig, path: str, out_dir: str) -> dict[str, float]:
    """Materialized self time of the scan, each stage, the selector and the
    partitioned write, medians of ``EXEC_REPEATS`` passes."""
    samples: dict[str, list[float]] = {}
    for rep in range(EXEC_REPEATS):
        pipe = Pipeline(spark, cfg)
        df = spark.read.parquet(path)
        prev = _noop(df)
        samples.setdefault("pipeline.scan_s", []).append(prev)
        prefix = df
        for i, st in enumerate(pipe.stages):
            prefix = st.apply(prefix)
            cum = _noop(prefix)
            samples.setdefault(f"{stage_key(i, st.name)}.exec_s", []).append(cum - prev)
            prev = cum
        routed = pipe.transform(df)
        routed_s = _noop(routed)
        samples.setdefault("selector.exec_s", []).append(routed_s - prev)
        out = os.path.join(out_dir, f"write-{rep}")
        payload = [c for c in routed.columns if not c.startswith(META_PREFIX)]
        t0 = time.perf_counter()
        routed.select(*payload).write.partitionBy(SINK_COL).parquet(out)
        samples.setdefault("pipeline.write_s", []).append(
            time.perf_counter() - t0 - routed_s)
        shutil.rmtree(out, ignore_errors=True)
    return {k: median(v) for k, v in samples.items()}


def traced(spark, wl, session_s: float, cores: int, restart, spans_path: str):
    """Run the traced pass of workload ``wl`` on a ``local[cores]`` session.
    ``restart(n)`` stops the session and returns a new one at ``local[n]``.
    Writes the spans to ``spans_path``. Returns (metrics, units); the units
    feed the correctness gate."""
    tracer = Tracer()

    def make(cfg, wh):
        return TracedPipeline(spark, cfg, TracedCatalog(spark, wh, tracer), tracer)

    # traced, untraced, traced: further warming favours neither side
    with traced_selector(tracer):
        traced_units = [wl.unit(make)]
        plain = [wl.unit()]
        traced_units.append(wl.unit(make))
    tracer.dump(spans_path)
    batches = [b for u in traced_units for b in u.batches if b.ok and b.run_id]
    runs = [b.run_id for b in batches]

    def per_run(name: str) -> float:
        by_run = tracer.per_run(name)
        return median(by_run.get(r, 0.0) for r in runs)

    m: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = session_s
    m["pipeline.init_s"] = median(s.dur for s in tracer.spans if s.name == "pipeline.init")
    m["pipeline.run_s"] = per_run("pipeline.run")
    m["pipeline.transform_build_s"] = per_run("pipeline.transform")
    for k in STAGE_KEYS:
        m[f"{k}.build_s"] = per_run(k)
    m["selector.build_s"] = per_run("selector.compile")
    m["catalog.append_s"] = per_run("catalog.append")
    m["catalog.adopt_s"] = per_run("catalog.adopt")
    m["catalog.snapshots_s"] = per_run("catalog.snapshots")
    m["catalog.log_lines_read"] = mean(
        tracer.counts.get((r, "catalog.log_lines_read"), 0) for r in runs)
    counts = [job_counts(spark, r) for r in runs]
    m["pipeline.jobs_per_run"] = mean(c[0] for c in counts)
    m["pipeline.tasks_per_run"] = mean(c[1] for c in counts)
    m["pipeline.failed_tasks"] = float(sum(c[2] for c in counts))
    m["pipeline.sink_files_per_run"] = mean(b.sink_files for b in batches)
    if wl.name == "stream_microbatch":
        m["streaming.batches"] = mean(len(u.batches) for u in traced_units)
        m["streaming.overhead_s"] = median(
            (u.wall_s - sum(b.latency_s for b in u.batches)) / len(u.batches)
            for u in traced_units if u.batches)
    plain_lat = [b.latency_s for u in plain for b in u.batches if b.ok]
    m["trace.overhead_s"] = m["pipeline.run_s"] - median(plain_lat)

    m.update(exec_split(spark, wl.config(), wl.batch_input(), wl.fresh_dir("split")))
    m["pipeline.unattributed_s"] = m["pipeline.run_s"] - sum(
        m[k] for k in ("pipeline.transform_build_s", "catalog.append_s",
                       "catalog.adopt_s", "pipeline.scan_s", "selector.exec_s",
                       "pipeline.write_s")) - sum(m[f"{k}.exec_s"] for k in STAGE_KEYS)

    units = plain + traced_units
    if wl.single_core_baseline:
        rate = median(u.turns_per_s for u in plain if u.ok)
        wl.spark = restart(1)
        wl.register_lookups()
        units += wl.warm_up() + [wl.unit()]
        if units[-1].ok:
            m["pipeline.core_efficiency"] = rate / (cores * units[-1].turns_per_s)
    return {k: (v, PER_LAYER[k]) for k, v in m.items()}, units
