"""The workloads: their configs, seeded inputs, plain-SQL truth, the
measured unit of work and the correctness gate.

A *unit* is what the measurement loop repeats: one ``Pipeline.run`` into a
fresh warehouse (``access_log_parse``), or one ``run_stream`` over all input
files into a fresh warehouse and checkpoint (``stream_microbatch``). Each unit yields one ``Batch`` per
``Pipeline.run`` it made.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import gen
from beats_spark.catalog import ParquetCatalog
from beats_spark.pipeline import LINEAGE_TABLE, METRICS_TABLE, PipelineConfig, fixture_config
from beats_spark.processors.enrich import register_lookup
from beats_spark.streaming.runner import run_stream
from beats_spark.testdata import tools_lookup_df
from spans import TimedPipeline

# the stream splits STREAM_FILES x STREAM_FILE_TURNS; access lines per run
STREAM_FILES = 4
STREAM_FILE_TURNS = 10_000
WARM_UP_FILES = 3      # files in the stream's one warm-up round
ACCESS_LINES = 8_000
STREAM_TIMEOUT_S = 150

NGINX_DEFS = {"HTTPDATE": r"\d{2}/[A-Z][a-z]{2}/\d{4}:\d{2}:\d{2}:\d{2} [+-]\d{4}"}
ACCESS_PATTERN = (
    '%{IP:source.ip} - (-|%{DATA:user.name}) \\[%{HTTPDATE:nginx.access.time}\\] '
    '"%{WORD:http.request.method} %{NOTSPACE:url.original} HTTP/%{NUMBER:http.version}" '
    '%{NUMBER:http.response.status_code:long} %{NUMBER:http.response.body.bytes:long} '
    '"(-|%{DATA:http.request.referrer})" "(-|%{DATA:user_agent.original})"'
)


def fanout_config() -> PipelineConfig:
    """FIXTURES.md §5 chain plus the ``tools`` enrich (as bench.py runs it)."""
    cfg = fixture_config()
    cfg.processors.append(
        {"enrich": {"lookup": "tools", "on": "tool", "target": "tool_meta",
                    "default": {"tool_family": "unknown"}}})
    return cfg


def access_config() -> PipelineConfig:
    """nginx access chain, modelled on tests/test_module_nginx.py."""
    return PipelineConfig(
        processors=[
            {"grok": {"field": "text", "pattern": ACCESS_PATTERN,
                      "pattern_definitions": NGINX_DEFS,
                      "null_empty_captures": True}},
            {"uri_parts": {"field": "url.original", "ignore_missing": True}},
            {"urldecode": {"fields": [{"from": "url.query", "to": "url.query"}]}},
            {"timestamp": {"field": "nginx.access.time",
                           "layouts": ["dd/MMM/yyyy:H:m:s Z"],
                           "target_field": "ts", "ignore_failure": True}},
            {"user_agent": {"field": "user_agent.original", "ignore_missing": True}},
            {"enrich_cidr": {"lookup": "bench_geo", "on": "source.ip",
                             "target": "source.geo",
                             "fields": ["country_iso_code", "city_name"]}},
            {"if": {"range": {"http.response.status_code": {"gte": 500}}},
             "then": [{"add_tags": {"tags": ["http_error"]}}]},
        ],
        routes=[
            {"sink": "access_error",
             "when": {"range": {"http.response.status_code": {"gte": 500}}}},
            {"sink": "geo_%{[source.geo.country_iso_code]}", "case": "lower",
             "when": {"has_fields": ["source.geo.country_iso_code"]}},
            {"sink": "access_private",
             "when": {"has_fields": ["http.response.status_code"]}},
        ],
    )


# plain-SQL truth over the generated input (view ``bench_input``); written
# against the raw columns, independent of the processors under test
FANOUT_SINK_SQL = """
  CASE WHEN tool IN ('search', 'code', 'browser') THEN concat('sink_', tool)
       ELSE 'sink_other' END"""
FANOUT_TRUTH = f"""
SELECT {{key}} AS key, {FANOUT_SINK_SQL} AS sink, count(*) AS n
FROM bench_input WHERE role <> 'system' GROUP BY 1, 2"""
ACCESS_TRUTH = """
WITH t AS (
  SELECT regexp_extract(text, '" ([0-9]{3}) [0-9]+ "', 1) AS status,
         split(text, ' ')[0] AS ip FROM bench_input)
SELECT 'all' AS key, CASE
  WHEN status = '' THEN 'dead_letter'
  WHEN CAST(status AS INT) >= 500 THEN 'access_error'
  WHEN ip LIKE '198.51.100.%' THEN 'geo_aa'
  WHEN ip LIKE '203.0.113.%' AND CAST(split(ip, '[.]')[3] AS INT) BETWEEN 64 AND 127
    THEN 'geo_dd'
  WHEN ip LIKE '203.0.113.%' THEN 'geo_bb'
  WHEN ip LIKE '192.0.2.%' THEN 'geo_cc'
  ELSE 'access_private' END AS sink, count(*) AS n
FROM t GROUP BY 1, 2"""


@dataclass
class Batch:
    run_id: str | None
    latency_s: float
    turns: int
    ok: bool
    sink_bytes: int = 0
    sink_files: int = 0
    error: str = ""


@dataclass
class Unit:
    wall_s: float
    batches: list[Batch]
    attempted: int                 # Pipeline.run calls the unit should make
    errors: list[str] = field(default_factory=list)   # unit-level failures

    @property
    def failed(self) -> int:
        if self.errors:
            return self.attempted
        return self.attempted - sum(b.ok for b in self.batches)

    @property
    def ok(self) -> bool:
        return self.failed == 0

    @property
    def turns_per_s(self) -> float:
        return sum(b.turns for b in self.batches) / self.wall_s

    def messages(self) -> list[str]:
        return self.errors + [b.error for b in self.batches if b.error]


def _data_files(path: str) -> list[str]:
    return [os.path.join(d, f) for d, _, files in os.walk(path) for f in files
            if not f.startswith((".", "_"))]


def _run_paths(cat, res) -> list[str]:
    return [s.path for t in res.sinks for s in cat.snapshots(t)
            if s.run_id == res.run_id]


class Workload:
    name = ""
    turns = 0          # input turns per unit
    files = 4          # input part files
    batch_turns = 0    # input turns per Pipeline.run
    single_core_baseline = False   # the traced run also measures local[1]

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.input = ""
        self.expected: list[dict[str, int]] = []
        self._n = 0

    # -- set-up ---------------------------------------------------------------

    def config(self) -> PipelineConfig:
        raise NotImplementedError

    def register_lookups(self) -> None:
        spark = self.spark
        register_lookup("tools", lambda: tools_lookup_df(spark))
        register_lookup(
            "bench_geo",
            lambda: spark.createDataFrame(gen.GEO_DIM_ROWS, gen.GEO_DIM_SCHEMA))

    def generate_df(self):
        raise NotImplementedError

    def fresh_dir(self, stem: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{stem}-{self._n}")

    def generate(self) -> float:
        """Write the seeded input to a fresh directory; returns seconds."""
        path = self.fresh_dir("input")
        t0 = time.perf_counter()
        self.generate_df().write.parquet(path)
        took = time.perf_counter() - t0
        if self.input:
            shutil.rmtree(self.input, ignore_errors=True)
        self.input = path
        return took

    def truth(self) -> list[str]:
        """Expected per-sink counts (one dict per Pipeline.run) by plain SQL,
        plus the by-construction class counts; returns the mismatches."""
        self.spark.read.parquet(self.input).createOrReplaceTempView("bench_input")
        by_key: dict[str, dict[str, int]] = {}
        for r in self.spark.sql(self.truth_sql()).collect():
            by_key.setdefault(r["key"], {})[r["sink"]] = r["n"]
        self.by_key = by_key
        self.expected = sorted(by_key.values(), key=lambda d: sorted(d.items()))
        return self.class_checks()

    def truth_sql(self) -> str:
        return FANOUT_TRUTH.format(key="'all'")

    def class_checks(self) -> list[str]:
        row = self.spark.sql(f"""
            SELECT count(*) AS n,
                   count_if(role = 'system') AS system,
                   count_if(text LIKE 'MALFORMED %') AS malformed,
                   count_if(tool = '{gen.UNKNOWN_TOOL}') AS unknown
            FROM bench_input""").first()
        n = self.turns
        want = {"n": n, "system": n // gen.SYSTEM_EVERY,
                "malformed": n // gen.MALFORMED_EVERY,
                "unknown": n // gen.UNKNOWN_EVERY}
        return [f"{k}: {row[k]} != {v}" for k, v in want.items() if row[k] != v]

    # -- the measured unit ------------------------------------------------------

    def pipeline(self, warehouse: str, make=None):
        """``make(config, warehouse)`` builds the pipeline; the default is
        the untraced TimedPipeline over a ParquetCatalog."""
        if make is None:
            return TimedPipeline(self.spark, self.config(),
                                 ParquetCatalog(self.spark, warehouse))
        return make(self.config(), warehouse)

    def batch_input(self) -> str:
        """Input of one ``Pipeline.run``."""
        return self.input

    def warm_up(self) -> list[Unit]:
        """Untimed units, so JIT compilation and lazy set-up are done before
        the measurement."""
        return [self.unit()]

    def unit(self, make=None) -> Unit:
        wh = self.fresh_dir("wh")
        pipe = self.pipeline(wh, make)
        t0 = time.perf_counter()
        try:
            pipe.run(self.spark.read.parquet(self.input))
        except Exception:  # recorded in pipe.calls, reported as a failed batch
            pass
        unit = Unit(time.perf_counter() - t0, self.check(pipe), attempted=1)
        shutil.rmtree(wh, ignore_errors=True)
        return unit

    # -- correctness gate -------------------------------------------------------

    def check(self, pipe) -> list[Batch]:
        cat = pipe.catalog
        out = []
        for run_id, secs, res in pipe.calls:
            b = Batch(run_id, secs, self.batch_turns, ok=False)
            if isinstance(res, Exception):
                b.error = f"raised {type(res).__name__}: {res}"
            else:
                b.error = self.check_run(cat, res)
                files = [f for p in _run_paths(cat, res) for f in _data_files(p)]
                b.sink_files = len(files)
                b.sink_bytes = sum(os.path.getsize(f) for f in files)
            b.ok = not b.error
            out.append(b)
        return out

    def check_run(self, cat, res) -> str:
        if res.sinks not in self.expected:
            return f"sink counts {res.sinks} not in expected {self.expected}"
        if res.events_in != res.events_dropped + sum(res.sinks.values()):
            return "events_in != dropped + routed"
        if res.events_in != self.batch_turns:
            return f"events_in {res.events_in} != input turns {self.batch_turns}"
        runs = [s.run_id for s in cat.snapshots(LINEAGE_TABLE)]
        if runs.count(res.run_id) != 1:
            return f"lineage holds run {res.run_id} {runs.count(res.run_id)} times"
        if not any(s.run_id == res.run_id for s in cat.snapshots(METRICS_TABLE)):
            return "no metrics snapshot"
        return ""


class AccessLogParse(Workload):
    name = "access_log_parse"
    turns = batch_turns = ACCESS_LINES

    def config(self):
        return access_config()

    def generate_df(self):
        return gen.access_lines(self.spark, self.turns, self.seed, self.files)

    def truth_sql(self):
        return ACCESS_TRUTH

    def class_checks(self):
        row = self.spark.sql(f"""
            SELECT count(*) AS n,
                   count_if(text LIKE 'garbled %') AS bad,
                   count_if(text LIKE '10.20.30.%') AS private,
                   count_if(text LIKE '%curl/%' AND text NOT LIKE 'garbled %') AS curl
            FROM bench_input""").first()
        n = self.turns
        bad = n // gen.BAD_LINE_EVERY
        want = {"n": n, "bad": bad, "private": n // len(gen.CIDR_CLASSES),
                # curl is UA family 4: ids ≡ 4 (mod 6), minus malformed ids
                "curl": sum(1 for i in range(4, n, 6)
                            if i % gen.BAD_LINE_EVERY != 13)}
        return [f"{k}: {row[k]} != {v}" for k, v in want.items() if row[k] != v]

    def check_run(self, cat, res):
        err = super().check_run(cat, res)
        if err:
            return err
        flagged = (self.spark.read.parquet(*_run_paths(cat, res))
                   .filter(F.array_contains("log.flags", "grok_parsing_error"))
                   .count())
        planted = self.turns // gen.BAD_LINE_EVERY
        if flagged != planted:
            return f"grok failure tags {flagged} != planted malformed {planted}"
        return ""


class StreamMicrobatch(Workload):
    name = "stream_microbatch"
    turns = STREAM_FILES * STREAM_FILE_TURNS
    files = STREAM_FILES
    batch_turns = STREAM_FILE_TURNS
    single_core_baseline = True

    def config(self):
        return fanout_config()

    def generate_df(self):
        return gen.transcripts(self.spark, self.turns, self.seed, self.files)

    def truth_sql(self):
        return FANOUT_TRUTH.format(key="input_file_name()")

    def truth(self):
        problems = super().truth()
        self.by_file = {os.path.basename(k): v for k, v in self.by_key.items()}
        return problems

    def warm_up(self) -> list[Unit]:
        return [self.unit(files=WARM_UP_FILES)]

    def batch_input(self) -> str:
        return os.path.join(self.input, sorted(self.by_file)[0])

    def unit(self, make=None, files: int | None = None) -> Unit:
        """One stream over the first ``files`` input files (all by default),
        one file per micro-batch, into a fresh warehouse and checkpoint."""
        names = sorted(self.by_file)[:files]
        wh, ckpt = self.fresh_dir("wh"), self.fresh_dir("ckpt")
        pipe = self.pipeline(wh, make)
        schema = self.spark.read.parquet(self.input).schema
        source = (self.spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(os.path.join(self.input, "{" + ",".join(names) + "}")))
        t0 = time.perf_counter()
        query = run_stream(pipe, source, checkpoint=ckpt)
        finished = query.awaitTermination(STREAM_TIMEOUT_S)
        unit = Unit(time.perf_counter() - t0, [], attempted=len(names))
        if not finished:
            query.stop()
            unit.errors.append(f"stream did not finish in {STREAM_TIMEOUT_S} s")
        if query.exception() is not None:
            unit.errors.append(f"stream failed: {query.exception()}")
        unit.batches = self.check(pipe)
        # one lineage run per input file, and every file's rows exactly once
        runs = [s.run_id for s in pipe.catalog.snapshots(LINEAGE_TABLE)]
        if len(runs) != len(names) or len(set(runs)) != len(runs):
            unit.errors.append(f"lineage has {len(runs)} runs "
                               f"({len(set(runs))} distinct) for {len(names)} files")
        committed = sorted((sorted(r.sinks.items()) for _, _, r in pipe.calls
                            if not isinstance(r, Exception)))
        if committed != sorted(sorted(self.by_file[n].items()) for n in names):
            unit.errors.append("committed batches do not match the input files "
                               "one to one")
        shutil.rmtree(wh, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        return unit


WORKLOADS = {w.name: w for w in (StreamMicrobatch, AccessLogParse)}
