"""Deterministic synthetic transcript tables (FIXTURES.md §1).

Two generators:

1. ``synthesize_transcripts(spark, ...)`` — pure-Spark, seedless-deterministic
   (all pseudo-randomness is ``xxhash64`` of the row id, so the same rows come
   out on any cluster size / partitioning — no Python RNG on executors).
   Zipf-skewed ``conv_id`` so a few conversations are hot (exercises the
   salted-repartition path), ~5% malformed text lines (parse-failure path),
   ~1% unknown tools (left-join miss path).

2. ``transcripts_from_events(spark, sf_dir)`` + ``TRANSCRIPTS_SQL`` — the SAME
   derivation of a transcript-shaped table from the driver-provided ``events``
   parquet, expressed once as a DataFrame plan and once as ANSI SQL, so every
   pipeline operator can be checked Spark-vs-DuckDB by the driver's
   correctness gate (CORRECTNESS_r{N}.json).

The derived transcript columns match BASELINE.json ``input_hint`` exactly:
``conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

# ---------------------------------------------------------------------------
# 1. Pure-Spark synthetic transcripts (unit tests, bench input)
# ---------------------------------------------------------------------------

ROLES = ["user", "assistant", "system", "tool"]
TOOLS = ["search", "code", "browser", "none"]


def _h(col, salt: int):
    """Deterministic uniform int64 from a row id — xxhash64 is a pure JVM
    expression, so generation is reproducible at any parallelism."""
    return F.xxhash64(col, F.lit(salt))


def _pick(col, salt: int, choices: list[str]):
    idx = F.pmod(_h(col, salt), F.lit(len(choices)))
    expr = F.lit(choices[0])
    for i in range(1, len(choices)):
        expr = F.when(idx == i, F.lit(choices[i])).otherwise(expr)
    return expr


def synthesize_transcripts(
    spark: SparkSession,
    n_turns: int = 100_000,
    n_convs: int = 2_000,
    hot_frac: float = 0.2,
    malformed_frac: float = 0.05,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic transcripts with Zipf-ish skew.

    ``hot_frac`` of all turns land on conv 0 (the hot key); the rest spread
    round-robin over convs 1..n_convs-1. turn_idx is dense 0..len-1 per
    conv_id and computed ARITHMETICALLY from the row id — no window, no
    shuffle: generation is a pure map over ``spark.range`` and scales
    linearly with cores (a windowed row_number would serialize the hot
    conversation through one task).
    """
    n_hot = int(n_turns * hot_frac)
    rest = n_turns - n_hot
    others = max(n_convs - 1, 1)
    df = spark.range(0, n_turns, 1, partitions or spark.sparkContext.defaultParallelism)
    rid = F.col("id")

    is_hot = rid < n_hot
    r = rid - n_hot  # id within the non-hot range
    conv_num = F.when(is_hot, F.lit(0)).otherwise(F.pmod(r, F.lit(others)) + 1)
    # round-robin ⇒ conv c (c≥1) receives r = c-1, c-1+others, ... so
    # r // others is its dense 0-based turn index
    turn_idx = F.when(is_hot, rid).otherwise(F.floor(r / F.lit(others))).cast("int")
    cs = conv_num.cast("string")
    # pad-but-never-truncate: lpad TRUNCATES strings longer than the pad
    # width, so a 7+-digit id would collide distinct conversations
    conv_id = F.concat(F.lit("conv-"),
                       F.when(F.length(cs) >= 6, cs).otherwise(F.lpad(cs, 6, "0")))

    role = _pick(rid, 3, ROLES)
    tool = F.when(
        F.pmod(_h(rid, 4), F.lit(100)) == 0, F.lit("mcp-custom")  # ~1% unknown
    ).otherwise(_pick(rid, 5, TOOLS))

    level = _pick(rid, 6, ["info", "info", "info", "warn", "error"])
    latency = F.pmod(_h(rid, 7), F.lit(500))
    caller_line = F.pmod(_h(rid, 8), F.lit(900)) + 100
    msg = _pick(rid, 9, ["tool call ok", "tool call failed", "stream chunk",
                         "plan step", "final answer"])
    well_formed = F.format_string(
        'level=%s caller=agent.py:%d msg="%s" latency_ms=%d',
        level, caller_line, msg, latency,
    )
    malformed = F.concat(F.lit("MALFORMED "), F.hex(_h(rid, 10)))
    text = F.when(
        F.pmod(_h(rid, 11), F.lit(1000)) < F.lit(int(malformed_frac * 1000)),
        malformed,
    ).otherwise(well_formed)

    ts = F.timestamp_seconds(
        F.unix_timestamp(F.lit("2026-01-01 00:00:00")) + turn_idx.cast("long") * 7
    )
    return df.select(
        conv_id.alias("conv_id"),
        turn_idx.alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )


# ---------------------------------------------------------------------------
# 2. Dual Spark/DuckDB transcript derivation from the `events` table
# ---------------------------------------------------------------------------
#
# Mapping (must stay EXACTLY in sync between the two definitions below):
#   conv_id  = 'conv-' || lpad(user_id, 6, '0')  (pad only, never truncate)
#   turn_idx = row_number() over (partition by user_id order by event_id) - 1
#   role     = click→user, signup→user, view→assistant, purchase→tool,
#              error→system
#   tool     = event_id%97==0 → 'mcp-custom' (unknown) else
#              ['search','code','browser','none'][event_id % 4]
#              (decoupled from event_type so role filters don't empty a sink)
#   latency  = cast(round(value*100) as bigint)  (value has 2 decimals)
#   text     = event_id%20==0 → 'MALFORMED ' || props   (~5% parse failures)
#              else 'level=' || (error→'error' else 'info')
#                   || ' caller=agent.py:' || event_id%500
#                   || ' msg="tool call ' || event_type
#                   || '" latency_ms=' || latency
#   ts       = ts

def transcripts_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    role = (
        F.when(F.col("event_type").isin("click", "signup"), "user")
        .when(F.col("event_type") == "view", "assistant")
        .when(F.col("event_type") == "purchase", "tool")
        .otherwise("system")
    )
    tool = F.when(F.col("event_id") % 97 == 0, "mcp-custom").otherwise(
        F.when(F.col("event_id") % 4 == 0, "search")
        .when(F.col("event_id") % 4 == 1, "code")
        .when(F.col("event_id") % 4 == 2, "browser")
        .otherwise("none")
    )
    level = F.when(F.col("event_type") == "error", "error").otherwise("info")
    latency = F.round(F.col("value") * 100).cast("long")
    well = F.concat(
        F.lit("level="), level,
        F.lit(" caller=agent.py:"), (F.col("event_id") % 500).cast("string"),
        F.lit(' msg="tool call '), F.col("event_type"),
        F.lit('" latency_ms='), latency.cast("string"),
    )
    text = F.when(
        F.col("event_id") % 20 == 0, F.concat(F.lit("MALFORMED "), F.col("props"))
    ).otherwise(well)
    w = Window.partitionBy("user_id").orderBy("event_id")
    return ev.select(
        # pad-but-never-truncate (see synthesize_transcripts): a 7-digit
        # user_id must not collide into another user's conv_id
        F.concat(F.lit("conv-"),
                 F.when(F.length(F.col("user_id").cast("string")) >= 6,
                        F.col("user_id").cast("string"))
                 .otherwise(F.lpad(F.col("user_id").cast("string"), 6, "0"))
                 ).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        F.col("ts"),
    )


# The byte-identical derivation as a DuckDB CTE; queries in __spark_entry__
# prepend this to their oracle SQL.
TRANSCRIPTS_SQL = """
transcripts AS (
  SELECT
    'conv-' || CASE WHEN length(CAST(user_id AS VARCHAR)) >= 6
                    THEN CAST(user_id AS VARCHAR)
                    ELSE lpad(CAST(user_id AS VARCHAR), 6, '0') END AS conv_id,
    CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS INTEGER) AS turn_idx,
    CASE WHEN event_type IN ('click', 'signup') THEN 'user'
         WHEN event_type = 'view' THEN 'assistant'
         WHEN event_type = 'purchase' THEN 'tool'
         ELSE 'system' END AS role,
    CASE WHEN event_id % 20 = 0 THEN 'MALFORMED ' || props
         ELSE 'level=' || (CASE WHEN event_type = 'error' THEN 'error' ELSE 'info' END)
              || ' caller=agent.py:' || CAST(event_id % 500 AS VARCHAR)
              || ' msg="tool call ' || event_type
              || '" latency_ms=' || CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)
         END AS text,
    CASE WHEN event_id % 97 = 0 THEN 'mcp-custom'
         WHEN event_id % 4 = 0 THEN 'search'
         WHEN event_id % 4 = 1 THEN 'code'
         WHEN event_id % 4 = 2 THEN 'browser'
         ELSE 'none' END AS tool,
    ts
  FROM events
)
"""


# Enrichment lookup dims (FIXTURES.md §2) — tiny, broadcast-joined.
TOOLS_LOOKUP = [
    # (tool, tool_family, tool_cost_class, sink_hint) — 'mcp-custom' is
    # deliberately absent: exercises the left-join-miss path.
    ("search", "retrieval", "cheap", "sink_search"),
    ("code", "execution", "expensive", "sink_code"),
    ("browser", "retrieval", "expensive", "sink_browser"),
    ("none", "n/a", "free", "sink_other"),
]
TOOLS_LOOKUP_COLS = ["tool", "tool_family", "tool_cost_class", "sink_hint"]


def tools_lookup_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(TOOLS_LOOKUP, TOOLS_LOOKUP_COLS)


def tools_lookup_sql() -> str:
    rows = ", ".join(
        f"('{t}', '{f}', '{c}', '{s}')" for t, f, c, s in TOOLS_LOOKUP
    )
    return (
        f"tools_lookup(tool, tool_family, tool_cost_class, sink_hint) AS "
        f"(SELECT * FROM (VALUES {rows}))"
    )
