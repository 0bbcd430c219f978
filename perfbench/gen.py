"""Seeded load generators for the benchmark workloads.

Every row is a pure function of ``(row id, seed)``: the pseudo-random parts
are ``xxhash64(id, seed, salt)``, so the same seed gives byte-identical
tables at any parallelism. Row *classes* (malformed text, unknown tool,
dropped ``system`` role, UA family, CIDR class) depend on the row id alone,
so their counts are fixed by the row count and the seed only changes row
content. The correctness gate in ``workloads.py`` recomputes the truth from
the generated tables with plain SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

KNOWN_TOOLS = ["search", "code", "browser", "none"]
UNKNOWN_TOOL = "mcp-custom"

# class periods (row id modulo), shared by the generators and the gate
SYSTEM_EVERY = 10      # id % 10 == 3 → role "system" (dropped by drop_event)
MALFORMED_EVERY = 20   # id % 20 == 9 → malformed fixture text (5%)
UNKNOWN_EVERY = 100    # id % 100 == 37 → unknown tool (1%)
BAD_LINE_EVERY = 50    # id % 50 == 13 → malformed access line (2%)

# (family, UA template); {a}/{b}/{c} are seeded version numbers
UA_FAMILIES = [
    ("Firefox", "Mozilla/5.0 (Macintosh; Intel Mac OS X 10.{a}; rv:{b}.0) "
                "Gecko/20100101 Firefox/{b}.0"),
    ("Chrome", "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
               "(KHTML, like Gecko) Chrome/{b}.0.{c}.{a} Safari/537.36"),
    ("Mobile Safari", "Mozilla/5.0 (iPhone; CPU iPhone OS 16_{a} like Mac OS X)"
                      " AppleWebKit/605.1.15 (KHTML, like Gecko) Version/16.{a}"
                      " Mobile/15E148 Safari/604.1"),
    ("Edge", "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
             "(KHTML, like Gecko) Chrome/{b}.0.0.0 Safari/537.36 Edg/{b}.0.{c}.{a}"),
    ("curl", "curl/8.{a}.{c}"),
    ("Googlebot", "Mozilla/5.0 (compatible; Googlebot/2.{a}; "
                  "+http://www.google.com/bot.html)"),
]

# CIDR classes by id % 5: (first three octets, last-octet base, span)
CIDR_CLASSES = [
    ("10.20.30", 0, 256),       # private: no geo row
    ("198.51.100", 0, 256),
    ("203.0.113", 0, 64),
    ("203.0.113", 64, 64),      # the nested /26 inside the /24
    ("192.0.2", 0, 256),
]
GEO_DIM_ROWS = [
    ("198.51.100.0/24", "AA", "Northtown"),
    ("203.0.113.0/24", "BB", "Southville"),
    ("203.0.113.64/26", "DD", "Southville Annex"),
    ("192.0.2.0/24", "CC", "Westfield"),
]
GEO_DIM_SCHEMA = "cidr string, country_iso_code string, city_name string"

_PATHS = ["/", "/index.html", "/docs/intro.html", "/img/logo.png",
          "/api/v1/items", "/search", "/static/app.js", "/login"]
_QUERY_WORDS = ["hello%20world", "caf%C3%A9", "a%2Fb%2Fc", "x%3D1%26y%3D2",
                "plain", "100%25", "tab%09sep", "%E2%9C%93ok"]
_STATUS = [200, 200, 200, 200, 301, 304, 404, 500, 503]
_USERS = ["-", "-", "-", "alice", "bob", "carol"]


def _h(rid: Column, seed: int, salt: int) -> Column:
    return F.xxhash64(rid, F.lit(seed), F.lit(salt))


def _pick(rid: Column, seed: int, salt: int, choices: list) -> Column:
    idx = F.pmod(_h(rid, seed, salt), F.lit(len(choices)))
    return F.element_at(F.array(*[F.lit(c) for c in choices]), (idx + 1).cast("int"))


def _num(rid: Column, seed: int, salt: int, mod: int) -> Column:
    return F.pmod(_h(rid, seed, salt), F.lit(mod))


def transcripts(spark: SparkSession, n: int, seed: int, files: int) -> DataFrame:
    """Fixture-shaped transcript turns (the FIXTURES.md dissect tokenizer).

    ``conv_id`` is log-uniform over 1..n/50 conversations (Zipf exponent 1:
    a handful of conversations are hot). ``spark.range`` with ``files``
    partitions splits ids into equal contiguous ranges, so a write yields
    ``files`` part files of identical per-class counts."""
    rid = F.col("id")
    n_convs = max(n // 50, 2)
    u = _num(rid, seed, 1, 1_000_000) / F.lit(1_000_000.0)
    conv = F.floor(F.pow(F.lit(float(n_convs)), u))
    role = F.when(F.pmod(rid, F.lit(SYSTEM_EVERY)) == 3, F.lit("system")).otherwise(
        _pick(rid, seed, 2, ["user", "assistant", "tool"]))
    tool = F.when(F.pmod(rid, F.lit(UNKNOWN_EVERY)) == 37, F.lit(UNKNOWN_TOOL)).otherwise(
        _pick(rid, seed, 3, KNOWN_TOOLS))
    well_formed = F.format_string(
        'level=%s caller=agent.py:%d msg="%s" latency_ms=%d',
        _pick(rid, seed, 4, ["info", "info", "info", "warn", "error"]),
        _num(rid, seed, 5, 900) + 100,
        _pick(rid, seed, 6, ["tool call ok", "tool call failed", "stream chunk",
                             "plan step", "final answer"]),
        _num(rid, seed, 7, 500),
    )
    text = F.when(
        F.pmod(rid, F.lit(MALFORMED_EVERY)) == 9,
        F.concat(F.lit("MALFORMED "), F.hex(_h(rid, seed, 8))),
    ).otherwise(well_formed)
    return spark.range(0, n, 1, files).select(
        F.format_string("conv-%06d", conv.cast("long")).alias("conv_id"),
        rid.cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        F.timestamp_seconds(F.lit(1_767_225_600) + rid * 7).alias("ts"),
    )


def access_lines(spark: SparkSession, n: int, seed: int, files: int) -> DataFrame:
    """Transcripts whose ``text`` is an nginx-style access line."""
    rid = F.col("id")
    cls = F.pmod(rid, F.lit(len(CIDR_CLASSES))).cast("int")
    octet = F.lit(0)
    prefix = F.lit("")
    for i, (pfx, base, span) in enumerate(CIDR_CLASSES):
        prefix = F.when(cls == i, F.lit(pfx)).otherwise(prefix)
        octet = F.when(cls == i, _num(rid, seed, 10, span) + base).otherwise(octet)
    ip = F.concat_ws(".", prefix, octet.cast("string"))
    fam = F.pmod(rid, F.lit(len(UA_FAMILIES))).cast("int")
    ua = F.lit("")
    for i, (_, tpl) in enumerate(UA_FAMILIES):
        ua = F.when(fam == i, F.format_string(
            tpl.replace("{a}", "%1$d").replace("{b}", "%2$d").replace("{c}", "%3$d"),
            _num(rid, seed, 11, 9) + 1, _num(rid, seed, 12, 40) + 80,
            _num(rid, seed, 13, 5000) + 1000)).otherwise(ua)
    has_query = _num(rid, seed, 14, 3) > 0
    url = F.when(has_query, F.concat(
        _pick(rid, seed, 15, _PATHS), F.lit("?q="), _pick(rid, seed, 16, _QUERY_WORDS),
        F.lit("&page="), _num(rid, seed, 17, 50).cast("string"),
    )).otherwise(_pick(rid, seed, 15, _PATHS))
    when = F.date_format(
        F.timestamp_seconds(F.lit(1_741_651_200) + _num(rid, seed, 18, 86_400 * 30)),
        "dd/MMM/yyyy:HH:mm:ss '+0000'")
    line = F.format_string(
        '%s - %s [%s] "%s %s HTTP/1.1" %d %d "%s" "%s"',
        ip, _pick(rid, seed, 19, _USERS), when,
        _pick(rid, seed, 20, ["GET", "GET", "GET", "POST", "HEAD"]), url,
        _pick(rid, seed, 21, _STATUS), _num(rid, seed, 22, 50_000),
        _pick(rid, seed, 23, ["-", "https://example.net/start", "-"]), ua,
    )
    text = F.when(
        F.pmod(rid, F.lit(BAD_LINE_EVERY)) == 13,
        F.concat(F.lit("garbled upstream frame "), F.hex(_h(rid, seed, 24))),
    ).otherwise(line)
    return spark.range(0, n, 1, files).select(
        F.format_string("edge-%03d", _num(rid, seed, 25, 64)).alias("conv_id"),
        rid.cast("int").alias("turn_idx"),
        F.lit("tool").alias("role"),
        text.alias("text"),
        F.lit("browser").alias("tool"),
        F.timestamp_seconds(F.lit(1_741_651_200) + rid).alias("ts"),
    )
