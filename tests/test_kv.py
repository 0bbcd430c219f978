"""kv processor: dynamic key=value → map<string,string> (the ES ingest kv /
Logstash kv shape; consumed by auditd-class module pipelines, e.g.
filebeat/module/auditd/log/ingest/pipeline.yml:25-35)."""

import pytest
from pyspark.sql import functions as F

from beats_spark.processors import apply_chain, build_chain


def _run(spark, text, cfg):
    df = spark.createDataFrame([(text,)], "text string")
    out = apply_chain(df, build_chain([{"kv": dict({"field": "text"}, **cfg)}]))
    return out.collect()[0]


def test_kv_basic_logfmt(spark):
    r = _run(spark, "a=1 b=two c=", {})
    assert r["kv"] == {"a": "1", "b": "two", "c": ""}


def test_kv_auditd_main_shape(spark):
    """The auditd.log.kv stage: field_split \\s+, value_split =."""
    text = ("op=SPD-delete auid=4294967295 ses=4294967295 res=1 "
            "src=192.168.2.0 src_prefixlen=24 dst=192.168.0.0 "
            "dst_prefixlen=16")
    r = _run(spark, text, {"field_split": r"\s+", "value_split": "="})
    assert r["kv"]["op"] == "SPD-delete"
    assert r["kv"]["src_prefixlen"] == "24"
    assert len(r["kv"]) == 8


def test_kv_lookahead_field_split_keeps_quoted_spaces(spark):
    """The auditd sub_kv stage splits only before the next key
    (\\s+(?=[^\\s]+=)), so quoted values containing spaces stay whole."""
    text = 'cwd="/" cmd="check sip peers" terminal=? res=success'
    r = _run(spark, text, {"field_split": r"\s+(?=[^\s]+=)",
                           "value_split": "="})
    assert r["kv"]["cmd"] == '"check sip peers"'
    assert r["kv"]["res"] == "success"


def test_kv_value_split_once(spark):
    """value_split splits ONCE: '=' inside the value survives."""
    r = _run(spark, "q=a=b=c x=1", {})
    assert r["kv"]["q"] == "a=b=c"


def test_kv_strict_malformed_part_fails_row(spark):
    """ES parity: a non-empty part without value_split fails the row
    (map NULL + kv_parsing_error flag)."""
    r = _run(spark, "user pid=4151 uid=497", {})
    assert r["kv"] is None
    assert "kv_parsing_error" in r["log"]["flags"]


def test_kv_lenient_skips_malformed(spark):
    r = _run(spark, "user pid=4151 uid=497", {"strict": False})
    assert r["kv"] == {"pid": "4151", "uid": "497"}
    log = r.asDict().get("log")
    assert log is None or not (log["flags"] or [])


def test_kv_include_exclude_prefix(spark):
    r = _run(spark, "a=1 b=2 c=3",
             {"include_keys": ["a", "b"], "exclude_keys": ["b"],
              "prefix": "p_"})
    assert r["kv"] == {"p_a": "1"}


def test_kv_trim_and_strip_brackets(spark):
    r = _run(spark, "<a>=[1] b='x' c=(y)",
             {"trim_key": "<>", "strip_brackets": True})
    assert r["kv"] == {"a": "1", "b": "x", "c": "y"}


def test_kv_trim_value(spark):
    r = _run(spark, "a=--1-- b=2", {"trim_value": "-"})
    assert r["kv"] == {"a": "1", "b": "2"}


def test_kv_trim_every_ascii_punctuation(spark):
    """Each ASCII punctuation character, as trim_key and as trim_value,
    trims exactly that character from both ends and never breaks the Java
    character class (``[``, ``&``, ``\\``, ``]``, ``^``, ``-`` are class
    metacharacters there)."""
    import string

    chars = string.punctuation
    df = spark.createDataFrame(
        [tuple(f"{c}{c}k{c}x{c}\t{c}v{c}y{c}" for c in chars)],
        ", ".join(f"t{i} string" for i in range(len(chars))))
    chain = [{"kv": {"field": f"t{i}", "field_split": " ",
                     "value_split": "\t", "trim_key": c, "trim_value": c,
                     "target": f"kv{i}"}} for i, c in enumerate(chars)]
    row = apply_chain(df, build_chain(chain)).collect()[0]
    for i, c in enumerate(chars):
        assert row[f"kv{i}"] == {f"k{c}x": f"v{c}y"}, c


def test_kv_repeated_key_first_wins(spark):
    """Documented divergence: ES appends repeats into an array; a
    map<string,string> keeps the FIRST occurrence."""
    r = _run(spark, "a=1 a=2 b=3", {})
    assert r["kv"] == {"a": "1", "b": "3"}


def test_kv_target_path_and_nested_field(spark):
    df = spark.createDataFrame([(("a=1 b=2",),)], "auditd struct<raw:string>")
    out = apply_chain(df, build_chain([
        {"kv": {"field": "auditd.raw", "target": "auditd.parsed"}},
    ]))
    r = out.collect()[0]
    assert r["auditd"]["parsed"] == {"a": "1", "b": "2"}


def test_kv_missing_field(spark):
    df = spark.createDataFrame([("x",)], "other string")
    with pytest.raises(ValueError, match="missing field"):
        apply_chain(df, build_chain([{"kv": {"field": "text"}}]))
    out = apply_chain(df, build_chain([
        {"kv": {"field": "text", "ignore_missing": True}}]))
    assert out.columns == ["other"]


def test_kv_null_source(spark):
    df = spark.createDataFrame([(None,), ("a=1",)], "text string")
    # without ignore_missing a NULL source row fails (ES: "field is null")
    out = apply_chain(df, build_chain([{"kv": {"field": "text"}}])).collect()
    by_text = {r["text"]: r for r in out}
    assert by_text[None]["kv"] is None
    assert "kv_parsing_error" in by_text[None]["log"]["flags"]
    assert by_text["a=1"]["kv"] == {"a": "1"}
    # with ignore_missing the NULL row passes through unflagged
    out2 = apply_chain(df, build_chain([
        {"kv": {"field": "text", "ignore_missing": True}}])).collect()
    by_text2 = {r["text"]: r for r in out2}
    assert by_text2[None]["kv"] is None
    log = by_text2[None].asDict().get("log")
    assert log is None or not (log["flags"] or [])


def test_kv_empty_parts_skipped(spark):
    """Leading/trailing/multiple separators never produce phantom pairs."""
    r = _run(spark, "  a=1   b=2  ", {})
    assert r["kv"] == {"a": "1", "b": "2"}


def test_kv_config_validation(spark):
    with pytest.raises(ValueError, match="unknown config"):
        build_chain([{"kv": {"field": "x", "bogus": 1}}])


def test_kv_plan_stays_jvm(spark):
    df = spark.createDataFrame([("a=1 b=2",)], "text string")
    out = apply_chain(df, build_chain([{"kv": {"field": "text"}}]))
    plan = out._jdf.queryExecution().executedPlan().toString()
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan


def test_kv_conditional_when(spark):
    df = spark.createDataFrame([("a=1", "x"), ("b=2", "y")],
                               "text string, role string")
    out = apply_chain(df, build_chain([
        {"kv": {"field": "text", "when": {"equals": {"role": "x"}}}},
    ])).collect()
    by_role = {r["role"]: r for r in out}
    assert by_role["x"]["kv"] == {"a": "1"}
    assert by_role["y"]["kv"] is None
