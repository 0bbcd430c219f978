"""Dotted-path helpers (MapStr analogue) tests."""

from pyspark.sql import functions as F

from beats_spark.event import (
    Event,
    append_flag,
    drop_path,
    get_path,
    has_path,
    with_path,
)
from beats_spark.processors import build_stage


def test_with_path_creates_nested(spark):
    df = spark.createDataFrame([(1,)], "id int")
    df = with_path(df, "a.b.c", F.lit("x"))
    assert df.collect()[0]["a"]["b"]["c"] == "x"
    # deepen an existing struct
    df = with_path(df, "a.b.d", F.lit(7))
    row = df.collect()[0]
    assert row["a"]["b"]["c"] == "x" and row["a"]["b"]["d"] == 7
    # overwrite a leaf
    df = with_path(df, "a.b.c", F.lit("y"))
    assert df.collect()[0]["a"]["b"]["c"] == "y"


def test_has_get_path(spark):
    df = spark.createDataFrame([(1,)], "id int")
    df = with_path(df, "s.x", F.lit(5))
    assert has_path(df.schema, "s.x") and not has_path(df.schema, "s.y")
    assert df.select(get_path(df, "s.x").alias("v")).collect()[0]["v"] == 5
    assert df.select(get_path(df, "nope").alias("v")).collect()[0]["v"] is None


def test_drop_and_rename(spark):
    df = spark.createDataFrame([(1,)], "id int")
    df = with_path(df, "s.x", F.lit(5))
    df = with_path(df, "s.y", F.lit(6))
    df = drop_path(df, "s.x")
    assert not has_path(df.schema, "s.x") and has_path(df.schema, "s.y")
    df = build_stage("rename", {"fields": [{"from": "s.y", "to": "t.z"}]}
                     ).apply(df)
    assert not has_path(df.schema, "s") and df.collect()[0]["t"]["z"] == 6


def test_drop_last_field_removes_root(spark):
    df = with_path(spark.createDataFrame([(1,)], "id int"), "s.only", F.lit(1))
    df = drop_path(df, "s.only")
    assert "s" not in df.columns


def test_add_tags_and_flags(spark):
    df = spark.createDataFrame([(1,)], "id int")
    df = build_stage("add_tags", {"tags": ["t1", "t2"]}).apply(df)
    df = build_stage("add_tags", {"tags": ["t3"]}).apply(df)
    assert df.collect()[0]["tags"] == ["t1", "t2", "t3"]

    def flagged(df, flag, cond):
        ev = Event(df)
        append_flag(ev, flag, cond)
        return ev.frame()

    df = flagged(df, "truncated", F.col("id") == 1)
    assert df.collect()[0]["log"]["flags"] == ["truncated"]
    df2 = flagged(df, "x", F.col("id") == 99)
    assert df2.collect()[0]["log"]["flags"] == ["truncated"]


def test_with_path_untouched_rows_keep_null_parent(spark):
    """A conditional write (when(cond, v).otherwise(old NULL)) must not
    flip untouched rows from parent=NULL to an all-null struct — MapStr.Put
    only creates intermediates for events the processor actually ran on."""
    df = spark.createDataFrame([(1, "hit"), (2, "miss")], "id int, k string")
    df = with_path(df, "p.x", F.when(F.col("k") == "never", F.lit("v")))
    assert df.collect()[0]["p"] is None  # no row matched: parent stays NULL
    df2 = spark.createDataFrame(
        [(1, "hit", None), (2, "miss", None)],
        "id int, k string, p struct<x:string>")
    df2 = with_path(df2, "p.y",
                    F.when(F.col("k") == "hit", F.lit("v"))
                    .otherwise(get_path(df2, "p.y")))
    rows = {r["id"]: r["p"] for r in df2.collect()}
    assert rows[1]["y"] == "v"
    assert rows[2] is None


def test_with_path_survives_user_column_named_like_staging(spark):
    """A user column that collides with the internal staging name must
    survive a with_path call untouched."""
    df = spark.createDataFrame(
        [("keep", "m")], "__with_path_value__ string, message string")
    out = with_path(df, "a.b", F.lit("x"))
    row = out.collect()[0]
    assert row["__with_path_value__"] == "keep"
    assert row["a"]["b"] == "x"
    # case variant: Spark resolution is case-insensitive by default, so the
    # guard must compare names case-insensitively too
    df2 = spark.createDataFrame(
        [("keep", "m")], "__WITH_PATH_VALUE__ string, message string")
    row2 = with_path(df2, "a.b", F.lit("x")).collect()[0]
    assert row2["__WITH_PATH_VALUE__"] == "keep"
    assert row2["a"]["b"] == "x"


# ---------------------------------------------------------------------------
# with_paths (batched multi-path writes)

def test_with_paths_matches_sequential_with_path(spark):
    """Non-overlapping nested + flat updates: batched result row-equal to
    the sequential with_path loop."""
    from beats_spark.event import with_paths

    df = spark.createDataFrame(
        [("u1", 7, ("old",)), ("u2", None, None)],
        "id string, n int, p struct<keep:string>")
    ups = {
        "flat": F.upper(F.col("id")),
        "p.a": F.col("n").cast("string"),
        "p.b.c": F.when(F.col("n").isNotNull(), F.lit("x")),
        "q.z": F.col("n") * 2,
    }
    got = with_paths(df, dict(ups)).orderBy("id").collect()
    want = df
    for path, v in ups.items():
        want = with_path(want, path, v)
    want = want.orderBy("id").collect()
    assert [r.asDict(True) for r in got] == [r.asDict(True) for r in want]
    # pre-existing foreign struct field survives
    assert got[0]["p"]["keep"] == "old"


def test_with_paths_all_null_root_stays_null(spark):
    from beats_spark.event import with_paths

    df = spark.createDataFrame([(1,)], "n int")
    out = with_paths(df, {"r.a": F.lit(None).cast("string"),
                          "r.b": F.lit(None).cast("string"),
                          "s": F.lit("x")}).collect()[0]
    assert out["r"] is None       # every written value NULL → root NULL
    assert out["s"] == "x"


def test_with_paths_keeps_write_order_of_new_roots(spark):
    """New roots are appended in write order, whether written whole or
    per nested field."""
    from beats_spark.event import with_paths

    df = spark.createDataFrame([(1,)], "n int")
    out = with_paths(df, {"q.z": F.lit(1), "flat": F.lit(2), "r.y": F.lit(3)})
    assert out.columns == ["n", "q", "flat", "r"]


def test_event_prefix_overlap_applies_in_order(spark):
    """A root written both wholly and per-field is order-dependent — the
    overlay applies the whole-root write before the per-field one, and
    with_paths itself refuses the overlapping batch."""
    import pytest

    from beats_spark.event import Event, with_paths

    df = spark.createDataFrame([(1,)], "n int")
    ups = {
        "r": F.struct(F.lit("a").alias("a"), F.lit("b").alias("b")),
        "r.a": F.lit("A"),
    }
    ev = Event(df)
    for path, value in ups.items():
        ev.set(path, value)
    out = ev.frame().collect()[0]
    assert out["r"].asDict() == {"a": "A", "b": "b"}
    with pytest.raises(ValueError, match="overlaps"):
        with_paths(df, ups)


def test_with_paths_temp_collision_with_target_and_column(spark):
    """Targets or existing columns named like the internal __wpN__ temps
    must neither be dropped nor clobbered."""
    from beats_spark.event import with_paths

    df = spark.createDataFrame([("keep", 1)], "__wp0__ string, n int")
    out = with_paths(df, {"a.b": F.lit("x"),
                          "c": F.lit("y")}).collect()[0]
    assert out["__wp0__"] == "keep"
    assert out["a"]["b"] == "x" and out["c"] == "y"
    # a target literally named __wp0__ is written, not dropped
    df2 = spark.createDataFrame([(1,)], "n int")
    out2 = with_paths(df2, {"__wp0__": F.lit("v"),
                            "x.y": F.lit("w")}).collect()[0]
    assert out2["__wp0__"] == "v"
    assert out2["x"]["y"] == "w"


def test_copy_fields_chained_pairs_read_own_writes(spark):
    """filebeat copies pairs sequentially per event: a later pair reading
    an earlier pair's target gets the NEW value (the Event overlay returns
    the pending write for a path written earlier in the stage)."""
    from beats_spark.processors import apply_chain, build_chain

    df = spark.createDataFrame([("v", "stale")], "a string, b string")
    out = apply_chain(df, build_chain([
        {"copy_fields": {"fields": [{"from": "a", "to": "b"},
                                    {"from": "b", "to": "c"}],
                         "fail_on_error": False}},
    ])).collect()[0]
    assert out["b"] == "v"
    assert out["c"] == "v"  # reads the copied b, not the stale one
