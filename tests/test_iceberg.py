"""IcebergCatalog: the jar isn't in this sandbox, so these tests cover the
runtime guard plus every pure function (SQL/plan builders, run bookkeeping,
rollback-target arithmetic) the catalog defers to."""

import pytest

from beats_spark.iceberg import (
    IcebergCatalog,
    IcebergSnapshot,
    add_files_sql,
    incomplete_run_ids,
    qualified,
    rollback_sql,
    rollback_target,
    run_snapshots,
    select_snapshot_range,
    snapshots_sql,
)


def snap(sid, run, parent):
    return IcebergSnapshot(snapshot_id=sid, committed_at=0.0,
                           run_id=run, parent_id=parent)


def test_probe_raises_without_runtime(spark):
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        IcebergCatalog(spark, catalog="nosuch")


def test_sql_builders():
    assert qualified("wh", "beats", "sink_a") == "wh.beats.sink_a"
    s = snapshots_sql("wh", "beats", "sink_a")
    assert "wh.beats.sink_a.snapshots" in s and "summary['run_id']" in s
    a = add_files_sql("wh", "beats", "sink_a", "/tmp/stage")
    assert "wh.system.add_files" in a and "`parquet`.`/tmp/stage`" in a
    r = rollback_sql("wh", "beats", "sink_a", "123")
    assert "rollback_to_snapshot" in r and "snapshot_id => 123" in r


def test_rollback_target_tail_run():
    snaps = [snap("1", "r1", None), snap("2", "r2", "1"), snap("3", "r2", "2")]
    assert rollback_target(snaps, "r2") == "1"
    assert run_snapshots(snaps, "r2") == snaps[1:]


def test_rollback_target_table_created_by_run():
    snaps = [snap("1", "r1", None), snap("2", "r1", "1")]
    # r1 created the table: no parent to roll back to -> None (drop table)
    assert rollback_target(snaps, "r1") is None


def test_rollback_target_unknown_run():
    assert rollback_target([snap("1", "r1", None)], "nope") is None


def test_rollback_target_non_tail_raises():
    snaps = [snap("1", "r1", None), snap("2", "r2", "1"), snap("3", "r3", "2")]
    with pytest.raises(ValueError, match="not the tail"):
        rollback_target(snaps, "r2")


def test_incomplete_run_arithmetic():
    per_table = {
        "sink_a": {"r1", "r2"},
        "pipeline_metrics": {"r1", "r2", "r3"},
        "lineage": {"r1", "r3"},
    }
    assert incomplete_run_ids(per_table, per_table["lineage"]) == {"r2"}


def test_select_snapshot_range_contiguous():
    snaps = [snap("1", "a", None), snap("2", "a", "1"),
             snap("3", "b", "2"), snap("4", "b", "3")]
    got = select_snapshot_range(snaps, ["2", "3"], "t")
    assert [s.snapshot_id for s in got] == ["2", "3"]


def test_select_snapshot_range_unknown_id_raises():
    snaps = [snap("1", "a", None), snap("2", "a", "1")]
    with pytest.raises(ValueError, match="unknown snapshot ids"):
        select_snapshot_range(snaps, ["2", "99"], "t")


def test_select_snapshot_range_gap_raises():
    # requesting 1 and 3 would silently replay 2 (another run's snapshot)
    # under a start..end incremental read — must raise instead
    snaps = [snap("1", "a", None), snap("2", "b", "1"), snap("3", "a", "2")]
    with pytest.raises(ValueError, match="not a contiguous"):
        select_snapshot_range(snaps, ["1", "3"], "t")


def test_snapshots_sql_filters_to_current_ancestry():
    """rollback_to_snapshot leaves dead snapshots in .snapshots until
    expire_snapshots; without the .history is_current_ancestor filter a
    rolled-back run stays visible and wedges every later resume."""
    s = snapshots_sql("wh", "beats", "sink_a")
    assert "wh.beats.sink_a.history" in s
    assert "is_current_ancestor" in s


def test_order_by_lineage_breaks_timestamp_ties():
    from beats_spark.iceberg import order_by_lineage

    # committed_at all equal (millisecond tie) and input deliberately
    # shuffled: the parent chain must define the order
    a, b, c = snap("1", "r1", None), snap("2", "r1", "1"), snap("3", "r2", "2")
    assert order_by_lineage([c, a, b]) == [a, b, c]
    # non-linear input (two roots) falls back to input order
    x = [snap("1", None, None), snap("9", None, "7")]
    assert order_by_lineage(list(x)) == x
    assert order_by_lineage([]) == []


def test_sql_literal_escaping():
    from beats_spark.iceberg import sql_str

    a = add_files_sql("wh", "beats", "sink_a", "/data/o'brien/_stage")
    assert "o''brien" in a and "o'brien/_stage')" not in a
    assert sql_str("it's") == "it''s"
    with pytest.raises(ValueError):
        rollback_sql("wh", "beats", "t", "1); DROP TABLE x; --")


class _FakeSpark:
    """Records sql() calls; answers nothing (the catalog methods under test
    are monkeypatched to avoid real metadata queries)."""

    def __init__(self):
        self.calls = []

    def sql(self, q):
        self.calls.append(q)
        return None


def _recovery_catalog(monkeypatch, intents, snaps):
    cat = IcebergCatalog.__new__(IcebergCatalog)
    cat.spark = _FakeSpark()
    cat.catalog = "wh"
    cat.namespace = "beats"
    monkeypatch.setattr(IcebergCatalog, "_run_intents",
                        lambda self, table: intents)
    monkeypatch.setattr(IcebergCatalog, "snapshots",
                        lambda self, table: snaps)
    return cat


def test_append_rows_hands_append_one_dataframe(spark, monkeypatch):
    """IcebergCatalog.append_rows is createDataFrame + append: the rows,
    schema, table and run_id reach append unchanged, in one DataFrame."""
    from pyspark.sql import types as T

    cat = _recovery_catalog(monkeypatch, {}, [])
    cat.spark = spark
    calls = []
    monkeypatch.setattr(
        IcebergCatalog, "append",
        lambda self, df, table, run_id=None: calls.append((df, table, run_id)))
    schema = T.StructType([T.StructField("run_id", T.StringType()),
                           T.StructField("n", T.LongType(), False)])
    rows = [("r1", 3), (None, 4)]
    cat.append_rows(rows, schema, "pipeline_metrics", run_id="r1")
    assert len(calls) == 1
    df, table, run_id = calls[0]
    assert (table, run_id) == ("pipeline_metrics", "r1")
    assert df.schema == schema
    assert [tuple(r) for r in df.collect()] == rows


def test_resolve_intent_attributes_mid_chain_orphan(monkeypatch):
    """A commit landing AFTER the crashed add_files leaves the orphan
    mid-chain; recovery must still find and attribute it (tail-only
    scanning would clear the intent and double-append on replay)."""
    snaps = [snap("1", "r1", None), snap("2", None, "1"),
             snap("3", "r9", "2")]
    cat = _recovery_catalog(monkeypatch, {"rX": "/stage"}, snaps)
    cat._resolve_intent("t", "rX")
    sqls = cat.spark.calls
    assert any("'run-id.2' = 'rX'" in q for q in sqls)
    assert any("run-intent.rX" in q and "UNSET" in q for q in sqls)


def test_resolve_intent_no_orphan_clears_intent(monkeypatch):
    # add_files never committed: replay is safe, intent cleared, nothing
    # attributed
    snaps = [snap("1", "r1", None), snap("2", "r2", "1")]
    cat = _recovery_catalog(monkeypatch, {"rX": "/stage"}, snaps)
    cat._resolve_intent("t", "rX")
    sqls = cat.spark.calls
    assert not any("SET TBLPROPERTIES" in q and "run-id." in q for q in sqls)
    assert any("run-intent.rX" in q and "UNSET" in q for q in sqls)


def test_resolve_intent_ambiguous_orphans_raise(monkeypatch):
    # two unattributed snapshots: cannot attribute safely; the intent must
    # stay recorded (no UNSET) and recovery must refuse
    snaps = [snap("1", None, None), snap("2", None, "1")]
    cat = _recovery_catalog(monkeypatch, {"rX": "/stage"}, snaps)
    with pytest.raises(RuntimeError, match="unattributed"):
        cat._resolve_intent("t", "rX")
    assert cat.spark.calls == []


def test_resolve_intent_noop_without_intent(monkeypatch):
    cat = _recovery_catalog(monkeypatch, {}, [snap("1", None, None)])
    cat._resolve_intent("t", "rX")
    assert cat.spark.calls == []


def test_resolve_intent_ignores_pre_anchor_orphans(monkeypatch):
    """A legitimately run-id-less batch (append with run_id=None) that
    predates the intent's anchor must never be claimed by a crashed adopt:
    here the orphan '2' sits BEFORE the anchor '3', the add_files never
    committed, so recovery clears the intent without attributing anything
    (claiming '2' would let a later rollback_run delete the user's batch)."""
    snaps = [snap("1", "r1", None), snap("2", None, "1"),
             snap("3", "r9", "2")]
    cat = _recovery_catalog(monkeypatch, {"rX": "3:/stage"}, snaps)
    cat._resolve_intent("t", "rX")
    sqls = cat.spark.calls
    assert not any("SET TBLPROPERTIES" in q and "run-id." in q for q in sqls)
    assert any("run-intent.rX" in q and "UNSET" in q for q in sqls)


def test_resolve_intent_attributes_only_post_anchor_orphan(monkeypatch):
    """With a pre-anchor historical orphan AND a post-anchor crashed-adopt
    orphan, only the post-anchor one is a candidate — the historical one
    neither blocks recovery (no ambiguity raise) nor gets claimed."""
    snaps = [snap("1", None, None), snap("2", "r2", "1"),
             snap("3", None, "2")]
    cat = _recovery_catalog(monkeypatch, {"rX": "2:/stage"}, snaps)
    cat._resolve_intent("t", "rX")
    sqls = cat.spark.calls
    assert any("'run-id.3' = 'rX'" in q for q in sqls)
    assert any("run-intent.rX" in q and "UNSET" in q for q in sqls)


def test_resolve_intent_multi_intent_single_orphan_raises(monkeypatch):
    """Two crashed adopts, one committed orphan: attributing it to
    whichever run resolves first could delete the OTHER run's batch under
    the wrong name on rollback — recovery must refuse."""
    snaps = [snap("1", "r1", None), snap("2", None, "1")]
    cat = _recovery_catalog(
        monkeypatch, {"rX": "1:/a", "rY": "1:/b"}, snaps)
    with pytest.raises(RuntimeError, match="pending run-intents"):
        cat._resolve_intent("t", "rX")
    assert cat.spark.calls == []


def test_resolve_intent_legacy_value_scans_everything(monkeypatch):
    """Intents recorded before the anchor format (value = bare src_dir)
    fall back to whole-ancestry scanning."""
    snaps = [snap("1", "r1", None), snap("2", None, "1")]
    cat = _recovery_catalog(monkeypatch, {"rX": "/plain/dir"}, snaps)
    cat._resolve_intent("t", "rX")
    assert any("'run-id.2' = 'rX'" in q for q in cat.spark.calls)


def test_resolve_intent_missing_anchor_raises(monkeypatch):
    """An intent whose anchor snapshot has been expired/rolled back out of
    the ancestry cannot bound the recovery scan — falling back to a whole-
    ancestry scan could claim a legitimate pre-anchor run-id-less batch,
    so recovery must refuse."""
    snaps = [snap("5", "r5", None), snap("6", None, "5")]
    cat = _recovery_catalog(monkeypatch, {"rX": "999:/stage"}, snaps)
    with pytest.raises(RuntimeError, match="no longer in"):
        cat._resolve_intent("t", "rX")
    assert cat.spark.calls == []
