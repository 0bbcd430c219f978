"""Property test: the Event overlay must equal, row for row, one
``with_path``/``drop_path`` per write folded over the evolving frame.

Hypothesis draws a nested schema (structs may be NULL per row) and an
ordered write list mixing literal sets, NULL sets, sets that read another
path (possibly written earlier in the list) and drops. Paths repeat and
overlap by prefix. With a condition, each fold step is
``when(cond, v).otherwise(current)``, with the condition evaluated once on
the input frame as the reference evaluates ``when`` before the processor
runs. All-NULL structs are mapped to NULL on both sides: that corner is
order-dependent (see ``with_paths``).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from beats_spark.event import Event, drop_path, get_path, has_path, with_path

# the name tree schemas are drawn from; ``c`` is never in the input
TREE = {"a": {"x": {"p": {}}, "y": {}}, "b": {"x": {"p": {}}}}
PATHS = ["a", "a.x", "a.y", "a.x.p", "b", "b.x", "b.x.p", "c", "c.x"]
ROWS = 3


@st.composite
def field_type(draw, kids: dict):
    """None (absent), 'string', or {name: type} for a non-empty struct."""
    kinds = ["absent", "string"] + (["struct"] * 2 if kids else [])
    kind = draw(st.sampled_from(kinds))
    if kind == "absent":
        return None
    if kind == "string":
        return "string"
    fields = {n: draw(field_type(sub)) for n, sub in kids.items()}
    fields = {n: t for n, t in fields.items() if t is not None}
    return fields or {next(iter(kids)): "string"}


def ddl(t) -> str:
    if t == "string":
        return "string"
    return "struct<" + ", ".join(f"{n}: {ddl(s)}" for n, s in t.items()) + ">"


@st.composite
def value(draw, t):
    if t == "string":
        return draw(st.sampled_from([None, "v1", "v2"]))
    if draw(st.integers(0, 3)) == 0:
        return None  # a NULL struct row
    return tuple(draw(value(s)) for s in t.values())


@st.composite
def frames(draw):
    roots = {n: draw(field_type(kids)) for n, kids in TREE.items()}
    roots = {n: t for n, t in roots.items() if t is not None}
    schema = ", ".join(["id int"] + [f"{n} {ddl(t)}" for n, t in roots.items()])
    rows = [(i, *[draw(value(t)) for t in roots.values()]) for i in range(ROWS)]
    return schema, rows


path = st.sampled_from(PATHS)
write = st.one_of(
    st.tuples(st.just("lit"), path, st.sampled_from(["L1", "L2"])),
    st.tuples(st.just("null"), path),
    st.tuples(st.just("read"), path, path),
    st.tuples(st.just("drop"), path),
)
# None, a condition on a column no write touches, or one on a written path
conds = st.one_of(st.none(), st.just("id"), path)


def compile_cond(df, kind):
    if kind is None:
        return None
    if kind == "id":
        return F.col("id") != 1
    return get_path(df, kind).isNull() | (F.col("id") == 0)


def via_event(df, writes, cond):
    ev = Event(df, cond)
    for w in writes:
        op, p = w[0], w[1]
        if op == "lit":
            ev.set(p, F.lit(w[2]))
        elif op == "null":
            ev.set(p, F.lit(None).cast("string"))
        elif op == "read":
            ev.set(p, ev.get(w[2]))
        else:
            ev.drop(p)
    return ev.frame()


def via_fold(df, writes, cond):
    if cond is not None:
        df = df.withColumn("__c", cond)
        cond = F.col("__c")
    for w in writes:
        op, p = w[0], w[1]
        if op == "drop":
            if cond is None:
                df = drop_path(df, p)
            elif has_path(df.schema, p):
                df = with_path(df, p, F.when(cond, F.lit(None))
                               .otherwise(get_path(df, p)))
            continue
        v = {"lit": lambda: F.lit(w[-1]),
             "null": lambda: F.lit(None).cast("string"),
             "read": lambda: get_path(df, w[-1])}[op]()
        if cond is not None:
            v = F.when(cond, v).otherwise(get_path(df, p))
        df = with_path(df, p, v)
    return df.drop("__c") if cond is not None else df


def norm(v):
    if isinstance(v, dict):
        v = {k: norm(x) for k, x in v.items()}
        return None if all(x is None for x in v.values()) else v
    return v


def rows_of(build):
    """Normalized rows, or the error class when the plan does not analyze
    (a conditional write of a string over a struct has no common type, in
    the fold and in the overlay alike)."""
    try:
        rows = build().orderBy("id").collect()
    except AnalysisException:
        return "AnalysisException"
    return [{k: norm(x) for k, x in r.asDict(True).items()} for r in rows]


FLAT_A = ("id int, a struct<x: string>", [(0, ("old",)), (1, None), (2, (None,))])


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(frame=frames(), writes=st.lists(write, min_size=1, max_size=5),
       cond_kind=conds)
# a value read before a flush keeps meaning the pre-flush value: ``c`` holds
# a.x's OLD value when the overlapping write to ``a`` forces the flush
@example(frame=FLAT_A, writes=[("read", "c", "a.x"), ("lit", "a.x", "L1"),
                               ("read", "a", "c")], cond_kind=None)
# the condition is evaluated on the input: a flush that rewrites the path it
# reads (a.x) must not change which rows the later drop applies to
@example(frame=FLAT_A, writes=[("lit", "a.x", "L1"), ("drop", "a")],
         cond_kind="a.x")
def test_event_matches_sequential_fold(spark, frame, writes, cond_kind):
    schema, rows = frame
    df = spark.createDataFrame(rows, schema)
    cond = compile_cond(df, cond_kind)
    got = rows_of(lambda: via_event(df, writes, cond))
    want = rows_of(lambda: via_fold(df, writes, cond))
    assert got == want, (schema, rows, writes, cond_kind)


@pytest.mark.parametrize("cond_kind", [None, "a.x"])
def test_event_one_batch_when_writes_are_independent(spark, monkeypatch,
                                                     cond_kind):
    """Independent writes cost one with_paths batch, applied by frame();
    with nothing written, frame() is the input frame itself."""
    import beats_spark.event as event

    batches = []
    real = event.with_paths

    def spy(df, ups):
        batches.append(sorted(ups))
        return real(df, ups)

    monkeypatch.setattr(event, "with_paths", spy)
    df = spark.createDataFrame([(0, ("v1",))], "id int, a struct<x: string>")
    ev = Event(df, compile_cond(df, cond_kind))
    ev.set("a.y", ev.get("a.x"))
    ev.set("b", F.lit("L1"))
    ev.set("a.y", F.concat(ev.get("a.y"), ev.get("b")))
    row = ev.frame().collect()[0]
    assert batches == [["a.y", "b"]]
    assert (row["a"]["y"], row["b"]) == ("v1L1", "L1")
    assert Event(df, compile_cond(df, cond_kind)).frame() is df
