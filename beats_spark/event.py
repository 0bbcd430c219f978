"""Dotted-path column helpers and the field-write overlay — the columnar
analogue of Beats' MapStr.

The reference mutates row documents in place with dotted-path resolution
(common.MapStr: mapFind at libbeat/common/mapstr.go:444-482, Put/GetValue/
Delete at mapstr.go:124-201, AddTags at mapstr.go:377-412). Here a "path"
addresses nested StructType columns and every "mutation" is a projection the
optimizer can see through: set = struct rebuild via Column.withField, delete
= Column.dropFields, tags = array concat. All plan-time; nothing per-row.

Processors write through one primitive, :class:`Event`, built per stage
application from ``(df, cond)``:

- reads (``get``/``has``/``type``) see the writes made earlier in the same
  stage, so rule *n* of a ``fields`` list sees the result of rules
  1..n-1 — the reference's sequential per-event semantics;
- writes (``set``/``drop``) are recorded, not applied. Under ``cond`` a set
  records ``when(cond, v).otherwise(current)``, so rows outside the
  condition keep their value;
- ``frame()`` applies every recorded write in ONE batched
  :func:`with_paths` projection: 3 eager plan analyses per stage, 1 when
  every target is top-level.

Recorded writes never overlap. An access to a path in a strict
segment-prefix relation to a recorded write (``a`` vs ``a.b``), a
``type`` of a recorded path, and an unconditional ``drop`` apply the
recorded writes first (a flush). Use a value read through the overlay in
the next ``set``: a later read may flush.

``stage(*values)`` lands intermediate values (a regex match flag, a UDF
result) as temp columns in one ``withColumns`` and returns attribute refs,
so an expensive subtree referenced many times is evaluated once; it never
flushes and ignores ``cond``, and ``frame()`` drops the temps. One
allocator names every temp (``stage``'s, the flush's and
:func:`with_paths`'), avoiding existing columns and pending roots
case-insensitively, so a user column is never claimed or dropped.

Parse stages report failure through :func:`append_flag` (``log.flags``)
and :func:`set_error_message` (``error.message``); both take the Event,
so the flag and the error land in the stage's one batch.
"""

from __future__ import annotations

import itertools
from typing import Iterator

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T


def split_path(path: str) -> list[str]:
    return path.split(".")


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def col_path(path: str) -> Column:
    """Column reference for a dotted path (each segment backtick-quoted)."""
    return F.col(".".join(_quote(p) for p in split_path(path)))


def has_path(schema: T.StructType, path: str) -> bool:
    """True if the dotted path resolves to a field in the schema."""
    return path_type(schema, path) is not None


def path_type(schema: T.StructType, path: str) -> T.DataType | None:
    cur: T.DataType = schema
    for part in split_path(path):
        if not isinstance(cur, T.StructType) or part not in cur.fieldNames():
            return None
        cur = cur[part].dataType
    return cur


def get_path(df: DataFrame, path: str, default: Column | None = None) -> Column:
    """Missing-safe read: resolves to NULL (or ``default``) if absent."""
    if has_path(df.schema, path):
        return col_path(path)
    return default if default is not None else F.lit(None)


def _null_struct(t: T.StructType) -> Column:
    """A non-NULL struct value whose every field is NULL — the writable
    stand-in for a per-row NULL struct (withField on a NULL struct returns
    NULL, silently losing the set; MapStr.Put creates intermediates for
    every event, mapstr.go:462-478)."""
    return F.struct(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in t.fields]
    )


def _writable(parent: Column, t: T.StructType) -> Column:
    return F.when(parent.isNotNull(), parent).otherwise(_null_struct(t))


def _fresh_tree(tree: dict) -> Column:
    return F.struct(*[
        (_fresh_tree(sub) if isinstance(sub, dict) else sub).alias(name)
        for name, sub in tree.items()
    ])


def _free_names(df: DataFrame, roots, prefix: str) -> Iterator[str]:
    """Temp names ``{prefix}{i}__`` that equal (ignoring case, like Spark's
    resolver) no column of ``df`` and none of ``roots``."""
    taken = {c.lower() for c in df.columns} | {r.lower() for r in roots}
    for i in itertools.count():
        if f"{prefix}{i}__" not in taken:
            yield f"{prefix}{i}__"


def _leaf_values(tree: dict) -> list[Column]:
    out: list[Column] = []
    for sub in tree.values():
        out.extend(_leaf_values(sub) if isinstance(sub, dict) else [sub])
    return out


def _all_null(values: list[Column]) -> Column:
    cond = values[0].isNull()
    for v in values[1:]:
        cond = cond & v.isNull()
    return cond


def _set_tree(parent: Column, parent_type: T.StructType, tree: dict) -> Column:
    """Write EVERY (sub)field of ``tree`` into ``parent`` in one pass. A
    missing (or scalar) child is built fresh, as MapStr.Put creates
    intermediate maps (mapstr.go:462-478). A NULL parent stays NULL when
    every value written at or below it is NULL: a conditional write
    (``when(cond, v).otherwise(old NULL)``) must not turn the untouched
    rows' NULL parent into an all-null struct."""
    orig = parent
    out = _writable(parent, parent_type)
    for name, sub in tree.items():
        if isinstance(sub, dict):
            child_t = (parent_type[name].dataType
                       if name in parent_type.fieldNames() else None)
            if isinstance(child_t, T.StructType):
                v = _set_tree(parent.getField(name), child_t, sub)
            else:
                v = _fresh_tree(sub)
        else:
            v = sub
        out = out.withField(_quote(name), v)
    return F.when(orig.isNull() & _all_null(_leaf_values(tree)),
                  F.lit(None)).otherwise(out)


def with_path(df: DataFrame, path: str, value: Column) -> DataFrame:
    """Set/overwrite a (possibly nested) field; creates intermediates."""
    return with_paths(df, {path: value})


def with_paths(df: DataFrame, updates: dict[str, Column]) -> DataFrame:
    """Set several (possibly nested) fields in one batch. Top-level targets
    go straight into one ``withColumns``. Nested values are first staged as
    temp columns (in that same projection), then every touched root is
    rebuilt from those cheap attribute refs (a second), then the temps are
    dropped: 3 eager plan analyses for the whole batch, 1 when every target
    is top-level. Staging keeps codegen small: the rebuild references each
    value at every nesting level, and CollapseProject (SPARK-36718) does
    not re-inline an expensive multi-referenced alias.

    Every value resolves against ``df``. No path may equal or be a
    segment-prefix of another (:class:`Event` flushes before that happens).
    A subtree written with all-NULL values materializes as a struct of
    NULLs when a sibling value is non-NULL (one ``with_path`` per leaf
    gives an order-dependent result there; this is the order-independent
    form). A root whose every written value is NULL stays NULL."""
    trees: dict[str, object] = {}
    for path, value in updates.items():
        *parents, leaf = split_path(path)
        node = trees
        for p in parents:
            node = node.setdefault(p, {})
            if not isinstance(node, dict):
                raise ValueError(f"with_paths: {path!r} overlaps another path")
        if leaf in node:
            raise ValueError(f"with_paths: {path!r} overlaps another path")
        node[leaf] = value

    # temp names avoid existing columns AND the target roots: a user column
    # literally named __wpN__ must be neither claimed nor dropped
    free = _free_names(df, trees, "__wp")
    temps: dict[str, Column] = {}

    def stage(tree):
        if isinstance(tree, dict):
            return {k: stage(v) for k, v in tree.items()}
        name = next(free)
        temps[name] = tree
        return F.col(name)

    # top-level values, and placeholders keeping new roots in write order,
    # share the temps' projection: an expression common to a top-level
    # value and a staged leaf (a parse stage's match flag feeds both its
    # target and log.flags) is then evaluated once per row by codegen's
    # subexpression elimination
    first: dict[str, Column] = {}
    roots: dict[str, Column] = {}
    for root, tree in trees.items():
        if not isinstance(tree, dict):
            first[root] = tree
            continue
        if root not in df.columns:
            first[root] = F.lit(None)
        refs = stage(tree)
        root_t = df.schema[root].dataType if root in df.columns else None
        if isinstance(root_t, T.StructType):
            roots[root] = _set_tree(F.col(_quote(root)), root_t, refs)
        else:
            # fresh (or scalar-overwritten) root: NULL when every written
            # value is NULL, the same guard _set_tree applies per level
            roots[root] = F.when(_all_null(_leaf_values(refs)), F.lit(None)
                                 ).otherwise(_fresh_tree(refs))
    if not temps:
        return df.withColumns(first)
    return df.withColumns({**temps, **first}).withColumns(roots).drop(*temps)


def drop_path(df: DataFrame, path: str) -> DataFrame:
    """Delete a field if present (no-op when missing, like Delete with
    ignore_missing)."""
    if not has_path(df.schema, path):
        return df
    parts = split_path(path)
    # a struct must never be left EMPTY (Spark refuses with
    # CANNOT_DROP_ALL_FIELDS): when the immediate parent holds only this
    # field, drop the parent instead — recursively, the columnar analogue
    # of the reference's scrub of emptied maps (e.g. dropping
    # system.syslog.timestamp when it is syslog's last field removes
    # system.syslog; if syslog was system's last field, system goes too)
    while len(parts) > 1:
        parent_t = path_type(df.schema, ".".join(parts[:-1]))
        if isinstance(parent_t, T.StructType) and len(parent_t.fields) == 1:
            parts = parts[:-1]
            continue
        break
    if len(parts) == 1:
        return df.drop(parts[0])
    root = parts[0]
    nested = ".".join(_quote(p) for p in parts[1:])
    return df.withColumn(root, F.col(_quote(root)).dropFields(nested))


class Event:
    """Read-your-writes overlay over one frame: the per-stage write
    primitive (see the module docstring for the contract)."""

    def __init__(self, df: DataFrame, cond: Column | None = None):
        self._df = df
        self._cond = cond
        self._cond_pinned = cond is None
        self._pending: dict[str, Column] = {}
        self._temps: list[str] = []

    def _alloc(self, roots, n: int) -> list[str]:
        roots = [split_path(p)[0] for p in roots]
        names = list(itertools.islice(_free_names(self._df, roots, "__ev"), n))
        self._temps += names
        return names

    def stage(self, *values: Column) -> list[Column]:
        """Land ``values`` as temp columns in ONE ``withColumns`` and return
        their attribute refs: no flush, no ``cond`` wrapping; ``frame()``
        drops them."""
        names = self._alloc(self._pending, len(values))
        self._df = self._df.withColumns(dict(zip(names, values)))
        return [F.col(n) for n in names]

    def _flush(self, carry: Column | None = None) -> Column | None:
        """Apply the pending writes mid-stage. Expressions built against
        the old frame that must outlive it (``carry``, a value about to be
        set, and ``cond``) ride along as temp columns of the same
        projection, so they keep reading the values they were built
        from."""
        if not self._pending:
            return carry
        ups, self._pending = self._pending, {}
        if not self._cond_pinned:  # first flush
            self._cond = self._temp(ups, self._cond)
            self._cond_pinned = True
        if carry is not None:
            carry = self._temp(ups, carry)
        self._df = with_paths(self._df, ups)
        return carry

    def _temp(self, ups: dict[str, Column], value: Column) -> Column:
        name, = self._alloc(ups, 1)
        ups[name] = value
        return F.col(name)

    def _sync(self, path: str, carry: Column | None = None) -> Column | None:
        """Flush first when ``path`` is a strict segment-prefix of a pending
        write, or extends one."""
        if any(path.startswith(p + ".") or p.startswith(path + ".")
               for p in self._pending):
            return self._flush(carry)
        return carry

    def get(self, path: str) -> Column:
        """Current value of ``path``, NULL when absent."""
        if path in self._pending:
            return self._pending[path]
        self._sync(path)
        return get_path(self._df, path)

    def has(self, path: str) -> bool:
        if path in self._pending:
            return True
        self._sync(path)
        return has_path(self._df.schema, path)

    def type(self, path: str) -> T.DataType | None:
        if path in self._pending:
            self._flush()
        self._sync(path)
        return path_type(self._df.schema, path)

    def set(self, path: str, value: Column) -> None:
        value = self._sync(path, value)
        if self._cond is not None:
            value = F.when(self._cond, value).otherwise(self.get(path))
        self._pending[path] = value

    def drop(self, path: str) -> None:
        """Delete ``path`` if present; under ``cond``, NULL it on the
        matching rows."""
        if not self.has(path):
            return
        if self._cond is not None:
            self.set(path, F.lit(None))
        else:
            self._flush()
            self._df = drop_path(self._df, path)

    def frame(self) -> DataFrame:
        """The frame with every write applied (``df`` itself when nothing
        was written)."""
        if self._pending:
            self._df = with_paths(self._df, self._pending)
            self._pending = {}
        return self._df.drop(*self._temps) if self._temps else self._df


def tags_expr(ev: Event, tags: list[str], target: str = "tags") -> Column:
    """Expression appending tags to an array field, creating it if needed
    (MapStr.AddTagsWithKey, mapstr.go:390-412; de-dup preserving order is
    NOT done by the reference, so plain concat)."""
    existing_t = ev.type(target)
    existing = ev.get(target)
    if isinstance(existing_t, T.ArrayType):
        base = F.coalesce(existing, F.array().cast("array<string>"))
    elif isinstance(existing_t, T.StringType):
        # reference wraps a scalar string into an array (mapstr.go:399-403)
        base = F.when(existing.isNull(), F.array().cast("array<string>")).otherwise(F.array(existing))
    else:
        base = F.array().cast("array<string>")
    return F.concat(base, F.array(*[F.lit(t) for t in tags]))


def append_flag(ev: Event, flag: str, cond: Column,
                path: str = "log.flags") -> None:
    """Append a value to log.flags (beat.FlagField semantics) on rows
    matching ``cond``; used for *_parsing_error / truncated."""
    existing_t = ev.type(path)  # before get: type may flush
    existing = ev.get(path)
    if isinstance(existing_t, T.ArrayType):
        base = F.coalesce(existing, F.array().cast("array<string>"))
    else:
        base = F.array().cast("array<string>")
    appended = F.array_union(base, F.array(F.lit(flag)))
    ev.set(path, F.when(cond, appended).otherwise(existing))


def set_error_message(ev: Event, failed: Column, message: str) -> None:
    """Set ``error.message`` on failing rows while PRESERVING an earlier
    processor's message on rows that succeeded (the shared
    grok/dissect/syslog ``ignore_failure=False`` idiom)."""
    ev.set("error.message", F.when(failed, F.lit(message))
           .otherwise(ev.get("error.message")))
