"""Field-manipulation processors (libbeat/processors/actions/*).

Each builder takes the reference's config keys and returns a Stage whose
work is pure column algebra — no Python in the hot path.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from beats_spark.event import (Event, append_flag, get_path, has_path,
                               path_type, tags_expr, with_path)
from beats_spark.processors.base import Stage, register

# fields the reference refuses to drop (actions/drop_fields.go:24) mapped to
# our column names (@timestamp ≡ ts)
PROTECTED_FIELDS = {"ts", "type"}


def _flatten(d: dict[str, Any], prefix: str = "") -> dict[str, Any]:
    out: dict[str, Any] = {}
    for k, v in d.items():
        key = f"{prefix}.{k}" if prefix else k
        if isinstance(v, dict):
            out.update(_flatten(v, key))
        else:
            out[key] = v
    return out


@register("add_fields")
def add_fields(cfg: dict[str, Any]) -> Stage:
    """Constant fields under ``target`` (default ``fields``); empty target
    = root (actions/add_fields.go:41-56,74)."""
    fields = cfg.get("fields", {})
    target = cfg.get("target", "fields")

    class AddFields(Stage):
        def updates(self, ev: Event) -> None:
            for path, v in _flatten(fields).items():
                ev.set(f"{target}.{path}" if target else path, F.lit(v))

    return AddFields()


@register("add_labels")
def add_labels(cfg: dict[str, Any]) -> Stage:
    """add_fields pinned to the ``labels`` target with FLATTENED keys:
    nested input maps become literal dotted field names like ``nested.k``
    (actions/add_labels.go:31-41 flattens before merging)."""
    flat = _flatten(cfg.get("labels", {}))

    class AddLabels(Stage):
        def updates(self, ev: Event) -> None:
            if isinstance(ev.type("labels"), T.StructType):
                col = ev.get("labels")
                for k, v in flat.items():
                    col = col.withField("`" + k.replace("`", "``") + "`", F.lit(v))
            else:
                col = F.struct(*[F.lit(v).alias(k) for k, v in flat.items()])
            ev.set("labels", col)

    return AddLabels()


@register("add_tags")
def add_tags_proc(cfg: dict[str, Any]) -> Stage:
    """Append tags to an array field (actions/add_tags.go:35-46)."""
    tags = list(cfg.get("tags", []))
    target = cfg.get("target", "tags")

    class AddTags(Stage):
        def apply(self, df: DataFrame, cond: Column | None = None) -> DataFrame:
            if isinstance(path_type(df.schema, target), T.StringType):
                # a column has one type: wrap a scalar tag into a
                # one-element array on EVERY row first (mapstr.go:399-403),
                # so rows outside ``when`` hold an array too
                cur = get_path(df, target)
                df = with_path(df, target, F.when(cur.isNotNull(), F.array(cur)))
            return super().apply(df, cond)

        def updates(self, ev: Event) -> None:
            ev.set(target, tags_expr(ev, tags, target))

    return AddTags()


@register("rename")
def rename(cfg: dict[str, Any]) -> Stage:
    """Move fields from→to; the reference fails when the target exists and
    rolls back on error (actions/rename.go:75-98). Existence is plan-time
    here, so the check is a plan-time error."""
    pairs = cfg.get("fields", [])
    ignore_missing = cfg.get("ignore_missing", False)
    fail_on_error = cfg.get("fail_on_error", True)

    class Rename(Stage):
        def updates(self, ev: Event) -> None:
            for p in pairs:
                src, dst = p["from"], p["to"]
                if not ev.has(src):
                    if ignore_missing or not fail_on_error:
                        continue
                    raise ValueError(f"rename: missing source field {src!r}")
                if ev.has(dst):
                    if fail_on_error:
                        raise ValueError(
                            f"rename: target field {dst!r} already exists")
                    # reference renameField errors on an existing target;
                    # with fail_on_error=false the event stays UNCHANGED —
                    # not overwritten (actions/rename.go:75-98)
                    continue
                ev.set(dst, ev.get(src))
                ev.drop(src)

    return Rename()


@register("copy_fields")
def copy_fields(cfg: dict[str, Any]) -> Stage:
    """Copy from→to without overwrite by default (actions/copy_fields.go:39-71)."""
    pairs = cfg.get("fields", [])
    ignore_missing = cfg.get("ignore_missing", False)
    fail_on_error = cfg.get("fail_on_error", True)

    class CopyFields(Stage):
        def updates(self, ev: Event) -> None:
            for p in pairs:
                src, dst = p["from"], p["to"]
                if not ev.has(src):
                    if ignore_missing or not fail_on_error:
                        continue
                    raise ValueError(f"copy_fields: missing source field {src!r}")
                if fail_on_error and ev.has(dst):
                    raise ValueError(f"copy_fields: target {dst!r} already exists")
                ev.set(dst, ev.get(src))

    return CopyFields()


@register("drop_fields")
def drop_fields(cfg: dict[str, Any]) -> Stage:
    """Delete listed fields; @timestamp/type protected
    (actions/drop_fields.go:38-48)."""
    fields = cfg.get("fields", [])
    ignore_missing = cfg.get("ignore_missing", True)

    class DropFields(Stage):
        def updates(self, ev: Event) -> None:
            for fld in fields:
                if fld in PROTECTED_FIELDS:
                    continue
                if not ev.has(fld):
                    if not ignore_missing:
                        raise ValueError(f"drop_fields: missing field {fld!r}")
                    continue
                ev.drop(fld)

    return DropFields()


@register("include_fields")
def include_fields(cfg: dict[str, Any]) -> Stage:
    """Keep only listed fields plus @timestamp/type
    (actions/include_fields.go:36-46). System columns (``_``-prefixed) are
    kept so routing/lineage still work."""
    fields = list(cfg.get("fields", []))

    class IncludeFields(Stage):
        def custom(self, df: DataFrame) -> DataFrame:
            wanted = set(fields) | PROTECTED_FIELDS

            def prune(col: Column, dtype, prefix: str) -> Column | None:
                """Rebuild a struct keeping only wanted subtrees — a kept
                root must not smuggle sibling fields through
                (include_fields.go prunes to exactly the listed paths)."""
                kept = []
                for f in dtype.fields:
                    p = f"{prefix}.{f.name}"
                    if p in wanted or not isinstance(f.dataType, T.StructType):
                        if p in wanted or any(
                                w.startswith(p + ".") for w in wanted):
                            kept.append(col.getField(f.name).alias(f.name))
                    elif any(w.startswith(p + ".") for w in wanted):
                        sub = prune(col.getField(f.name), f.dataType, p)
                        if sub is not None:
                            kept.append(sub.alias(f.name))
                if not kept:
                    return None
                return F.when(col.isNotNull(), F.struct(*kept))

            cols = []
            for root in df.schema.fieldNames():
                if root.startswith("_") or root in wanted:
                    cols.append(F.col(root))
                    continue
                if any(w.startswith(root + ".") for w in wanted):
                    dtype = df.schema[root].dataType
                    if isinstance(dtype, T.StructType):
                        sub = prune(F.col(root), dtype, root)
                        if sub is not None:
                            cols.append(sub.alias(root))
                    else:
                        cols.append(F.col(root))
            return df.select(*cols)

    return IncludeFields()


@register("drop_event")
def drop_event(cfg: dict[str, Any]) -> Stage:
    """Unconditional drop — only meaningful under ``when``
    (actions/drop_event.go:29-43)."""

    class DropEvent(Stage):
        def keep(self, df: DataFrame) -> Column:
            return F.lit(False)

    return DropEvent()


@register("replace")
def replace(cfg: dict[str, Any]) -> Stage:
    """Regex replace per field (actions/replace.go:39-75)."""
    rules = cfg.get("fields", [])
    ignore_missing = cfg.get("ignore_missing", False)

    class Replace(Stage):
        def updates(self, ev: Event) -> None:
            for r in rules:
                fld = r["field"]
                if not ev.has(fld):
                    if ignore_missing:
                        continue
                    raise ValueError(f"replace: missing field {fld!r}")
                ev.set(fld, F.regexp_replace(
                    ev.get(fld), r["pattern"], r.get("replacement", "")))

    return Replace()


@register("truncate_fields")
def truncate_fields(cfg: dict[str, Any]) -> Stage:
    """Truncate to max_characters XOR max_bytes; tags ``log.flags:
    truncated`` on rows actually clipped (actions/truncate_fields.go:37-84,
    158-173). Byte mode clips at a UTF-8 boundary like the reference."""
    fields = cfg.get("fields", [])
    max_chars = cfg.get("max_characters")
    max_bytes = cfg.get("max_bytes")
    if (max_chars is None) == (max_bytes is None):
        raise ValueError("truncate_fields: exactly one of max_characters/max_bytes")

    class Truncate(Stage):
        def apply(self, df: DataFrame, cond: Column | None = None) -> DataFrame:
            # conditions must be evaluated against PRE-truncation values, so
            # the flag is materialized into a temp column before mutation
            any_trunc = F.lit(False)
            plans = []
            for fld in fields:
                if not has_path(df.schema, fld):
                    continue
                col = get_path(df, fld)
                if max_chars is not None:
                    clipped = F.substring(col, 1, int(max_chars))
                    did = F.length(col) > int(max_chars)
                else:
                    b = F.encode(col, "UTF-8")
                    # clip to max_bytes then walk back over a split UTF-8
                    # sequence by dropping trailing continuation bytes
                    clipped = F.expr(
                        f"decode(substring(encode({'`'+fld.replace('.','`.`')+'`'}, 'UTF-8'), 1, {int(max_bytes)}), 'UTF-8')"
                    )
                    # Spark's decode replaces a trailing partial sequence with
                    # U+FFFD; strip any trailing replacement chars
                    clipped = F.regexp_replace(clipped, "�+$", "")
                    did = F.length(b) > int(max_bytes)
                did = F.coalesce(did, F.lit(False))
                if cond is not None:
                    did = cond & did
                plans.append((fld, F.when(did, clipped).otherwise(col)))
                any_trunc = any_trunc | did
            df = df.withColumn("__trunc_flag", any_trunc)
            for fld, new_val in plans:
                df = with_path(df, fld, new_val)
            df = append_flag(df, "truncated", cond=F.col("__trunc_flag"))
            return df.drop("__trunc_flag")

    return Truncate()


@register("extract_field")
def extract_field(cfg: dict[str, Any]) -> Stage:
    """Split ``field`` by ``separator``, take ``index`` → ``target``
    (actions/extract_field.go:39-75)."""
    fld = cfg["field"]
    sep = cfg["separator"]
    idx = int(cfg.get("index", 0))
    target = cfg.get("target") or fld

    class ExtractField(Stage):
        def updates(self, ev: Event) -> None:
            # the reference splits on a LITERAL separator (strings.Split);
            # F.split takes a Java regex, so metacharacters ('.', '|') must
            # be escaped or they split on every character
            parts = F.split(ev.get(fld), re.escape(sep), -1)
            ev.set(target, F.element_at(parts, idx + 1))

    return ExtractField()


@register("decode_base64_field")
def decode_base64_field(cfg: dict[str, Any]) -> Stage:
    """Base64-decode field.from → field.to
    (actions/decode_base64_field.go:45-76)."""
    spec = cfg.get("field", {})
    src, dst = spec["from"], spec.get("to", spec["from"])

    class DecodeB64(Stage):
        def updates(self, ev: Event) -> None:
            ev.set(dst, F.unbase64(ev.get(src)).cast("string"))

    return DecodeB64()


@register("urldecode")
def urldecode(cfg: dict[str, Any]) -> Stage:
    """URL-unescape from→to (urldecode/urldecode.go:40-47). Uses Spark's
    built-in url_decode (JVM-side) — the reference's QueryUnescape."""
    rules = cfg.get("fields", [])

    class UrlDecode(Stage):
        def updates(self, ev: Event) -> None:
            for r in rules:
                src, dst = r["from"], r.get("to", r["from"])
                ev.set(dst, F.try_url_decode(ev.get(src)))

    return UrlDecode()


@register("split")
def split_field(cfg: dict[str, Any]) -> Stage:
    """Split a string field into an array on a regex separator — the ES
    ingest ``split`` processor surface (used by filebeat module pipelines,
    e.g. nginx/access/ingest/pipeline.yml's remote_ip_list split). Pure
    JVM ``F.split``, with Java ``String.split`` semantics like the ingest
    processor: interior and leading empty fragments are KEPT (positional
    consumers rely on them); only trailing empties are dropped — except a
    bare empty input, which stays ``[""]``.
    """
    fld = cfg["field"]
    sep = cfg["separator"]
    target = cfg.get("target_field", fld)
    ignore_missing = cfg.get("ignore_missing", False)

    class Split(Stage):
        def updates(self, ev: Event) -> None:
            if not ev.has(fld):
                if ignore_missing:
                    return
                raise ValueError(f"split: missing field {fld!r}")
            col = ev.get(fld).cast("string")
            arr = F.split(col, sep)
            # length of the trailing run of empty fragments
            trail = F.aggregate(
                F.reverse(arr),
                F.struct(F.lit(0).alias("n"), F.lit(False).alias("stop")),
                lambda acc, x: F.struct(
                    F.when(~acc["stop"] & (x == ""), acc["n"] + 1)
                    .otherwise(acc["n"]).alias("n"),
                    (acc["stop"] | (x != "")).alias("stop")),
                lambda acc: acc["n"])
            parts = F.when(col == "", F.array(F.lit(""))).otherwise(
                F.slice(arr, 1, F.size(arr) - trail))
            ev.set(target, F.when(col.isNotNull(), parts))

    return Split()


@register("uri_parts")
def uri_parts(cfg: dict[str, Any]) -> Stage:
    """Decompose a URI field into ``url.*`` — the ES ingest ``uri_parts``
    processor surface (module pipelines apply it to the grokked request
    path). JVM-side via Spark's ``parse_url``; scheme-less inputs (the
    common access-log case, ``/path?q=1``) are parsed against a synthetic
    base so PATH/QUERY still resolve.

    Documented divergence: a scheme-less input with a colon before the
    first slash (``example.com:8080/x``) is treated as a pure RELATIVE
    path here (the whole input becomes ``url.path``), whereas ES's
    ``java.net.URI`` would parse ``example.com`` as the SCHEME of an
    opaque URI — output that is itself wrong for what users mean by
    host:port. Neither engine extracts host/port from that shape; pass a
    full ``scheme://host:port/...`` URI for authority parsing.
    """
    fld = cfg["field"]
    target = cfg.get("target_field", "url")
    keep_original = cfg.get("keep_original", True)
    ignore_missing = cfg.get("ignore_missing", False)

    class UriParts(Stage):
        def updates(self, ev: Event) -> None:
            if not ev.has(fld):
                if ignore_missing:
                    return
                raise ValueError(f"uri_parts: missing field {fld!r}")
            col = ev.get(fld).cast("string")
            has_scheme = col.rlike("^[A-Za-z][A-Za-z0-9+.-]*://")
            # scheme-less inputs parse against a synthetic base. Inputs not
            # starting with '/' (e.g. 'example.com/x', '../a') get a '/'
            # separator inserted so they don't glue onto the base host, and
            # the synthetic leading '/' is stripped back off the PATH below
            # — matching ES's java.net.URI uri_parts, whose relative-URI
            # path is the whole input up to '?'/'#'.
            rooted = col.startswith("/")
            full = F.when(has_scheme, col).otherwise(F.concat(
                F.lit("http://__relative__"),
                F.when(rooted, col).otherwise(F.concat(F.lit("/"), col))))
            nullify = lambda c: F.when(c != "", c)  # noqa: E731
            raw_path = F.parse_url(full, F.lit("PATH"))
            path = F.when(has_scheme | rooted, raw_path).otherwise(
                F.regexp_replace(raw_path, "^/", ""))
            query = F.parse_url(full, F.lit("QUERY"))
            host = F.when(has_scheme, F.parse_url(full, F.lit("HOST")))
            # port/user_info only exist in absolute URIs; fragment (REF)
            # also resolves for relative inputs against the synthetic base
            authority = F.parse_url(full, F.lit("AUTHORITY"))
            port = F.when(has_scheme, F.regexp_extract(
                authority, r":(\d+)$", 1)).try_cast("long")
            userinfo = F.when(has_scheme,
                              nullify(F.parse_url(full, F.lit("USERINFO"))))
            out = {
                f"{target}.path": nullify(path),
                f"{target}.query": nullify(query),
                f"{target}.domain": nullify(host),
                f"{target}.port": port,
                f"{target}.fragment": nullify(F.parse_url(full, F.lit("REF"))),
                f"{target}.user_info": userinfo,
                f"{target}.username": nullify(
                    F.regexp_extract(userinfo, "^([^:]*)", 1)),
                f"{target}.password": nullify(
                    F.regexp_extract(userinfo, "^[^:]*:(.*)$", 1)),
                f"{target}.scheme": F.when(
                    has_scheme, F.regexp_extract(col, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)),
                f"{target}.extension": nullify(
                    F.regexp_extract(path, r"\.([^./]+)$", 1)),
            }
            if keep_original:
                out[f"{target}.original"] = col
            for path, value in out.items():
                ev.set(path, value)

    return UriParts()
