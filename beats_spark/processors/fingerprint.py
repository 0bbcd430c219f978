"""Fingerprint: bit-exact content hash of selected fields.

Reference: libbeat/processors/fingerprint — Run at fingerprint.go:66-81,
serialization writeFields at :88-110 (``|k|v`` per field + trailing ``|``),
fields sorted+deduped (fingerprint.go:52-55 via StringSet.ToSlice), times
hashed in UTC rendered with Go's time.String() format, hex encoding default
(config.go:29-35), hashes md5/sha1/sha256/sha384/sha512/xxhash (hash.go).

All hashes are Go-byte-exact. md5/sha* are JVM built-ins (whole-stage
codegen, no Python); ``xxhash`` matches cespare/xxhash (XXH64 seed 0 over
the serialized UTF-8 bytes, test vector fingerprint_test.go:92) via the
numpy-vectorized from-scratch XXH64 in xxh64.py, Arrow-batched. The
``xxhash64`` method is an extra fast variant using Spark's JVM xxhash64
(seed 42 over Spark's internal encoding — same distribution, different
bytes; zero Python).

Caveat (documented divergence): float rendering matches Go ``%v`` for
typical values via the shortest round-trip repr; exotic exponent
formatting can differ.
"""

from __future__ import annotations

import base64 as _b64
from typing import Any

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from beats_spark.event import Event, get_path, has_path, path_type
from beats_spark.processors.base import Stage, register


def render_go_value(df: DataFrame, fld: str) -> Column:
    """Render a column the way Go ``fmt.Fprintf("%v", v)`` does for the
    canonical event types (string/int/bool/float/time)."""
    col = get_path(df, fld)
    dt = path_type(df.schema, fld)
    if isinstance(dt, T.TimestampType):
        # Go time.String(): "2006-01-02 15:04:05.999999999 +0000 UTC"
        # (fraction trimmed of trailing zeros, dot omitted when zero).
        # date_format renders in the SESSION timezone; shift so the wall
        # time is UTC regardless of session tz — otherwise the same event
        # fingerprints differently across differently-configured clusters
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone", "UTC")
        if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00"):
            col = F.to_utc_timestamp(col, tz)
        base = F.date_format(col, "yyyy-MM-dd HH:mm:ss")
        frac = F.regexp_replace(F.date_format(col, "SSSSSS"), "0+$", "")
        with_frac = F.when(frac == "", base).otherwise(F.concat(base, F.lit("."), frac))
        return F.concat(with_frac, F.lit(" +0000 UTC"))
    if isinstance(dt, T.BooleanType):
        # NULL must stay NULL so serialize_fields renders '<nil>', not
        # 'false'
        return F.when(col.isNull(), F.lit(None).cast("string")).when(
            col, F.lit("true")).otherwise(F.lit("false"))
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        # shortest repr; strip a trailing ".0" like Go %v for whole floats
        return F.regexp_replace(col.cast("string"), r"\.0$", "")
    return col.cast("string")


def serialize_fields(df: DataFrame, fields: list[str], ignore_missing: bool) -> Column:
    """The ``|k|v|k|v|`` serialization (fingerprint.go:88-110)."""
    ordered = sorted(set(fields))
    parts: list[Column] = []
    for k in ordered:
        if not has_path(df.schema, k):
            if ignore_missing:
                continue
            raise ValueError(f"fingerprint: missing field {k!r}")
        v = F.coalesce(render_go_value(df, k), F.lit("<nil>"))
        parts.extend([F.lit("|" + k + "|"), v])
    parts.append(F.lit("|"))
    return F.concat(*parts)


def hash_column(serialized: Column, method: str, encoding: str) -> Column:
    method = method.lower()
    encoding = encoding.lower()  # before the xxhash check: 'HEX' is valid
    if method == "md5":
        hex_col = F.md5(serialized)
    elif method == "sha1":
        hex_col = F.sha1(serialized)
    elif method in ("sha256", "sha384", "sha512"):
        hex_col = F.sha2(serialized, int(method[3:]))
    elif method == "xxhash":
        # Go-byte-exact: XXH64 seed 0 over the serialized UTF-8 bytes,
        # rendered as Sum()+hex does (16 lowercase hex chars) — matches
        # cespare/xxhash (hash.go:57, vector fingerprint_test.go:92).
        if encoding != "hex":
            raise ValueError("xxhash supports hex only")
        from beats_spark.processors.xxh64 import xxh64_hex_series

        return F.pandas_udf(xxh64_hex_series, returnType="string")(serialized)
    elif method == "xxhash64":
        # extra (non-reference) fast variant: Spark's JVM xxhash64, seed 42
        # over the internal encoding — zero Python, different bytes than Go
        if encoding != "hex":
            raise ValueError("xxhash64 supports hex only")
        return F.lower(F.hex(F.xxhash64(serialized)))
    else:
        raise ValueError(f"fingerprint: unknown method {method!r}")
    if encoding == "hex":
        return hex_col
    if encoding == "base64":
        return F.base64(F.unhex(hex_col))
    if encoding == "base32":
        # no JVM builtin for base32 — tiny Arrow-batched re-encode of the
        # already-computed hex digest
        return _b32_udf(hex_col)
    raise ValueError(f"fingerprint: unknown encoding {encoding!r}")


def _b32_udf(col: Column) -> Column:
    def b32(s: pd.Series) -> pd.Series:
        return s.map(lambda h: _b64.b32encode(bytes.fromhex(h)).decode() if h else None)

    return F.pandas_udf(b32, returnType="string")(col)


@register("fingerprint")
def fingerprint(cfg: dict[str, Any]) -> Stage:
    fields = list(cfg.get("fields", []))
    if not fields:
        raise ValueError("fingerprint: fields required")
    method = cfg.get("method", "sha256")
    target = cfg.get("target_field", "fingerprint")
    encoding = cfg.get("encoding", "hex")
    ignore_missing = cfg.get("ignore_missing", False)

    class Fingerprint(Stage):
        def updates(self, ev: Event) -> None:
            ser = serialize_fields(ev.frame(), fields, ignore_missing)
            ev.set(target, hash_column(ser, method, encoding))

    return Fingerprint()


@register("add_id")
def add_id(cfg: dict[str, Any]) -> Stage:
    """Random unique id (add_id/add_id.go:50-64) — non-deterministic;
    use fingerprint for reproducible tests."""
    target = cfg.get("target_field", "_meta__id")

    class AddId(Stage):
        def updates(self, ev: Event) -> None:
            ev.set(target, F.expr("uuid()"))

    return AddId()
