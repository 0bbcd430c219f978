"""Dissect: positional tokenizer → vectorized Arrow-batched extraction.

Re-implements the dissect language (the public Logstash/Beats syntax;
reference: libbeat/processors/dissect — tokenizer grammar const.go:31-52,
scan dissect.go:104-181, modifiers field.go:118-230, processor wrapper
processor.go:63-142) as a *compiler*:

- **static tokenizers** (no indirect/pointer references — the overwhelming
  majority) compile to ONE anchored regex evaluated with
  ``pd.Series.str.extract`` inside a pandas UDF: one vectorized C pass per
  Arrow batch, returning a typed struct column. Append fields (``%{+k}``,
  ``/N`` ordinals) are resolved with vectorized column concatenation.
- **dynamic tokenizers** (``%{?k}``/``%{&k}``/``%{*k}`` — output keys depend
  on row values) cannot have a static schema; they return a
  ``map<string,string>`` computed by an exact positional scanner.

Divergence note: the scanner takes the *first* occurrence of each delimiter
and fails if a later delimiter is then unfindable; a backtracking regex can
succeed on rare inputs where the scanner fails. The exact scanner
(``scan_exact``) pins reference semantics and backs the dynamic path and the
corpus tests; ``engine="exact"`` forces it for static tokenizers too.

Failure semantics (processor.go:92-104): extraction failure appends
``dissect_parsing_error`` to ``log.flags``; with ``ignore_failure`` the event
continues unchanged, otherwise ``error.message`` is also set (rows are never
dropped — parity with the reference pipeline, which publishes the event and
logs the error).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field
from typing import Any

import pandas as pd

from pyspark.sql import Column, functions as F
from pyspark.sql import types as T

from beats_spark.event import Event, append_flag, set_error_message
from beats_spark.processors.base import Stage, register

FLAG_PARSING_ERROR = "dissect_parsing_error"
_TOKEN_RE = re.compile(r"(?s)(.*?)%\{([^}]*?)\}")
_SUFFIX_RE = re.compile(
    r"(.+?)"
    r"(?:/(\d{1,2}))?"          # ordinal
    r"(?:#(\d{1,2}))?"          # fixed length
    r"(->)?"                    # greedy
    r"(?:\|([A-Za-z]*))?$"      # data type
)

_DTYPE_SPARK = {
    "integer": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "string": "string",
    "boolean": "boolean",
    "ip": "string",
}


@dataclass
class Key:
    """One ``%{...}`` token."""

    id: int
    name: str = ""
    kind: str = "normal"  # normal|skip|named_skip|pointer|append|indirect
    ordinal: int = 0
    length: int = 0
    greedy: bool = False
    dtype: str = ""

    @property
    def saveable(self) -> bool:
        return self.kind in ("normal", "append", "indirect")


@dataclass
class Tokenizer:
    raw: str
    keys: list[Key] = dc_field(default_factory=list)
    # delims[i] precedes keys[i]; delims[len(keys)] is the trailing delimiter
    delims: list[str] = dc_field(default_factory=list)

    @property
    def dynamic(self) -> bool:
        return any(k.kind in ("named_skip", "pointer", "indirect") for k in self.keys)

    def out_keys(self) -> list[str]:
        """Output key order: first appearance among saveable static keys."""
        seen: list[str] = []
        for k in sorted(self.keys, key=lambda k: (k.ordinal, k.id)):
            if k.kind in ("normal", "append") and k.name not in seen:
                seen.append(k.name)
        return seen


def parse_tokenizer(tok: str) -> Tokenizer:
    matches = list(_TOKEN_RE.finditer(tok))
    if not matches:
        raise ValueError(f"invalid dissect tokenizer: {tok!r}")
    t = Tokenizer(raw=tok)
    pos = 0
    for i, m in enumerate(matches):
        t.delims.append(m.group(1))
        raw_key = m.group(2)
        t.keys.append(_parse_key(i, raw_key))
        pos = m.end()
    t.delims.append(tok[pos:])
    if not any(k.saveable for k in t.keys):
        raise ValueError(f"tokenizer has no saveable field: {tok!r}")
    return t


def _parse_key(kid: int, raw: str) -> Key:
    if raw == "":
        return Key(id=kid, kind="skip")
    if raw.startswith("+&") or raw.startswith("&+"):
        raise ValueError(f"mixed prefix in key: {raw!r}")
    kind = "normal"
    if raw.startswith("?"):
        kind, raw = "named_skip", raw[1:]
    elif raw.startswith("*"):
        kind, raw = "pointer", raw[1:]
    elif raw.startswith("+"):
        kind, raw = "append", raw[1:]
    elif raw.startswith("&"):
        kind, raw = "indirect", raw[1:]
    m = _SUFFIX_RE.match(raw)
    if not m:
        raise ValueError(f"invalid dissect key: {raw!r}")
    name, ordinal, length, greedy, dtype = m.groups()
    if dtype is not None and dtype == "":
        raise ValueError(f"missing data type in key: {raw!r}")
    if dtype and dtype not in _DTYPE_SPARK:
        raise ValueError(f"invalid data type {dtype!r} in key: {raw!r}")
    return Key(
        id=kid,
        name=name,
        kind=kind,
        ordinal=int(ordinal or 0),
        length=int(length or 0),
        greedy=bool(greedy),
        dtype=dtype or "",
    )


# -- exact positional scanner (reference algorithm, dissect.go:104-181) -----

def scan_positions(t: Tokenizer, s: str) -> list[tuple[int, int]] | None:
    """First-occurrence delimiter walk; None on parse failure.

    Faithful to dissect.go:104-181 including its quirks: an empty delimiter
    between two tokens matches at the current offset (zeroByte.IndexOf,
    delimiter.go:62-64 → empty value); a mid-pattern fixed-length field
    skips its following delimiter WITHOUT verifying it; a trailing
    fixed-length field must exactly exhaust the string; when all fields are
    consumed, trailing content is ignored."""
    if s is None or len(s) == 0:
        return None
    d0 = t.delims[0]
    if not s.startswith(d0):
        return None
    offset = len(d0)
    n = len(t.keys)
    positions: list[tuple[int, int]] = [(0, 0)] * n
    # fields processed inside the delimiter walk; the last field is handled
    # after the walk iff the tokenizer ends with a field (no trailing text)
    in_loop = n if t.delims[n] != "" else n - 1
    for i in range(in_loop):
        key = t.keys[i]
        nxt = t.delims[i + 1]
        start = offset
        if key.length > 0:
            end = offset + key.length
            if end > len(s):
                return None
        elif nxt == "":
            end = offset  # zeroByte: empty value
        else:
            end = s.find(nxt, offset)
            if end == -1:
                return None
        offset = end
        if key.greedy and nxt:
            # consume repeated padding of the following delimiter
            while True:
                la = s.find(nxt, offset + 1)
                if la != offset + 1:
                    break
                offset = la
        positions[i] = (start, end)
        offset += len(nxt)
    if in_loop == n - 1:
        key = t.keys[n - 1]
        if key.length > 0:
            if offset + key.length != len(s):
                return None
            positions[n - 1] = (offset, offset + key.length)
        elif offset < len(s):
            positions[n - 1] = (offset, len(s))
        # else: empty value (positions default)
    return positions


def _trim_value(v: str, mode: str, chars: str) -> str:
    if mode == "left":
        return v.lstrip(chars)
    if mode == "right":
        return v.rstrip(chars)
    if mode == "all":
        return v.strip(chars)
    return v


def scan_exact(t: Tokenizer, s: str, trim_mode: str = "none",
               trim_chars: str = " ") -> dict[str, str] | None:
    """Full reference semantics incl. append/indirect/pointer resolution."""
    positions = scan_positions(t, s)
    if positions is None:
        return None
    m: dict[str, str] = {}
    refs: list[str] = []
    for k in sorted(t.keys, key=lambda k: (k.ordinal, k.id)):
        v = s[positions[k.id][0] : positions[k.id][1]]
        if trim_mode != "none":
            v = _trim_value(v, trim_mode, trim_chars)
        if k.kind == "skip":
            continue
        if k.kind in ("named_skip", "pointer"):
            m[k.name] = v
            refs.append(k.name)
        elif k.kind == "indirect":
            if k.name in m:
                m[m[k.name]] = v
            refs.append(k.name)
        elif k.kind == "append":
            if k.name in m:
                join = t.delims[k.id] or " "
                m[k.name] = m[k.name] + join + v
            else:
                m[k.name] = v
        else:
            m[k.name] = v
    for r in refs:
        m.pop(r, None)
    return m


# -- regex compilation (static path) ----------------------------------------

def compile_regex(t: Tokenizer) -> tuple[re.Pattern, list[str]]:
    """Anchored regex with one group per capturing token, DOTALL so embedded
    newlines behave like the scanner's plain byte search."""
    parts = ["^", re.escape(t.delims[0])]
    group_names: list[str] = []
    n = len(t.keys)
    for i, k in enumerate(t.keys):
        nxt = t.delims[i + 1]
        last = i == n - 1
        gname = f"g{k.id}"
        if k.length > 0:
            body = f".{{{k.length}}}"
        elif nxt == "" and last:
            body = ".*"  # trailing field takes the rest
        elif nxt == "":
            body = ""    # zeroByte mid-pattern: empty value
        else:
            body = ".*?"
        if k.kind != "skip":
            group_names.append(gname)
            body = f"(?P<{gname}>{body})"
        elif body:
            body = f"(?:{body})"
        parts.append(body)
        if nxt:
            d = re.escape(nxt)
            parts.append(f"(?:{d})+" if k.greedy else d)
        if k.length > 0 and last and nxt == "":
            parts.append("$")  # trailing fixed-length must exhaust the string
    return re.compile("".join(parts), re.DOTALL), group_names


def _go_parse_bool(s: pd.Series) -> pd.Series:
    true_set = {"1", "t", "T", "TRUE", "true", "True"}
    false_set = {"0", "f", "F", "FALSE", "false", "False"}
    out = pd.Series(pd.NA, index=s.index, dtype="boolean")
    out[s.isin(true_set)] = True
    out[s.isin(false_set)] = False
    return out


_OCT = r"(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)"
_IP_RE = re.compile(
    rf"^(({_OCT}\.){{3}}{_OCT}|([0-9A-Fa-f]{{0,4}}:){{2,7}}[0-9A-Fa-f]{{0,4}})$"
)


def _convert_series(s: pd.Series, dtype: str) -> pd.Series:
    """Go transformType semantics (dissect.go:250-276): trim right spaces,
    ints accept 0x hex, invalid → null."""
    v = s.str.rstrip(" ")
    if dtype in ("integer", "long"):
        hexmask = v.str.lower().str.startswith("0x", na=False)
        num = pd.to_numeric(v.where(~hexmask), errors="coerce")
        if hexmask.any():
            hx = v[hexmask].map(lambda x: _try_int16(x))
            num = num.astype("object")
            num[hexmask] = hx
        num = pd.to_numeric(num, errors="coerce")
        # non-integral or out-of-range values → null (Go ParseInt error →
        # no field); a bare astype would RAISE 'cannot safely cast' and
        # kill the task instead
        lo, hi = ((-(2 ** 63), 2 ** 63 - 1) if dtype == "long"
                  else (-(2 ** 31), 2 ** 31 - 1))
        okm = num.notna() & (num % 1 == 0) & (num >= lo) & (num <= hi)
        return num.where(okm).astype("Int64" if dtype == "long" else "Int32")
    if dtype in ("float", "double"):
        return pd.to_numeric(v, errors="coerce").astype("Float64" if dtype == "double" else "Float32")
    if dtype == "boolean":
        return _go_parse_bool(v)
    if dtype == "ip":
        ok = v.str.match(_IP_RE, na=False)
        return v.where(ok)
    return s


def _try_int16(x: str):
    try:
        return int(x, 16)
    except (ValueError, TypeError):
        return None


def build_extractor(tokenizer: str, trim_mode: str = "none",
                    trim_chars: str = " ", engine: str = "regex"):
    """Compile a tokenizer → (pandas_udf, result StructType or MapType).

    Static tokenizers return ``struct<key:typed..., _failed:boolean>``;
    dynamic ones return ``struct<_map:map<string,string>, _failed:boolean>``.
    """
    t = parse_tokenizer(tokenizer)

    if t.dynamic or engine == "exact":
        return _build_exact_udf(t, trim_mode, trim_chars)

    pattern, _ = compile_regex(t)
    out_keys = t.out_keys()
    key_dtype: dict[str, str] = {}
    for k in t.keys:
        if k.kind == "normal" and k.dtype:
            key_dtype[k.name] = k.dtype

    fields = [
        T.StructField(name, _spark_type(key_dtype.get(name, "")), True)
        for name in out_keys
    ]
    fields.append(T.StructField("_failed", T.BooleanType(), True))
    result_type = T.StructType(fields)

    # plan-time capture for the executor-side closure
    keys_sorted = sorted(
        [k for k in t.keys if k.kind in ("normal", "append")],
        key=lambda k: (k.ordinal, k.id),
    )
    joins = {k.id: (t.delims[k.id] or " ") for k in t.keys if k.kind == "append"}

    def extract(series: pd.Series) -> pd.DataFrame:
        s = series.astype("string")
        ext = s.str.extract(pattern)  # one vectorized pass
        failed = ext.isna().all(axis=1) | s.isna() | (s.str.len() == 0)
        out: dict[str, pd.Series] = {}
        for k in keys_sorted:
            v = ext[f"g{k.id}"]
            if trim_mode != "none":
                if trim_mode in ("left", "all"):
                    v = v.str.lstrip(trim_chars)
                if trim_mode in ("right", "all"):
                    v = v.str.rstrip(trim_chars)
            if k.name in out and k.kind == "append":
                out[k.name] = out[k.name] + joins[k.id] + v
            else:
                out[k.name] = v
        cols: dict[str, Any] = {}
        for name in out_keys:
            v = out[name].where(~failed)
            dt = key_dtype.get(name, "")
            cols[name] = _convert_series(v, dt) if dt else v
        cols["_failed"] = failed
        return pd.DataFrame(cols)

    udf = F.pandas_udf(extract, returnType=result_type)
    return udf, result_type


def _spark_type(dtype: str) -> T.DataType:
    return {
        "integer": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "boolean": T.BooleanType(),
    }.get(dtype, T.StringType())


def _build_exact_udf(t: Tokenizer, trim_mode: str, trim_chars: str):
    result_type = T.StructType(
        [
            T.StructField("_map", T.MapType(T.StringType(), T.StringType()), True),
            T.StructField("_failed", T.BooleanType(), True),
        ]
    )

    def extract(series: pd.Series) -> pd.DataFrame:
        vals = series.map(
            lambda s: scan_exact(t, s, trim_mode, trim_chars) if isinstance(s, str) else None
        )
        return pd.DataFrame({"_map": vals, "_failed": vals.isna()})

    udf = F.pandas_udf(extract, returnType=result_type)
    return udf, result_type


# -- JVM fast path -----------------------------------------------------------

def jvm_eligible(t: Tokenizer, trim_mode: str) -> bool:
    """True when the tokenizer needs none of the Python-side machinery:
    static (no indirect/pointer), no trim, and only types whose Go parse
    semantics a plain Spark cast reproduces (the pandas path also accepts
    0x-hex ints and Go bool spellings — regex-rare cases). ``append`` keys
    ARE eligible: each capture is a regexp_extract and the joins become one
    concat in ordinal order."""
    if t.dynamic or trim_mode != "none":
        return False
    for k in t.keys:
        if k.dtype not in ("", "integer", "long", "float", "double"):
            return False
    return True


def build_jvm_columns(t: Tokenizer, col: Column):
    """Compile the tokenizer to ONE anchored Java regex evaluated entirely
    inside whole-stage codegen: ``rlike`` for the failure flag + one
    ``regexp_extract`` per output key. Zero Python, no Arrow transfer —
    dissect at the speed of the JVM (the reference's compile-once positional
    scanner, dissect.go:104-181, re-expressed as a codegen'd regex).

    Returns (failed: Column, payload: struct Column).
    """
    pattern, group_names = compile_regex(t)
    # Python named groups → plain groups for Java (names match (?P<gN>...))
    java_rx = "(?s)" + re.sub(r"\(\?P<g\d+>", "(", pattern.pattern)
    gidx = {name: i + 1 for i, name in enumerate(group_names)}
    matched = col.isNotNull() & (col != "") & col.rlike(java_rx)

    cast_map = {"integer": "int", "long": "bigint",
                "float": "float", "double": "double"}
    # append joins in (ordinal, id) order with the delimiter before the
    # appended capture (field.go append semantics) — same combine loop as the
    # pandas path, expressed as concat
    keys_sorted = sorted((k for k in t.keys if k.kind in ("normal", "append")),
                         key=lambda k: (k.ordinal, k.id))
    joins = {k.id: (t.delims[k.id] or " ") for k in t.keys if k.kind == "append"}
    key_dtype = {k.name: k.dtype for k in t.keys
                 if k.kind == "normal" and k.dtype}
    out: dict[str, Column] = {}
    for k in keys_sorted:
        v = F.regexp_extract(col, java_rx, gidx[f"g{k.id}"])
        if k.name in out and k.kind == "append":
            out[k.name] = F.concat(out[k.name], F.lit(joins[k.id]), v)
        else:
            out[k.name] = v
    # fields are NOT individually guarded by `matched` — the caller wraps the
    # whole struct in F.when(~failed, ...), so each row pays one rlike plus
    # one regexp_extract per capture instead of re-evaluating the guard
    cols = []
    for name in t.out_keys():
        v = out[name]
        if name in key_dtype:
            v = F.rtrim(v).try_cast(cast_map[key_dtype[name]])  # Go rstrips
        cols.append(v.alias(name))
    return ~matched, F.struct(*cols)


# -- Stage -------------------------------------------------------------------

@register("dissect")
def dissect(cfg: dict[str, Any]) -> Stage:
    tokenizer = cfg["tokenizer"]
    src = cfg.get("field", "message")
    target = cfg.get("target_prefix", "dissect")
    ignore_failure = cfg.get("ignore_failure", False)
    overwrite_keys = cfg.get("overwrite_keys", False)
    trim_mode = cfg.get("trim_values", "none")
    trim_chars = cfg.get("trim_chars", " ")
    # engine: auto → pure-JVM regex when the pattern needs no Python-side
    # machinery (UDFs are the slow path); pandas → always Arrow UDF;
    # regex/exact → legacy names for the two pandas strategies.
    engine = cfg.get("engine", "auto")

    t = parse_tokenizer(tokenizer)
    use_jvm = engine in ("auto", "jvm") and jvm_eligible(t, trim_mode)
    if engine == "jvm" and not use_jvm:
        raise ValueError("dissect: tokenizer not JVM-eligible (has append/"
                         "indirect/trim/ip/bool features)")
    if use_jvm:
        out_names, is_dynamic = t.out_keys(), False
    else:
        pandas_engine = "regex" if engine in ("auto", "jvm", "pandas") else engine
        udf, result_type = build_extractor(tokenizer, trim_mode, trim_chars,
                                           pandas_engine)
        out_names = [f.name for f in result_type.fields
                     if f.name not in ("_failed", "_map")]
        is_dynamic = "_map" in result_type.fieldNames()

    class Dissect(Stage):
        def updates(self, ev: Event) -> None:
            if not ev.has(src):
                raise ValueError(f"dissect: field {src!r} not in schema")
            if target and ev.has(target) and not overwrite_keys:
                raise ValueError(
                    f"dissect: target_prefix {target!r} exists (set overwrite_keys)"
                )
            if is_dynamic and not target:
                # a dynamic map cannot merge into the root of a static
                # schema — silently losing the extraction would look like
                # success, so refuse at plan time
                raise ValueError(
                    "dissect: dynamic tokenizers (?/&/* keys) require a "
                    "non-empty target_prefix (map output cannot merge at "
                    "the schema root)"
                )
            src_col = ev.get(src).cast("string")
            if use_jvm:
                failed, payload = build_jvm_columns(t, src_col)
            else:
                raw, = ev.stage(udf(src_col))
                failed = F.coalesce(raw.getField("_failed"), F.lit(True))
                payload = raw.getField("_map") if is_dynamic else F.struct(
                    *[raw.getField(n).alias(n) for n in out_names])
            # failed rows keep their PRE-EXISTING value (processor.go:
            # failed events pass unchanged) — a bare when() would null it
            if target:
                ev.set(target, F.when(~failed, payload)
                       .otherwise(ev.get(target)))
            else:
                # merge at root (target_prefix: "")
                for n in out_names:
                    if ev.has(n) and not overwrite_keys:
                        raise ValueError(f"dissect: key {n!r} exists at root")
                    ev.set(n, F.when(~failed, payload.getField(n))
                           .otherwise(ev.get(n)))
            append_flag(ev, FLAG_PARSING_ERROR, failed)
            if not ignore_failure:
                set_error_message(
                    ev, failed,
                    f"dissect: parsing failure (tokenizer={tokenizer})")

    return Dissect()
