"""Grok-style regex parsing, pure JVM path.

Beats itself delegates grok to ES ingest pipelines
(filebeat/module/*/*/ingest/*.json); the in-process regex machinery is
match.Matcher (libbeat/common/match/matcher.go:59-109). We expose a grok
layer directly: a pattern dictionary expands ``%{NAME:field}`` references to
a plain regex at plan time, and each named capture becomes one
``regexp_extract`` — fully codegen'd by Catalyst (regex compiled once per
task on the JVM), zero Python. Failure rows get ``grok_parsing_error`` in
``log.flags``.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from beats_spark.event import (Event, _quote, append_flag, get_path, has_path,
                               path_type, set_error_message, with_path)
from beats_spark.processors.base import Stage, register

# A small built-in pattern library (public grok idiom); users can extend via
# the ``pattern_definitions`` config key.
BUILTIN_PATTERNS: dict[str, str] = {
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?\d+",
    "NUMBER": r"[+-]?\d+(?:\.\d+)?",
    "BASE16NUM": r"(?:0[xX])?[0-9a-fA-F]+",
    "IP": r"(?:\d{1,3}\.){3}\d{1,3}",
    "IPV6": r"(?:[0-9A-Fa-f]{0,4}:){2,7}[0-9A-Fa-f]{0,4}",
    "HOSTNAME": r"\b[0-9A-Za-z][0-9A-Za-z-]{0,62}(?:\.[0-9A-Za-z][0-9A-Za-z-]{0,62})*\.?",
    "UUID": r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}",
    "TIMESTAMP_ISO8601": r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(?:\.\d+)?(?:Z|[+-]\d{2}:?\d{2})?",
    "LOGLEVEL": r"(?:[Tt]race|TRACE|[Dd]ebug|DEBUG|[Ii]nfo|INFO|[Ww]arn(?:ing)?|WARN(?:ING)?|[Ee]rr(?:or)?|ERR(?:OR)?|[Ff]atal|FATAL)",
    "QUOTEDSTRING": r'"(?:[^"\\]|\\.)*"|\'(?:[^\'\\]|\\.)*\'',
    "PATH": r"(?:/[\w.-]+)+",
    "SYSLOGTIMESTAMP": r"[A-Z][a-z]{2} +\d{1,2} \d{2}:\d{2}:\d{2}",
}

_GROK_REF = re.compile(r"%\{(\w+)(?::([\w.\[\]@]+))?(?::(\w+))?\}")


def _neutralize_groups(text: str) -> str:
    """Rewrite bare ``(`` in literal regex text to ``(?:``.

    Real module patterns (e.g. filebeat nginx access: ``(%{NGINX_HOST} )?``,
    ``"(-|%{DATA:...})"``) use plain parens for grouping; ES-grok discards
    such unnamed captures, but our group-index → field mapping would be
    shifted by them. Escapes (``\\(``) and character classes (``[(]``) are
    left untouched; already-special groups (``(?:``, ``(?=``…) pass through.
    """
    out: list[str] = []
    i, in_class = 0, False
    while i < len(text):
        c = text[i]
        if c == "\\" and i + 1 < len(text):
            out.append(text[i:i + 2])
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
        elif c == "[":
            in_class = True
        elif c == "(" and text[i + 1:i + 2] != "?":
            out.append("(?:")
            i += 1
            continue
        out.append(c)
        i += 1
    return "".join(out)

_GROK_TYPES = {"int": "bigint", "long": "bigint", "float": "double", "double": "double"}


def expand_grok(expr: str, definitions: dict[str, str] | None = None,
                _depth: int = 0) -> tuple[str, list[tuple[str, str]]]:
    """Expand %{NAME:field:type} refs → plain regex with numbered groups.

    Returns (regex, [(field, type), ...]) in group order. Unnamed refs become
    non-capturing. Named groups are emitted as plain groups so the field
    list maps group index → output field.
    """
    if _depth > 10:
        raise ValueError("grok: pattern recursion too deep")
    defs = {**BUILTIN_PATTERNS, **(definitions or {})}
    fields: list[tuple[str, str]] = []

    out: list[str] = []
    pos = 0
    for m in _GROK_REF.finditer(expr):
        out.append(_neutralize_groups(expr[pos : m.start()]))
        name, field, typ = m.group(1), m.group(2), m.group(3)
        if name not in defs:
            raise ValueError(f"grok: unknown pattern %{{{name}}}")
        sub, sub_fields = expand_grok(defs[name], definitions, _depth + 1)
        if field:
            fields.append((field, typ or ""))
            out.append(f"({sub})")
            fields.extend(sub_fields)
        else:
            # unnamed ref: non-capturing wrapper, but any NAMED sub-captures
            # inside it still extract (ES grok semantics — e.g. filebeat
            # nginx `(%{NGINX_HOST} )?` where NGINX_HOST defines
            # destination.ip/domain/port)
            out.append(f"(?:{sub})")
            fields.extend(sub_fields)
        pos = m.end()
    out.append(_neutralize_groups(expr[pos:]))
    return "".join(out), fields


@register("grok")
def grok(cfg: dict[str, Any]) -> Stage:
    """Config: ``pattern`` (grok expression) or ``patterns`` (ordered list —
    first matching pattern wins, the ES ingest-grok multi-pattern surface
    used by e.g. filebeat/module/apache/access/ingest/pipeline.yml), ``field``
    (default message), ``target_prefix`` (default "" = root),
    ``pattern_definitions``, ``anchor`` (default True: full-line match like
    ES ingest grok)."""
    pats: list[str] = (cfg["patterns"] if "patterns" in cfg
                       else [cfg["pattern"]])
    if not pats:
        raise ValueError("grok: patterns list is empty")
    src = cfg.get("field", "message")
    target = cfg.get("target_prefix", "")
    definitions = cfg.get("pattern_definitions")
    anchored = cfg.get("anchor", True)
    ignore_failure = cfg.get("ignore_failure", True)
    # ES grok leaves non-participating alternation branches MISSING;
    # regexp_extract yields "" for them. Opt-in conversion ""→NULL for
    # module-pipeline parity (off by default: a participating %{DATA}
    # match of the empty string is legitimately "").
    null_empty = cfg.get("null_empty_captures", False)

    regexes: list[str] = []
    # field name → [(pattern_idx, group_idx, declared type)] — declared
    # types are collected per site but APPLIED only when every site of the
    # field agrees (see the combine layer): a DataFrame column has one
    # static type, and casting only some coalesce branches makes ANSI
    # insert a strict cast that crashes on non-numeric input
    fmap: dict[str, list[tuple[int, int, str]]] = {}
    for j, p in enumerate(pats):
        regex, fields = expand_grok(p, definitions)
        if anchored:
            regex = f"^(?:{regex})$"
        if not fields:
            raise ValueError("grok: pattern has no named captures")
        regexes.append(regex)
        for i, (name, typ) in enumerate(fields):
            fmap.setdefault(name, []).append((j, i + 1, typ))

    class Grok(Stage):
        def apply(self, df: DataFrame, cond: Column | None = None) -> DataFrame:
            if not has_path(df.schema, src):
                raise ValueError(f"grok: field {src!r} not in schema")
            col = get_path(df, src).cast("string")
            # Stage every regex evaluation ONCE behind temp columns (match
            # flag per pattern + raw extract per capture site): the combine
            # layer below (nullif / exclusive selectors / coalesce) would
            # otherwise re-embed each multi-KB regex 2× per field — nullif
            # duplicates its operand — and whole-stage codegen fuses all the
            # per-field projections into one generated function that blows
            # the JVM's 64 KB method limit and falls back to the
            # interpreter (observed on the 4-pattern apache module grok).
            existing = {c.lower() for c in df.columns}
            tp, i = "__grok_", 0
            while any(x.lower().startswith(tp) for x in existing):
                i += 1
                tp = f"__grok{i}_"
            flags = {
                f"{tp}m{j}": F.coalesce(col.rlike(rx), F.lit(False))
                for j, rx in enumerate(regexes)
            }
            df = df.withColumns(flags)
            # extracts gated on the (already-staged, attribute-ref) match
            # flag: a pattern that did not match skips its regex scans
            # entirely — on a mostly-single-format corpus that saves
            # (patterns−1) × capture-sites full-regex scans per row
            xcols: dict[str, Column] = {}
            for name, sites in fmap.items():
                for j, gi, _typ in sites:
                    xcols[f"{tp}x{j}_{gi}"] = F.when(
                        F.col(f"{tp}m{j}"),
                        F.regexp_extract(col, regexes[j], gi))
            df = df.withColumns(xcols)
            # mutually exclusive pattern selectors: pattern j applies only
            # when no earlier pattern matched (ES tries in order)
            sels: list[Column] = []
            prior: Column = F.lit(False)
            for j in range(len(regexes)):
                h = F.col(f"{tp}m{j}")
                sels.append(h & ~prior)
                prior = prior | h
            matched = prior
            # per field: value from the winning pattern (NULL from all
            # others — selectors are exclusive), written iff the winning
            # pattern declares the field
            cols: dict[str, tuple[Column, Column]] = {}
            for name, sites in fmap.items():
                by_pat: dict[int, list[tuple[int, str]]] = {}
                for j, gi, typ in sites:
                    by_pat.setdefault(j, []).append((gi, typ))
                parts: list[Column] = []
                written: Column = F.lit(False)
                for j, slist in by_pat.items():
                    # several sites of the SAME field inside one pattern is
                    # the alternation idiom (?:%{IP:host}|%{HOSTNAME:host}):
                    # the PARTICIPATING branch wins (non-participating
                    # groups extract ''), not first-declared
                    cands = [F.nullif(F.col(f"{tp}x{j}_{gi}"), F.lit(""))
                             for gi, _ in slist]
                    v = cands[0] if len(cands) == 1 else F.coalesce(*cands)
                    if not null_empty:
                        # a matched row whose capture is genuinely empty
                        # stays '' (the opt-in ""→NULL is null_empty's job)
                        v = F.coalesce(v, F.lit(""))
                    parts.append(F.when(sels[j], v))
                    written = written | sels[j]
                val = F.coalesce(*parts) if len(parts) > 1 else parts[0]
                # typing: a DataFrame column has ONE static type, so the
                # declared :type applies only when every site of the field
                # agrees on it; mixed typed/untyped or conflicting
                # declarations fall back to string (casting only some
                # coalesce branches would make ANSI insert a strict cast on
                # the string branch and crash the job on non-numeric input;
                # ES's per-document dynamic typing has no static analogue)
                declared = [t for _, _, t in sites]
                uniq = {t for t in declared if t}
                if len(uniq) == 1 and all(declared):
                    val = val.try_cast(_GROK_TYPES.get(uniq.pop(), "string"))
                if cond is not None:
                    written = cond & written
                cols[name] = (val, written)
            failed = ~matched
            if cond is not None:
                failed = cond & failed
            # non-matching / condition-false rows keep any PRE-EXISTING
            # destination value (a fallback grok chain over two formats
            # must not null out what the previous grok extracted); with
            # multiple patterns, fields absent from the winning pattern
            # also keep their old value (ES writes only the winner's
            # captures)
            if target:
                t_type = path_type(df.schema, target)
                if t_type is not None and not isinstance(t_type, T.StructType):
                    # ES leaves an existing field untouched when grok fails;
                    # a struct column replacing it would NULL it instead
                    raise ValueError(
                        f"grok: target_prefix {target!r} names an existing "
                        f"{t_type.simpleString()} field, not an object")
                if isinstance(t_type, T.StructType):
                    # MERGE captures into the existing struct (withField):
                    # pre-existing fields no capture writes survive matched
                    # rows, and both branches of the null-struct split have
                    # the identical shape — replacing the whole struct
                    # dropped foreign fields and failed analysis against a
                    # differently-shaped old struct (r4 ADVICE finding)
                    old = get_path(df, target)
                    merged = old
                    for n, (v, w) in cols.items():
                        prev = (get_path(df, f"{target}.{n}")
                                if has_path(df.schema, f"{target}.{n}")
                                else F.lit(None))
                        merged = merged.withField(
                            _quote(n), F.when(w, v).otherwise(prev))
                    # a NULL old struct nullifies withField — matched rows
                    # must still create the struct, with the same shape:
                    # old fields (null unless captured) in order, then
                    # appended capture fields
                    fresh: list[Column] = []
                    old_names = set()
                    for f_ in t_type.fields:
                        old_names.add(f_.name)
                        if f_.name in cols:
                            v, w = cols[f_.name]
                            fresh.append(F.when(w, v).alias(f_.name))
                        else:
                            fresh.append(
                                F.lit(None).cast(f_.dataType).alias(f_.name))
                    for n, (v, w) in cols.items():
                        if n not in old_names:
                            fresh.append(F.when(w, v).alias(n))
                    # a NULL old struct on a row NO pattern matched stays
                    # NULL (ES never creates the target on grok failure) —
                    # an unguarded fresh struct would be non-null all-NULL
                    any_written = F.lit(False)
                    for _, w in cols.values():
                        any_written = any_written | w
                    payload = F.when(old.isNotNull(), merged) \
                        .otherwise(F.when(any_written, F.struct(*fresh)))
                else:
                    # no pre-existing struct: build from captures only
                    payload = F.struct(*[
                        F.when(w, v).alias(n) for n, (v, w) in cols.items()])
                    any_written = F.lit(False)
                    for _, w in cols.values():
                        any_written = any_written | w
                    payload = F.when(any_written, payload)
                df = with_path(df, target, payload)
            else:
                # every capture lands in one batched projection (a
                # with_path per dotted capture cost 3 eager analyses each)
                ev = Event(df)
                for n, (v, w) in cols.items():
                    ev.set(n, F.when(w, v).otherwise(ev.get(n)))
                df = ev.frame()
            # failure is always visible in log.flags (like dissect);
            # error.message only without ignore_failure
            df = append_flag(df, "grok_parsing_error", cond=failed)
            if not ignore_failure:
                df = set_error_message(df, failed, "grok: no pattern matched")
            return df.drop(*flags, *xcols)

    return Grok()
