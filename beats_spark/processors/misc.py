"""Remaining processor-inventory stages (SURVEY §2.2): gzip decompress,
mime sniff, locale, extract_array, data-stream / formatted-index sink
naming, timeseries instance hash.
"""

from __future__ import annotations

import gzip
import re
from typing import Any

import pandas as pd

from pyspark.sql import Column, functions as F

from beats_spark.event import Event
from beats_spark.fmtstr import compile_fmtstr
from beats_spark.processors.base import Stage, register


@register("decompress_gzip_field")
def decompress_gzip_field(cfg: dict[str, Any]) -> Stage:
    """Gunzip a binary/base64 field (actions/decompress_gzip_field.go:41-69).
    No JVM builtin → Arrow-batched pandas UDF; invalid data → null (the
    fail_on_error=false path)."""
    fld = cfg.get("field", {})
    src = fld.get("from", cfg.get("from", "message"))
    dst = fld.get("to", cfg.get("to", src))
    ignore_missing = cfg.get("ignore_missing", False)

    def gunzip(s: pd.Series) -> pd.Series:
        def one(v):
            if v is None:
                return None
            try:
                # a string-typed column carries the bytes as latin-1-safe
                # chars (bytes(str) would raise and silently NULL the row)
                b = v.encode("latin-1", "ignore") if isinstance(v, str) else bytes(v)
                return gzip.decompress(b).decode("utf-8", "replace")
            except Exception:
                return None
        return s.map(one)

    udf = F.pandas_udf(gunzip, returnType="string")

    class Gunzip(Stage):
        def updates(self, ev: Event) -> None:
            if not ev.has(src):
                if ignore_missing:
                    return
                raise ValueError(f"decompress_gzip_field: missing {src!r}")
            ev.set(dst, udf(ev.get(src)))

    return Gunzip()


# magic-byte prefixes → mime, as a pure column expression (the reference
# sniffs content via net/http DetectContentType; these cover its common set)
_MAGIC = [
    ("1F8B", "application/gzip"),
    ("25504446", "application/pdf"),
    ("89504E47", "image/png"),
    ("FFD8FF", "image/jpeg"),
    ("47494638", "image/gif"),
    ("504B0304", "application/zip"),
    ("7B", "application/json"),      # '{'
    ("3C3F786D6C", "text/xml"),      # '<?xml'
    ("3C68746D6C", "text/html"),     # '<html'
]


@register("detect_mime_type")
def detect_mime_type(cfg: dict[str, Any]) -> Stage:
    """Content sniff → mime (actions/detect_mime_type.go:32-54), as an
    F.when chain over hex magic prefixes — JVM-side, no UDF."""
    src = cfg.get("field", "message")
    target = cfg.get("target", "mime_type")

    class Mime(Stage):
        def updates(self, ev: Event) -> None:
            col = ev.get(src)
            hx = F.upper(F.hex(col.cast("binary")))
            expr: Column = F.lit(None).cast("string")
            for magic, mime in reversed(_MAGIC):
                expr = F.when(hx.startswith(magic), F.lit(mime)).otherwise(expr)
            ev.set(target, expr)

    return Mime()


@register("add_locale")
def add_locale(cfg: dict[str, Any]) -> Stage:
    """event.timezone (add_locale/add_locale.go:63-89) — a driver-side
    constant; ``format: offset`` renders +00:00-style from the session tz."""
    fmt = cfg.get("format", "offset")

    class Locale(Stage):
        def updates(self, ev: Event) -> None:
            spark = ev.frame().sparkSession
            tz = spark.conf.get("spark.sql.session.timeZone", "UTC")
            ev.set("event.timezone", F.lit(tz) if fmt == "abbreviation"
                   else F.date_format(F.current_timestamp(), "xxx"))

    return Locale()


@register("extract_array")
def extract_array(cfg: dict[str, Any]) -> Stage:
    """Map array elements at indices → named fields
    (extract_array/extract_array.go:35-86). ``mappings: {field: index}``."""
    src = cfg["field"]
    mappings: dict[str, int] = cfg.get("mappings", {})
    ignore_missing = cfg.get("ignore_missing", False)

    class ExtractArray(Stage):
        def updates(self, ev: Event) -> None:
            if not ev.has(src):
                if ignore_missing:
                    return
                raise ValueError(f"extract_array: missing {src!r}")
            arr = ev.get(src)
            # element_at is 1-based; config indices are 0-based like Go
            for dst, i in mappings.items():
                ev.set(dst, F.element_at(arr, int(i) + 1))

    return ExtractArray()


@register("add_data_stream")
def add_data_stream(cfg: dict[str, Any]) -> Stage:
    """data_stream.{type,dataset,namespace} + the derived index name
    (add_data_stream/add_data_stream.go:87-99)."""
    typ = cfg.get("type", "logs")
    dataset = cfg.get("dataset", "generic")
    namespace = cfg.get("namespace", "default")

    class DataStream(Stage):
        def updates(self, ev: Event) -> None:
            ev.set("data_stream.type", F.lit(typ))
            ev.set("data_stream.dataset", F.lit(dataset))
            ev.set("data_stream.namespace", F.lit(namespace))
            ev.set("_meta_raw_index", F.lit(f"{typ}-{dataset}-{namespace}"))

    return DataStream()


@register("add_formatted_index")
def add_formatted_index(cfg: dict[str, Any]) -> Stage:
    """@metadata.raw_index from an event-format string + the event ts
    (add_formatted_index/add_formatted_index.go:43-44); %{+yyyy.MM.dd}
    date-math is rendered from the ``ts`` column."""
    index = cfg["index"]
    ts_field = cfg.get("ts_field", "ts")

    class FormattedIndex(Stage):
        def updates(self, ev: Event) -> None:
            df = ev.frame()
            expr = index
            parts: list[Column] = []
            pos = 0
            for m in re.finditer(r"%\{\+([^}]+)\}", expr):
                if m.start() > pos:
                    parts.append(compile_fmtstr(df, expr[pos:m.start()]))
                parts.append(F.date_format(ev.get(ts_field), m.group(1)))
                pos = m.end()
            if pos < len(expr):
                parts.append(compile_fmtstr(df, expr[pos:]))
            out = parts[0] if len(parts) == 1 else F.concat(*parts)
            ev.set("_meta_raw_index", out)

    return FormattedIndex()


@register("timeseries_instance")
def timeseries_instance(cfg: dict[str, Any]) -> Stage:
    """timeseries_instance = hash of dimension fields
    (timeseries/timeseries.go:68-79)."""
    dims = cfg.get("fields", [])

    class TsInstance(Stage):
        def updates(self, ev: Event) -> None:
            cols = [ev.get(d).cast("string") for d in sorted(dims)]
            ev.set("timeseries.instance", F.xxhash64(*cols))

    return TsInstance()


@register("decode_xml")
def decode_xml(cfg: dict[str, Any]) -> Stage:
    """XML string → nested map (decode_xml/decode_xml.go:87). stdlib
    ElementTree in an Arrow-batched pandas UDF; attributes keyed as-is,
    repeated children collapse to their last value (flat map — nested
    structure round-trips through the dotted-key convention)."""
    src = cfg.get("field", "message")
    target = cfg.get("target_field", "xml")
    ignore_failure = cfg.get("ignore_failure", True)

    def parse_batch(s: pd.Series) -> pd.Series:
        import xml.etree.ElementTree as ET

        def flatten(el, prefix=""):
            out = {}
            for k, v in el.attrib.items():
                out[f"{prefix}{k}"] = v
            kids = list(el)
            if not kids:
                if el.text and el.text.strip():
                    out[prefix.rstrip(".") or el.tag] = el.text.strip()
                return out
            for kid in kids:
                out.update(flatten(kid, f"{prefix}{kid.tag}."))
            return out

        def one(v):
            if v is None:
                return None
            try:
                return flatten(ET.fromstring(v))
            except ET.ParseError:
                return None
        return s.map(one)

    udf = F.pandas_udf(parse_batch, returnType="map<string,string>")

    class DecodeXml(Stage):
        def updates(self, ev: Event) -> None:
            if not ev.has(src):
                if ignore_failure:
                    return
                raise ValueError(f"decode_xml: missing {src!r}")
            ev.set(target, udf(ev.get(src).cast("string")))

    return DecodeXml()


def _const_struct_stage(target: str, fields: dict[str, Any]) -> Stage:
    class ConstStruct(Stage):
        def updates(self, ev: Event) -> None:
            for k, v in fields.items():
                ev.set(f"{target}.{k}", F.lit(v))

    return ConstStruct()


@register("add_host_metadata")
def add_host_metadata(cfg: dict[str, Any]) -> Stage:
    """Static host facts (add_host_metadata.go:83) — driver-side constants
    resolved once at plan time, broadcast implicitly as literals."""
    import platform
    import socket

    target = cfg.get("target", "host")
    facts = {
        "name": cfg.get("name", socket.gethostname()),
        "os_family": platform.system().lower(),
        "architecture": platform.machine(),
    }
    facts.update(cfg.get("fields", {}))
    return _const_struct_stage(target, facts)


@register("add_observer_metadata")
def add_observer_metadata(cfg: dict[str, Any]) -> Stage:
    """observer.* facts (add_observer_metadata) — same constant-struct shape."""
    import socket

    facts = {"hostname": cfg.get("hostname", socket.gethostname()),
             "type": cfg.get("type", "pipeline")}
    facts.update(cfg.get("fields", {}))
    return _const_struct_stage(cfg.get("target", "observer"), facts)


@register("add_cloud_metadata")
def add_cloud_metadata(cfg: dict[str, Any]) -> Stage:
    """Cloud provider facts (add_cloud_metadata.go:115). The reference
    probes metadata endpoints once at startup; here the probe result is
    passed in config (``facts``) — per-row behavior identical (constants);
    probing HTTP endpoints from executors would be wrong at any scale."""
    facts = cfg.get("facts") or {"provider": cfg.get("provider", "unknown")}
    return _const_struct_stage(cfg.get("target", "cloud"), facts)
