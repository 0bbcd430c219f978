"""Lookup enrichment = broadcast hash join.

All of the reference's enrichers (dns caches, add_docker/kubernetes/
process_metadata, translate_sid — SURVEY §2.6) are hash-map lookups against
a cached side table: semantically a LEFT OUTER BROADCAST JOIN of the event
stream against a small dimension. Never per-row IO; at 100 TB the dim ships
once per executor and the join is map-side (no shuffle of the big side).
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column, DataFrame, functions as F

from beats_spark.event import Event, get_path, has_path
from beats_spark.processors.base import Stage, register

# name → DataFrame provider, bound by the pipeline before building stages
_LOOKUP_PROVIDERS: dict[str, Callable[[], DataFrame]] = {}


def register_lookup(name: str, provider: Callable[[], DataFrame]) -> None:
    _LOOKUP_PROVIDERS[name] = provider


@register("enrich")
def enrich(cfg: dict[str, Any]) -> Stage:
    """Config: ``lookup`` (registered name) or ``table`` (parquet path),
    ``on`` (event field = dim key column), ``fields`` (dim columns to bring,
    optional rename map), ``target`` (prefix, default the lookup name),
    ``default`` (value map applied on miss — the left-join-null path).
    """
    lookup_name = cfg.get("lookup")
    table_path = cfg.get("table")
    on = cfg["on"]
    key_col = cfg.get("key", on.split(".")[-1])
    fields = cfg.get("fields")  # None = all non-key columns
    target = cfg.get("target", lookup_name or "enrich")
    defaults = cfg.get("default", {})

    class Enrich(Stage):
        def custom(self, df: DataFrame) -> DataFrame:
            spark = df.sparkSession
            if lookup_name is not None:
                dim = _LOOKUP_PROVIDERS[lookup_name]()
            elif table_path is not None:
                dim = spark.read.parquet(table_path)
            else:
                raise ValueError("enrich: lookup or table required")
            cols = fields or [c for c in dim.columns if c != key_col]
            if isinstance(cols, dict):
                pairs = list(cols.items())
            else:
                pairs = [(c, c) for c in cols]
            # dim columns ride the join under a reserved prefix so a dim
            # column sharing a name with an event column can neither
            # become an ambiguous reference nor get the event's own
            # column dropped afterwards
            sel = [F.col(src).alias(f"__enr_{dst}") for src, dst in pairs]
            out_names = [dst for _, dst in pairs]
            dim = dim.select(F.col(key_col).alias("__enrich_key"), *sel)
            joined = df.join(
                F.broadcast(dim),
                get_path(df, on) == F.col("__enrich_key"),
                "left",
            ).drop("__enrich_key")
            payload_cols: list[Column] = []
            for c in out_names:
                v = F.col(f"__enr_{c}")
                if c in defaults:
                    v = F.coalesce(v, F.lit(defaults[c]))
                payload_cols.append(v.alias(c))
            payload = F.struct(*payload_cols)
            from beats_spark.event import with_path
            joined = with_path(joined, target, payload)
            return joined.drop(*[f"__enr_{c}" for c in out_names])

    return Enrich()


def _mask_hex_const(hexcol: Column, plen: int) -> Column:
    """First ``plen`` bits of a hex-encoded address, as the hex prefix
    string: whole nibbles verbatim + the next nibble masked. ``plen`` is a
    plan-time constant here (event side: one expression per distinct dim
    prefix length), so this folds to a substring + tiny arithmetic."""
    nib, rem = plen // 4, plen % 4
    body = F.substring(hexcol, 1, nib) if nib else F.lit("")
    if rem:
        step = 16 >> rem
        nibble = F.conv(F.substring(hexcol, nib + 1, 1), 16, 10).cast("int")
        body = F.concat(body, F.conv(nibble - nibble % step, 10, 16))
    return body


def _prepare_cidr_dim(rows, cidr_field: str, payload_fields: list[str]):
    """Driver-side dim preparation: parse each CIDR with stdlib ipaddress
    and emit {(family, prefix_len, masked-hex-key): payload-tuple},
    first-wins on duplicates (hash-lookup semantics). The key format is
    EXACTLY what the event side's _mask_hex_const computes from
    F.hex(_ip_bytes(ip)): uppercase hex prefix, whole nibbles verbatim +
    the next nibble masked. Invalid CIDR rows are skipped, matching the
    old Spark-side NULL-key filter; strict=False masks host bits like the
    Spark-side masking did."""
    import ipaddress

    prepared: dict[tuple[str, int, str], tuple] = {}
    for r in rows:
        c = r[cidr_field]
        if c is None:
            continue
        try:
            net = ipaddress.ip_network(str(c).strip(), strict=False)
        except ValueError:
            continue
        fam = "4" if net.version == 4 else "6"
        plen = net.prefixlen
        hx = net.network_address.packed.hex().upper()
        nib, rem = divmod(plen, 4)
        key = hx[:nib]
        if rem:
            step = 16 >> rem
            nibble = int(hx[nib], 16)
            key += format(nibble - nibble % step, "X")
        prepared.setdefault((fam, plen, key),
                            tuple(r[f] for f in payload_fields))
    return prepared


def _stage_ip_hex(df: DataFrame, ip: Column, tp: str):
    """Uppercase full-length hex of an ip string column (8 chars v4 / 32
    chars v6, NULL when invalid), staged through small temp columns.

    Value-identical to ``F.hex(flowhash._ip_bytes(ip))`` — same
    ``conditions._ip6_words`` validation (``::`` compression, embedded-v4
    tail, shape/group checks) — but each intermediate lands in its own
    temp column, so Catalyst analyzes a handful of ~20-node trees instead
    of ONE ~800-node tree whose shared subexpressions the Column DSL
    duplicates multiplicatively (~1.4 s of analysis per apply, measured).
    v6 groups are already hex, so the staged form also drops _ip_bytes's
    hex→dec→hex round-trip. Returns (df, hex_col_name, temp_col_names)."""
    from beats_spark.conditions import _IPV4_RE, _IPV4_TAIL_RE, _ip4_to_long

    c_s, c_left, c_right, c_hex = f"{tp}s", f"{tp}l", f"{tp}r", f"{tp}hex"

    s0 = F.lower(F.trim(ip))
    v4t = F.regexp_extract(s0, _IPV4_TAIL_RE, 1)
    v4l = _ip4_to_long(v4t)
    # embedded dotted-quad tail -> two hex words (same rewrite, same
    # permissive-tail semantics as _ip6_words)
    df = df.withColumn(c_s, F.when(v4t == "", s0).otherwise(F.concat(
        F.regexp_replace(s0, _IPV4_TAIL_RE, ":"),
        F.lower(F.conv(F.shiftright(v4l, 16).cast("string"), 10, 16)),
        F.lit(":"),
        F.lower(F.conv(v4l.bitwiseAND(F.lit(0xFFFF)).cast("string"), 10, 16)),
    )))
    s = F.col(c_s)
    parts = F.split(s, "::")  # tiny tree — inlined, not staged
    grp = lambda seg: F.filter(F.split(seg, ":"), lambda x: x != "")  # noqa: E731
    df = df.withColumns({
        c_left: grp(F.element_at(parts, 1)),
        c_right: F.when(F.size(parts) == 2, grp(F.element_at(parts, 2)))
                  .otherwise(F.array().cast("array<string>")),
    })
    n = F.size(F.col(c_left)) + F.size(F.col(c_right))
    # `full` references only staged column refs, so inlining it three times
    # (null-check / group-check / fold) stays small
    full = F.when(
        (F.size(parts) == 2) & (n <= 7),
        F.concat(F.col(c_left), F.array_repeat(F.lit("0"), 8 - n), F.col(c_right)),
    ).otherwise(F.when((F.size(parts) == 1) & (n == 8), F.col(c_left)))
    shape_ok = (
        s.rlike(r"^[0-9a-f:]+$")
        & ~s.contains(":::")
        & (F.size(parts) <= 2)
        & ~s.rlike(r"^:[^:]")
        & ~s.rlike(r"[^:]:$")
    )
    groups_ok = F.forall(full, lambda g: g.rlike("^[0-9a-f]{1,4}$"))
    hex6 = F.upper(F.aggregate(
        full, F.lit(""), lambda acc, g: F.concat(acc, F.lpad(g, 4, "0"))))
    hex4 = F.lpad(F.hex(_ip4_to_long(ip)), 8, "0")
    df = df.withColumn(c_hex, F.when(ip.rlike(_IPV4_RE), hex4).otherwise(
        F.when(shape_ok & full.isNotNull() & groups_ok, hex6)))
    return df, c_hex, [c_s, c_left, c_right, c_hex]


# Catalyst map literals are ArrayBasedMapData — probes are linear scans, so
# plan-inlining only wins while entries × rows stays cheap; beyond this the
# broadcast hash join's O(1) probe wins despite its per-action optimizer tax.
_INLINE_MAX_ENTRIES = 256


def _json_literal_slices(prepared, lengths, pairs) -> list[str] | None:
    """Per-(family, prefix-length) JSON objects {masked-key: payload-struct}
    for plan-inlined constant maps, or None when any payload value doesn't
    round-trip through JSON into its Catalyst type (binary, exotic objects)
    — callers then fall back to the broadcast-join path. Timestamps/dates
    serialize as ISO strings, which from_json parses back."""
    import datetime
    import json

    def conv(v):
        if isinstance(v, (datetime.datetime, datetime.date)):
            return v.isoformat()
        if v is None or isinstance(v, (str, int, float, bool)):
            return v
        raise TypeError(type(v))

    try:
        # allow_nan=False: bare NaN/Infinity is invalid JSON — from_json
        # would NULL the whole slice map and every key of that prefix
        # length would silently miss; such dims take the join path instead
        return [
            json.dumps({
                k: {dst: conv(p[i]) for i, (_, dst) in enumerate(pairs)}
                for (f2, p2, k), p in prepared.items()
                if f2 == f_ and p2 == l_
            }, ensure_ascii=False, allow_nan=False)
            for f_, l_ in lengths
        ]
    except (TypeError, ValueError):
        return None


@register("enrich_cidr")
def enrich_cidr(cfg: dict[str, Any]) -> Stage:
    """Longest-prefix CIDR-range enrich — the geoip join shape
    (filebeat/module/nginx/access/ingest/pipeline.yml:126-133 consumes it;
    the MaxMind DB itself cannot ship, the *join* is what the pipeline
    needs). An ip column matches the most specific CIDR row of a broadcast
    dim table.

    Config: ``lookup``/``table`` (dim with a ``cidr`` column + payload
    columns), ``on`` (event ip field), ``cidr`` (dim column, default
    "cidr"), ``fields`` (list or rename map, default all non-cidr),
    ``target`` (default the lookup name), ``ignore_missing``.

    Shape: the dim is collected and parsed ON THE DRIVER with stdlib
    ipaddress into per-prefix-length (masked-hex-key → payload) slices —
    the dim is broadcast-sized by contract, the same plan-time-collect
    contract as the PSL table in registered_domain, and a driver loop
    costs microseconds/row where the previous Spark-side parse paid a
    ~20 s fixed analysis/codegen job on the giant column-level IPv6 tree
    PER STAGE APPLY (measured r4, 6-row dim). The event ip is hex-encoded
    ONCE, then for each distinct prefix length the event computes its
    constant-length masked key and looks up that length's slice, longest
    first; the payload is the first non-null match. Two physical
    strategies, picked by dim size:

    - ``≤ _INLINE_MAX_ENTRIES`` total entries (the internal-networks /
      office-CIDR case): each slice is FOLDED INTO THE PLAN as a constant
      ``map<string,struct>`` literal (``from_json`` of a literal, constant-
      folded by Catalyst) probed with ``try_element_at`` — zero join
      nodes, zero extra jobs, and none of the L-join per-action optimizer
      tax (measured ~1.4 s/action at r4). Catalyst map literals are
      array-backed (O(entries) per probe), hence the cap.
    - larger dims (the MaxMind-scale case): LEFT BROADCAST-join per
      distinct prefix length — O(1) hash probes, dim ships once per
      executor.

    Both are map-side: at 100 TB this is ≤ address-bits broadcast hash
    joins (or pure projection) and ZERO shuffles of the event stream — no
    explode amplification, no groupBy to pick the longest match. IPv4 and
    IPv6 dims coexist (keys are family-tagged). Duplicate dim rows at the
    same (family, prefix, key) keep the first, matching hash-lookup
    first-wins."""
    lookup_name = cfg.get("lookup")
    table_path = cfg.get("table")
    on = cfg["on"]
    cidr_col = cfg.get("cidr", "cidr")
    fields = cfg.get("fields")
    target = cfg.get("target", lookup_name or "enrich_cidr")
    ignore_missing = cfg.get("ignore_missing", False)
    unknown = set(cfg) - {"lookup", "table", "on", "cidr", "fields",
                          "target", "ignore_missing", "when"}
    if unknown:
        raise ValueError(f"enrich_cidr: unknown config keys {sorted(unknown)}")

    class EnrichCIDR(Stage):
        def custom(self, df: DataFrame) -> DataFrame:
            from beats_spark.event import with_path

            if not has_path(df.schema, on):
                if ignore_missing:
                    return df
                raise ValueError(f"enrich_cidr: missing field {on!r}")
            spark = df.sparkSession
            if lookup_name is not None:
                dim = _LOOKUP_PROVIDERS[lookup_name]()
            elif table_path is not None:
                dim = spark.read.parquet(table_path)
            else:
                raise ValueError("enrich_cidr: lookup or table required")
            cols = fields or [c for c in dim.columns if c != cidr_col]
            pairs = (list(cols.items()) if isinstance(cols, dict)
                     else [(c, c) for c in cols])
            if cidr_col not in dim.columns:
                raise ValueError(
                    f"enrich_cidr: dim has no {cidr_col!r} column")

            # driver-side dim prep: one collect of the broadcast-sized dim
            # (plan-time, like the PSL collect in registered_domain), then
            # pure-Python CIDR parsing/masking — no Spark job, no giant
            # column-level IPv6 parse tree on the dim side
            raw = dim.select(cidr_col, *[s for s, _ in pairs]).collect()
            prepared = _prepare_cidr_dim(raw, cidr_col, [s for s, _ in pairs])
            lengths = sorted({(f_, p_) for f_, p_, _ in prepared},
                             key=lambda t: -t[1])

            from pyspark.sql import types as T
            payload_t = T.StructType([
                T.StructField(d, dim.schema[s].dataType) for s, d in pairs])

            ip = get_path(df, on).cast("string")
            existing = {c.lower() for c in df.columns}
            names = ["hex", "s", "l", "r"] + [
                f"{kp}{x}" for x in range(len(lengths)) for kp in ("k", "p")]
            tp, i = "__cidr_", 0
            while any(f"{tp}{x}".lower() in existing for x in names):
                i += 1
                tp = f"__cidr{i}_"
            df, hex_col, temp_cols = _stage_ip_hex(df, ip, tp)
            ev_hex = F.col(hex_col)
            ev_fam = F.when(F.length(ev_hex) == 8, "4").otherwise("6")

            inline_maps = (len(prepared) <= _INLINE_MAX_ENTRIES
                           and _json_literal_slices(prepared, lengths, pairs))

            hits: list[Column] = []
            if inline_maps:
                map_t = T.MapType(T.StringType(), payload_t)
                for (f_, l_), js in zip(lengths, inline_maps):
                    # same NULL-hex guard as the join path: a /0 row's
                    # masked key is the constant '', so an unguarded
                    # catch-all would "enrich" NULL/unparseable ips
                    ev_key = F.when((ev_fam == f_) & ev_hex.isNotNull(),
                                    _mask_hex_const(ev_hex, l_))
                    hits.append(
                        F.try_element_at(F.from_json(F.lit(js), map_t), ev_key))
                payload = F.coalesce(*hits) if hits else F.lit(None)
                return with_path(df, target, payload).drop(*temp_cols)

            for idx, (f_, l_) in enumerate(lengths):
                slice_schema = T.StructType([
                    T.StructField(f"{tp}k{idx}", T.StringType(), False),
                    T.StructField(f"{tp}p{idx}", payload_t)])
                slice_ = spark.createDataFrame(
                    [(k, p) for (f2, p2, k), p in prepared.items()
                     if f2 == f_ and p2 == l_], slice_schema)
                # the NULL-hex guard matters for /0 dim rows: their masked
                # key is the constant '' (independent of the hex column),
                # so without it a catch-all ::/0 or 0.0.0.0/0 row would
                # "enrich" rows whose ip is NULL or unparseable
                ev_key = F.when((ev_fam == f_) & ev_hex.isNotNull(),
                                _mask_hex_const(ev_hex, l_))
                df = df.join(F.broadcast(slice_),
                             ev_key == F.col(f"{tp}k{idx}"), "left")
                hits.append(F.col(f"{tp}p{idx}"))
            payload = F.coalesce(*hits) if hits else F.lit(None)
            out = with_path(df, target, payload)
            return out.drop(*temp_cols,
                            *[f"{tp}k{i}" for i in range(len(lengths))],
                            *[f"{tp}p{i}" for i in range(len(lengths))])

    return EnrichCIDR()


@register("add_network_direction")
def add_network_direction(cfg: dict[str, Any]) -> Stage:
    """Classify src/dst IPs vs internal_networks → direction
    (actions/add_network_direction.go:34-53)."""
    from beats_spark.conditions import NAMED_NETWORKS, _cidr_match

    src_f = cfg.get("source", "source.ip")
    dst_f = cfg.get("destination", "destination.ip")
    target = cfg.get("target", "network.direction")
    networks = cfg.get("internal_networks", ["private"])

    def is_internal(col: Column) -> Column:
        out = F.lit(False)
        for n in networks:
            for cidr in NAMED_NETWORKS.get(n, [n]):
                out = out | _cidr_match(col.cast("string"), cidr)
        return F.coalesce(out, F.lit(False))

    class NetDir(Stage):
        def updates(self, ev: Event) -> None:
            if not (ev.has(src_f) and ev.has(dst_f)):
                return
            s_in = is_internal(ev.get(src_f))
            d_in = is_internal(ev.get(dst_f))
            direction = (
                F.when(s_in & d_in, "internal")
                .when(s_in & ~d_in, "outbound")
                .when(~s_in & d_in, "inbound")
                .otherwise("external")
            )
            ev.set(target, direction)

    return NetDir()
