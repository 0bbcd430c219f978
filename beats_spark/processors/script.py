"""Script processor: the UDF escape hatch.

The reference embeds a JavaScript VM with an Event API
(script/javascript/javascript.go:167, session.go:207). Our surface is a
user-supplied Python function over a ``pandas.DataFrame`` batch applied via
``mapInPandas`` — Arrow-batched, whole-row access, and the same
exception-tagging semantics (``_js_exception`` → ``_script_exception`` in
``log.flags``-style error column).

Config: ``fn``: Callable[[pd.DataFrame], pd.DataFrame] (must preserve/declare
schema via ``schema`` DDL when it changes), ``tag_on_exception``.
"""

from __future__ import annotations

from typing import Any, Callable

import pandas as pd

from pyspark.sql import DataFrame

from beats_spark.processors.base import Stage, register


@register("script")
def script(cfg: dict[str, Any]) -> Stage:
    fn: Callable[[pd.DataFrame], pd.DataFrame] = cfg["fn"]
    schema_ddl: str | None = cfg.get("schema")
    tag = cfg.get("tag_on_exception", "_script_exception")

    class Script(Stage):
        def custom(self, df: DataFrame) -> DataFrame:
            out_schema = schema_ddl or df.schema
            if isinstance(schema_ddl, str):
                from pyspark.sql.types import DataType

                out_cols = DataType.fromDDL(schema_ddl).fieldNames()
            else:
                out_cols = [f.name for f in df.schema.fields]

            def conform(pdf):
                """Shape a batch to the DECLARED output schema — the
                exception fallback must not crash Arrow serialization just
                because fn would have added/removed columns."""
                out = pdf.copy()
                for c in out_cols:
                    if c not in out.columns:
                        out[c] = None
                return out[[c for c in out_cols]]

            def run(batches):
                for pdf in batches:
                    try:
                        yield fn(pdf)
                    except Exception:  # noqa: BLE001 — mirror tag_on_exception
                        fb = conform(pdf)
                        if "tags" in fb.columns:
                            fb["tags"] = fb["tags"].map(
                                lambda t: (list(t) if t is not None else []) + [tag]
                            )
                        yield fb

            return df.mapInPandas(run, schema=out_schema)

    return Script()
