"""Processor framework: config list → composed DataFrame plan.

The reference runs processors serially per event; nil return = drop
(libbeat/processors/processor.go:189-202), with ``when`` guards
(conditionals.go:60-91) and ``if/then/else`` (conditionals.go:113-175).

Here a Stage declares itself in one of three shapes so conditions can be
fused into the SAME projection instead of branching per row:

- *project*: ``updates(ev)`` reads and writes fields through an
  :class:`~beats_spark.event.Event` overlay built from ``(df, cond)``. Each
  rule reads the writes of the rules before it (the reference's sequential
  semantics); under ``when`` every write becomes
  ``F.when(cond, new).otherwise(old)``; all writes land in one batched
  projection, flushed early only when a rule touches a path that is a
  segment-prefix of (or extends) an earlier write, or drops a field
  unconditionally;
- *filter*: ``keep() -> Column`` — under ``when`` it becomes
  ``~cond | keep`` (drop only matching rows);
- *custom*: ``custom(df) -> df`` (mapInPandas etc.) — under ``when`` the
  frame is split, transformed, and unioned back (rare; only ``script``).

Everything stays a single declarative plan: Catalyst sees through all of it.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, functions as F

from beats_spark.conditions import compile_condition
from beats_spark.event import Event

_cond_counter = itertools.count()


class Stage:
    """Base processor stage. Subclasses override one shape."""

    name = "stage"

    def updates(self, ev: Event) -> None:
        pass

    def keep(self, df: DataFrame) -> Column | None:
        return None

    def custom(self, df: DataFrame) -> DataFrame | None:
        return None

    # -- application ------------------------------------------------------

    def apply(self, df: DataFrame, cond: Column | None = None) -> DataFrame:
        out = self.custom(df)
        if out is not None:
            if cond is None:
                return out
            return self._apply_custom_cond(df, cond)

        keep = self.keep(df)
        if keep is not None:
            # NULL-safe guard: a when-condition that evaluates NULL per row
            # (e.g. equals' try_cast failing) means "condition false" in the
            # reference — ~NULL would otherwise stay NULL and the filter
            # would DROP the row
            return df.filter(
                keep if cond is None
                else (~F.coalesce(cond, F.lit(False)) | keep)
            )

        ev = Event(df, cond)
        self.updates(ev)
        return ev.frame()

    def _apply_custom_cond(self, df: DataFrame, cond: Column) -> DataFrame:
        tag = f"__when_{next(_cond_counter)}"
        df = df.withColumn(tag, cond)
        matched = self.custom(df.filter(F.col(tag)))
        assert matched is not None
        rest = df.filter(~F.coalesce(F.col(tag), F.lit(False)))
        return matched.unionByName(rest, allowMissingColumns=True).drop(tag)


@dataclass
class FnStage(Stage):
    """Adapter for simple function-shaped stages."""

    name: str = "fn"
    updates_fn: Callable[[DataFrame], dict[str, Column]] | None = None
    keep_fn: Callable[[DataFrame], Column] | None = None
    custom_fn: Callable[[DataFrame], DataFrame] | None = None

    def updates(self, ev: Event) -> None:
        if self.updates_fn:
            for path, value in self.updates_fn(ev.frame()).items():
                ev.set(path, value)

    def keep(self, df: DataFrame) -> Column | None:
        return self.keep_fn(df) if self.keep_fn else None

    def custom(self, df: DataFrame) -> DataFrame | None:
        return self.custom_fn(df) if self.custom_fn else None


@dataclass
class WhenStage(Stage):
    """``when:`` guard around another stage (WhenProcessor,
    conditionals.go:60-91)."""

    inner: Stage = field(default_factory=Stage)
    when_cfg: dict[str, Any] = field(default_factory=dict)
    name = "when"

    def apply(self, df: DataFrame, cond: Column | None = None) -> DataFrame:
        c = compile_condition(df, self.when_cfg)
        if cond is not None:
            c = cond & c
        return self.inner.apply(df, c)


@dataclass
class IfThenElseStage(Stage):
    """``if/then/else`` (IfThenElseProcessor, conditionals.go:113-175).

    The condition is materialized into a temp column FIRST so then-stages
    that rewrite fields the condition reads can't change which branch a row
    takes — matching the reference's evaluate-then-execute order.
    """

    cond_cfg: dict[str, Any] = field(default_factory=dict)
    then_stages: list[Stage] = field(default_factory=list)
    else_stages: list[Stage] = field(default_factory=list)
    name = "if"

    def apply(self, df: DataFrame, cond: Column | None = None) -> DataFrame:
        tag = f"__if_{next(_cond_counter)}"
        c = compile_condition(df, self.cond_cfg)
        if cond is not None:
            c = cond & c
        df = df.withColumn(tag, F.coalesce(c, F.lit(False)))
        for st in self.then_stages:
            df = st.apply(df, F.col(tag))
        for st in self.else_stages:
            df = st.apply(df, ~F.col(tag))
        return df.drop(tag)


# -- registry --------------------------------------------------------------

_REGISTRY: dict[str, Callable[[dict[str, Any]], Stage]] = {}


def register(name: str):
    def deco(builder: Callable[[dict[str, Any]], Stage]):
        _REGISTRY[name] = builder
        return builder
    return deco


def build_stage(name: str, cfg: dict[str, Any]) -> Stage:
    if name not in _REGISTRY:
        raise ValueError(f"unknown processor: {name!r} (have: {sorted(_REGISTRY)})")
    cfg = dict(cfg or {})
    when_cfg = cfg.pop("when", None)
    stage = _REGISTRY[name](cfg)
    stage.name = name
    if when_cfg is not None:
        stage = WhenStage(inner=stage, when_cfg=when_cfg)
        stage.name = f"when({name})"
    return stage


def build_chain(processors_cfg: list[dict[str, Any]]) -> list[Stage]:
    """YAML-shaped list → stages (processors.New, processor.go:72-123)."""
    stages: list[Stage] = []
    for block in processors_cfg:
        if "if" in block:
            then_cfg = block.get("then", [])
            else_cfg = block.get("else", [])
            stages.append(
                IfThenElseStage(
                    cond_cfg=block["if"],
                    then_stages=build_chain(then_cfg),
                    else_stages=build_chain(else_cfg),
                )
            )
            continue
        if len(block) != 1:
            raise ValueError(f"processor block must have one key: {block!r}")
        (name, cfg), = block.items()
        stages.append(build_stage(name, cfg))
    return stages


def apply_chain(df: DataFrame, stages: list[Stage]) -> DataFrame:
    for st in stages:
        df = st.apply(df)
    return df
