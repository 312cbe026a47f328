"""Fluent Python front door.

The engine keeps one IR with multiple front doors (mirroring the reference's
dual configuration/execution paths): the string-spec grammar
(:mod:`window_aggregation_spark.parser`) for config-file compatibility, raw
dataclasses for programmatic use, and this fluent builder for humans::

    from window_aggregation_spark.api import window, first, rank, desc

    out = (
        window(df)
        .partition_by("profession")
        .order_by(desc("age"))
        .agg(first("age").alias("age"),      # alias collision replaces column
             rank().alias("age_rank"))
    )

``agg(...)`` validates the whole plan (batched errors) and returns the
widened DataFrame; ``.sql(table)`` renders the same plan as one SELECT for
the generated-SQL backend.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field, replace

from pyspark.sql import DataFrame

from window_aggregation_spark.errors import FailureCollector
from window_aggregation_spark.functions.registry import lookup
from window_aggregation_spark.operators.window_aggregation import window_aggregate
from window_aggregation_spark.plans.sql_gen import cast_types, plan_to_sql
from window_aggregation_spark.spec import (
    AggregateDef,
    FrameType,
    OrderKey,
    WindowPlan,
    WindowSpecDef,
    asc,
    desc,
)
from window_aggregation_spark.validation import validate_plan

__all__ = ["asc", "desc", "window"]  # order helpers re-exported from spec


@dataclass(frozen=True)
class Agg:
    """One un-aliased aggregate under construction."""

    function: str
    field: str | None = None
    args: tuple[str, ...] = ()
    ignore_nulls: bool = True

    def alias(self, name: str) -> AggregateDef:
        return AggregateDef(
            alias=name,
            function=self.function,
            field=self.field,
            args=self.args,
            ignore_nulls=self.ignore_nulls,
        )


def _fn(function: str, field: str | None = None, *args: object, **kw) -> Agg:
    lookup(function)  # fail fast on unknown names
    return Agg(
        function=function,
        field=field,
        args=tuple(str(a) for a in args),
        ignore_nulls=kw.get("ignore_nulls", True),
    )


def rank() -> Agg: return _fn("rank")
def dense_rank() -> Agg: return _fn("dense_rank")
def percent_rank() -> Agg: return _fn("percent_rank")
def row_number() -> Agg: return _fn("row_number")
def cume_dist(field: str) -> Agg: return _fn("cume_dist", field)
def ntile(field: str, n: int) -> Agg: return _fn("ntile", field, n)
def median(field: str) -> Agg: return _fn("median", field)
def lead(field: str, offset: int = 1) -> Agg: return _fn("lead", field, offset)
def lag(field: str, offset: int = 1) -> Agg: return _fn("lag", field, offset)
def accumulate(field: str) -> Agg: return _fn("accumulate", field)
def min_(field: str) -> Agg: return _fn("min", field)
def max_(field: str) -> Agg: return _fn("max", field)
def avg(field: str) -> Agg: return _fn("avg", field)
def count(field: str) -> Agg: return _fn("count", field)


def first(field: str, ignore_nulls: bool = True) -> Agg:
    return _fn("first", field, ignore_nulls=ignore_nulls)


def last(field: str, ignore_nulls: bool = True) -> Agg:
    return _fn("last", field, ignore_nulls=ignore_nulls)


def continuous_percentile(field: str, p: float) -> Agg:
    return _fn("continuous_percentile", field, p)


def discrete_percentile(field: str, p: float) -> Agg:
    return _fn("discrete_percentile", field, p)


def approx_discrete_percentile(field: str, p: float) -> Agg:
    return _fn("approx_discrete_percentile", field, p)


def approx_count_distinct(field: str) -> Agg:
    return _fn("approx_count_distinct", field)


def corr(field: str, other: str) -> Agg:
    return _fn("corr", field, other)


def covar_samp(field: str, other: str) -> Agg:
    return _fn("covar_samp", field, other)


def covar_pop(field: str, other: str) -> Agg:
    return _fn("covar_pop", field, other)


def nth_value(field: str, n: int, ignore_nulls: bool = True) -> Agg:
    return _fn("nth_value", field, n, ignore_nulls=ignore_nulls)


def stddev(field: str) -> Agg:
    return _fn("stddev", field)


def variance(field: str) -> Agg:
    return _fn("variance", field)


@dataclass(frozen=True)
class WindowBuilder:
    df: DataFrame
    spec: WindowSpecDef = dc_field(default_factory=WindowSpecDef)
    declared: tuple[str, ...] | None = None

    def partition_by(self, *cols: str) -> "WindowBuilder":
        return replace(self, spec=replace(self.spec, partition_by=tuple(cols)))

    def order_by(self, *keys: "OrderKey | str") -> "WindowBuilder":
        parsed = tuple(k if isinstance(k, OrderKey) else OrderKey(k) for k in keys)
        return replace(self, spec=replace(self.spec, order_by=parsed))

    def rows(self, start: int, end: int) -> "WindowBuilder":
        return replace(
            self,
            spec=replace(self.spec, frame_type=FrameType.ROW, start=start, end=end),
        )

    def range(self, start: int, end: int) -> "WindowBuilder":
        return replace(
            self,
            spec=replace(self.spec, frame_type=FrameType.RANGE, start=start, end=end),
        )

    def range_interval(
        self, preceding: str | None, following: str | None = None
    ) -> "WindowBuilder":
        return replace(self, spec=self.spec.range_interval(preceding, following))

    def repartition(self, n: int) -> "WindowBuilder":
        return replace(self, spec=replace(self.spec, num_partitions=n))

    def select(self, *cols: str) -> "WindowBuilder":
        """Pin the declared output schema (projection + order)."""
        return replace(self, declared=tuple(cols))

    def plan(self, *aggs: AggregateDef) -> WindowPlan:
        return WindowPlan(
            spec=self.spec, aggregates=tuple(aggs), declared_schema=self.declared
        )

    def agg(self, *aggs: AggregateDef) -> DataFrame:
        return window_aggregate(self.df, self.plan(*aggs))

    def sql(self, table: str, *aggs: AggregateDef, dialect: str = "spark") -> str:
        """Render the plan as one SELECT over ``table``
        (:func:`..plans.sql_gen.plan_to_sql`). Raises ``ValueError`` when
        an aggregate reads a column an earlier aggregate replaced: one
        SELECT would read the original column where ``.agg`` reads the
        replacement. Build one plan per replacing step instead."""
        plan = self.plan(*aggs)
        # same batched validation as .agg(): the SQL door must not render
        # broken SQL (e.g. lead with no offset) that only fails later
        collector = FailureCollector()
        validate_plan(self.df.schema, plan, collector)
        collector.get_or_throw()
        return plan_to_sql(
            plan, table, self.df.columns,
            dialect=dialect, input_types=cast_types(self.df),
        )


def window(df: DataFrame) -> WindowBuilder:
    return WindowBuilder(df)
