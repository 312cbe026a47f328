"""The generated-SQL backend: render a WindowPlan as one SELECT statement.

The reference keeps one configuration IR with two backends — DataFrame calls
for Spark execution and generated BigQuery Standard SQL for warehouse
pushdown (``WindowAggregation.java:663-686``, templates ``:75-93``,
``getColumnSelectionExpression`` ``:631-661``). We keep the same shape
cheaply: :func:`plan_to_sql` renders ``SELECT <inputs>, fn(...) OVER
(PARTITION BY ... ORDER BY ... frame) AS alias FROM <table>`` — Catalyst is
our "warehouse". ``dialect="spark"`` output is runnable via ``spark.sql``;
``dialect="ansi"`` quotes identifiers for ANSI engines (used by tests to
cross-check against DuckDB where expressible); ``dialect="bigquery"``
reproduces the reference's BigQuery Standard SQL templates exactly
(``FIRST_VALUE(col IGNORE NULLS)``, ``PERCENTILE_CONT(col, p)``, ... —
see :func:`functions.registry.bigquery_expression`).

The DataFrame backend builds every aggregate from the same text
(:func:`aggregate_sql`, ``dialect="spark"``, through ``F.expr``), so the
registry writes each function once and both backends cast to the declared
output type in one place.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from window_aggregation_spark.functions.registry import (
    OUTPUT_TYPES,
    bigquery_expression,
    consumed_columns,
    lookup,
)
from window_aggregation_spark.plans.rewrites import reverse_unbounded_following
from window_aggregation_spark.spec import (
    AggregateDef,
    WindowPlan,
    WindowSpecDef,
    quote_ident,
)


def _reads(spec: WindowSpecDef, aggregates) -> set[str]:
    """Every column ``aggregates`` over ``spec`` read: their fields and
    column-valued args (corr/covar read their second field via args[0]),
    plus the partition and order keys."""
    cols = set(spec.partition_by) | {k.field for k in spec.order_by}
    for a in aggregates:
        cols.update(consumed_columns(a))
    return cols


def order_conflict(plans: "list[WindowPlan]") -> str | None:
    """Why the order of ``plans`` is observable, or None when every order
    gives the same result: two plans produce the same alias, a plan reads
    a column another plan produces, or a plan pins its own
    ``declared_schema``. ``window_aggregate_multi`` keeps plan order when
    this is not None; :func:`plans_to_sql` refuses, since one SELECT has
    no order."""
    produced = [{a.alias for a in p.aggregates} for p in plans]
    seen: set[str] = set()
    for own in produced:
        if own & seen:
            return (
                "duplicate aggregate aliases across plans "
                f"({sorted(own & seen)}) cannot render as one SELECT."
            )
        seen |= own
    for p, own in zip(plans, produced):
        cross = _reads(p.spec, p.aggregates) & (seen - own)
        if cross:
            return (
                f"plan reads other plans' outputs {sorted(cross)}"
                " — sequential semantics cannot render as one SELECT."
            )
        if p.declared_schema is not None:
            return (
                "per-plan declared_schema is order-dependent; "
                "use the declared_schema parameter instead."
            )
    return None


def plans_to_sql(
    plans: "list[WindowPlan] | tuple[WindowPlan, ...]",
    table: str,
    input_columns: list[str],
    *,
    dialect: str = "spark",
    input_types: dict[str, str] | None = None,
    declared_schema: "tuple[str, ...] | None" = None,
) -> str:
    """Render several plans as ONE SELECT — the SQL door for
    ``window_aggregate_multi``: every aggregate carries its own OVER clause,
    so Catalyst (or any warehouse) plans one WindowExec per distinct spec,
    exactly like the DataFrame path after its regroup.

    A single SELECT reads only the input columns, so it cannot express
    sequential semantics. This raises ``ValueError`` where order is
    observable: across plans (:func:`order_conflict`, the same rule under
    which the DataFrame path keeps plan order), and within a plan when an
    aggregate reads — as field, column arg, partition or order key — a
    column an earlier aggregate of that plan replaced (the DataFrame path
    reads the replacement, one SELECT the original). Workaround: one plan
    per replacing step, each rendered over the previous step's output.
    """
    # the DataFrame backend's rewrite too: identical logical plans keep
    # double aggregates bit-identical across backends (and spare the SQL
    # Spark's O(n^2) unbounded-following frame)
    plans = [reverse_unbounded_following(p) for p in plans]
    conflict = order_conflict(plans)
    if conflict is not None:
        raise ValueError(f"plans_to_sql: {conflict}")
    for p in plans:
        # a validated plan reads only input columns, so an earlier alias
        # it reads is an input column that alias replaced
        earlier: set[str] = set()
        for a in p.aggregates:
            stale = _reads(p.spec, [a]) & earlier
            if stale:
                raise ValueError(
                    f"plans_to_sql: aggregate {a.alias!r} reads {sorted(stale)},"
                    " which an earlier aggregate of the same plan replaced —"
                    " one SELECT would read the original column; render one"
                    " plan per replacing step."
                )
            earlier.add(a.alias)

    rendered: dict[str, str] = {}
    order: list[str] = []
    for p in plans:
        over = p.spec.over_sql(dialect)
        for agg in p.aggregates:
            expr = aggregate_sql(agg, over, dialect, input_types)
            rendered[agg.alias] = f"{expr} AS {quote_ident(agg.alias, dialect)}"
            order.append(agg.alias)

    select_items = [
        rendered.pop(name) if name in rendered else quote_ident(name, dialect)
        for name in input_columns
    ]
    select_items.extend(rendered[a] for a in order if a in rendered)

    sql = f"SELECT {', '.join(select_items)} FROM {table}"
    if declared_schema is not None:
        outer = ", ".join(quote_ident(c, dialect) for c in declared_schema)
        sql = f"SELECT {outer} FROM ({sql})"
    return sql


def cast_types(df: DataFrame) -> dict[str, str]:
    """The ``input_types`` of ``df``: the input types a passthrough cast may
    name, atomic types only. A nested or user-defined type has no SQL
    spelling that keeps it exact (field-name quoting, nullability flags,
    UDT classes), and only the type-preserving functions
    (lead/lag/first/last/nth_value/min/max) accept such a field, so its
    result needs no cast."""
    return {
        f.name: f.dataType.simpleString()
        for f in df.schema.fields
        if isinstance(f.dataType, T.AtomicType)
    }


def declared_type(
    agg: AggregateDef, input_types: dict[str, str] | None
) -> str | None:
    """The SQL type one aggregate's output is cast to: the registry's
    declared type, else its input field's type from ``input_types``
    (column -> SQL type name, from :func:`cast_types`); None when neither
    is known."""
    fdef = lookup(agg.function)
    if fdef.output_type is not None:
        return OUTPUT_TYPES[fdef.output_type].simpleString().upper()
    return (input_types or {}).get(agg.field)


def aggregate_sql(
    agg: AggregateDef,
    over: str,
    dialect: str,
    input_types: dict[str, str] | None,
) -> str:
    """One aggregate's expression over ``over``, cast to its declared type."""
    if dialect == "bigquery":
        # the reference's warehouse templates verbatim, and — like the
        # reference's pushdown — no boundary casts: results carry
        # BigQuery-native types (registry.bigquery_expression docstring)
        return bigquery_expression(agg, over)
    expr = lookup(agg.function).sql(agg, over, dialect)
    target = declared_type(agg, input_types)
    return expr if target is None else f"CAST({expr} AS {target})"


def plan_to_sql(
    plan: WindowPlan,
    table: str,
    input_columns: list[str],
    *,
    dialect: str = "spark",
    input_types: dict[str, str] | None = None,
) -> str:
    """Render the plan as one SELECT over ``table``.

    ``input_columns`` is the input column order (the information the
    DataFrame path gets from ``df.columns``); alias collisions replace the
    input column in place, matching the operator's semantics.
    ``input_types`` (:func:`cast_types`) enables the input-type passthrough
    casts the DataFrame backend applies — without it, widening aggregates
    (e.g. ACCUMULATE over INT returns BIGINT in SQL) would diverge in type
    from the DataFrame path's declared output schema.

    Raises ``ValueError`` when an aggregate reads (field, column arg,
    partition or order key) a column an earlier aggregate of the plan
    replaced: ``window_aggregate`` reads the replacement, one SELECT the
    original. Render one plan per replacing step instead, each over the
    previous step's output.
    """
    return plans_to_sql(
        [replace(plan, declared_schema=None)], table, input_columns,
        dialect=dialect, input_types=input_types,
        declared_schema=plan.declared_schema,
    )
