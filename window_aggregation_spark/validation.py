"""Semantic analysis of a :class:`WindowPlan` against an input schema.

Pure-Python analysis phase run before any job is submitted — failures
accumulate in a :class:`FailureCollector` and raise as one batch, mirroring
the reference's design-time validation (``WindowAggregation.java:135-359``):
field existence, per-function input-type constraints, clause constraints,
argument constraints, plus the RANGE-frame ordering rule. Catalyst re-checks
types at execution; this layer exists so a misconfigured plan fails fast with
every problem listed, before a 1000-executor job is launched.
"""

from __future__ import annotations

from pyspark.sql import types as T

from window_aggregation_spark.errors import FailureCollector
from window_aggregation_spark.functions.registry import (
    FUNCTIONS,
    NUMERIC_TYPES,
    Clause,
    FunctionDef,
    lookup,
)
from window_aggregation_spark.spec import AggregateDef, FrameType, WindowPlan

_UNBOUNDED = 2**62  # anything past this is one of the unbounded sentinels


def _is_numeric(dt: T.DataType) -> bool:
    return isinstance(dt, NUMERIC_TYPES)


def validate_plan(
    schema: T.StructType, plan: WindowPlan, collector: FailureCollector
) -> None:
    names = set(schema.fieldNames())
    spec = plan.spec

    for pf in spec.partition_by:
        if pf not in names:
            collector.add_failure(
                f"Partition field '{pf}' must exist in input schema."
            )

    for key in spec.order_by:
        if key.field not in names:
            collector.add_failure(
                f"Cannot order by field '{key.field}' because it does not "
                f"exist in input schema."
            )

    if not plan.aggregates:
        collector.add_failure(
            "No aggregates specified.",
            "Provide at least one aggregate definition.",
        )

    for agg in plan.aggregates:
        try:
            fdef = lookup(agg.function)
        except KeyError:
            collector.add_failure(
                f"Invalid function '{agg.function}'.",
                f"Must be one of {', '.join(sorted(FUNCTIONS))}.",
            )
            continue
        _validate_clauses(fdef, plan, collector)
        _validate_arguments(fdef, agg, collector)
        _validate_field(fdef, agg, schema, names, collector)

    _validate_range_frame(plan, schema, collector)

    if plan.declared_schema is not None:
        available = set(names)
        available.update(a.alias for a in plan.aggregates)
        for col in plan.declared_schema:
            if col not in available:
                collector.add_failure(
                    f"Declared output column '{col}' is neither an input "
                    f"field nor an aggregate alias."
                )


def _validate_clauses(
    fdef: FunctionDef, plan: WindowPlan, collector: FailureCollector
) -> None:
    spec = plan.spec
    checks = [
        ("partition", fdef.partitioning, bool(spec.partition_by)),
        ("order", fdef.ordering, bool(spec.order_by)),
        ("window frame", fdef.frame, spec.frame_type is not FrameType.NONE),
    ]
    for clause_name, constraint, present in checks:
        if constraint is Clause.REQUIRED and not present:
            collector.add_failure(
                f"A {clause_name} clause is missing. It is a required clause "
                f"for function: {fdef.ref_name}.",
                f"Please add a {clause_name} clause.",
            )
        elif constraint is Clause.NOT_SUPPORTED and present:
            collector.add_failure(
                f"A {clause_name} clause is not supported for function: "
                f"{fdef.ref_name}.",
                "Please remove this clause.",
            )


def _validate_arguments(
    fdef: FunctionDef, agg: AggregateDef, collector: FailureCollector
) -> None:
    # arguments are checked by value: the renderers emit the parsed value,
    # so text such as "1 + 1" must fail here, not splice into the SQL
    if fdef.name in ("ntile", "nth_value"):
        if len(agg.args) != 1:
            collector.add_failure(f"{fdef.ref_name} takes exactly 1 argument.")
            return
        try:
            if int(agg.args[0].strip()) < 1:
                raise ValueError
        except ValueError:
            collector.add_failure(
                f"{fdef.ref_name} needs an argument of type INTEGER greater than 0."
            )
    elif fdef.name in ("continuous_percentile", "discrete_percentile",
                       "approx_discrete_percentile"):
        if len(agg.args) != 1:
            collector.add_failure(f"{fdef.ref_name} takes exactly 1 argument.")
            return
        try:
            if not 0 <= float(agg.args[0].strip()) <= 1:  # NaN fails too
                raise ValueError
        except ValueError:
            collector.add_failure(f"{fdef.ref_name} needs an argument between [0,1].")
    elif fdef.name in ("lead", "lag"):
        if len(agg.args) != 1:
            collector.add_failure(f"{fdef.ref_name} takes only 1 argument.")
            return
        try:
            if int(agg.args[0].strip()) < 0:
                raise ValueError
        except ValueError:
            collector.add_failure(
                f"{fdef.ref_name} needs a non-negative Integer argument."
            )
    elif fdef.name in ("first", "last"):
        pass  # optional boolean arg, OR-ed into ignoreNulls (reference quirk)
    elif len(agg.args) < fdef.n_args:
        # generic arity floor from the registry declaration, so a future
        # function can't silently skip argument validation
        collector.add_failure(
            f"{fdef.ref_name} takes {fdef.n_args} argument(s), "
            f"got {len(agg.args)}."
        )


def _validate_field(
    fdef: FunctionDef,
    agg: AggregateDef,
    schema: T.StructType,
    names: set[str],
    collector: FailureCollector,
) -> None:
    if not agg.field:
        if fdef.takes_field:
            collector.add_failure(
                f"Invalid aggregate '{agg.alias}': function {fdef.ref_name} "
                f"requires an input field."
            )
        return
    if agg.field not in names:
        collector.add_failure(
            f"Invalid aggregate '{agg.alias}: {fdef.ref_name}({agg.field})': "
            f"field '{agg.field}' does not exist in input schema.",
            f"Field '{agg.field}' must exist in input schema.",
        )
        return
    if fdef.numeric_input and not _is_numeric(schema[agg.field].dataType):
        collector.add_failure(
            f"Invalid input schema type "
            f"'{schema[agg.field].dataType.simpleString()}' for field "
            f"'{agg.field}' in function '{fdef.ref_name}'.",
            f"Allowed input types for function '{fdef.ref_name}' are numeric "
            f"(tinyint, smallint, int, bigint, float, double, decimal).",
        )
    if fdef.name in ("corr", "covar_samp", "covar_pop"):
        # two-field moments: args[0] names the second column
        if not agg.args or not agg.args[0].strip():
            collector.add_failure(
                f"{fdef.ref_name} requires a second field as its argument."
            )
            return
        second = agg.args[0].strip()
        if second not in names:
            collector.add_failure(
                f"Invalid aggregate '{agg.alias}': second field '{second}' "
                f"does not exist in input schema."
            )
        elif not _is_numeric(schema[second].dataType):
            collector.add_failure(
                f"Invalid input schema type "
                f"'{schema[second].dataType.simpleString()}' for second "
                f"field '{second}' in function '{fdef.ref_name}'."
            )


def _validate_range_frame(
    plan: WindowPlan, schema: T.StructType, collector: FailureCollector
) -> None:
    """RANGE with a bounded, non-current-row side needs exactly one numeric
    order key (reference rule for ACCUMULATE, ``WindowAggregation.java:272-289``,
    and Catalyst's general ``rangeBetween`` requirement)."""
    spec = plan.spec
    if spec.has_interval_frame:
        if len(spec.order_by) != 1:
            collector.add_failure(
                "An interval RANGE frame requires exactly one ordering clause.",
                "Order by a single timestamp column.",
            )
        elif spec.order_by[0].field in schema.fieldNames() and not isinstance(
            schema[spec.order_by[0].field].dataType,
            (T.TimestampType, T.TimestampNTZType, T.DateType),
        ):
            collector.add_failure(
                f"An interval RANGE frame requires a timestamp/date order "
                f"field, but '{spec.order_by[0].field}' is "
                f"'{schema[spec.order_by[0].field].dataType.simpleString()}'."
            )
        return
    if spec.frame_type is not FrameType.RANGE:
        return
    bounded_offset = (abs(spec.start) < _UNBOUNDED and spec.start != 0) or (
        abs(spec.end) < _UNBOUNDED and spec.end != 0
    )
    if not bounded_offset:
        return
    if len(spec.order_by) != 1:
        collector.add_failure(
            "A RANGE frame with a bounded offset requires exactly one "
            "ordering clause.",
            "Make sure there is only 1 ordering field.",
        )
        return
    key = spec.order_by[0]
    if key.field in schema.fieldNames() and not _is_numeric(
        schema[key.field].dataType
    ):
        collector.add_failure(
            f"A RANGE frame with a bounded offset requires a numeric order "
            f"field, but '{key.field}' is "
            f"'{schema[key.field].dataType.simpleString()}'."
        )
