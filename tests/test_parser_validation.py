"""Unit tests for the string-spec parser and the batch validator —
the reference's design-time analysis layer (SURVEY §2.1 O8/O9)."""

from __future__ import annotations

import pytest

from window_aggregation_spark import (
    AggregateDef,
    FailureCollector,
    OrderKey,
    ValidationError,
    WindowPlan,
    WindowSpecDef,
    config_to_plan,
    parse_aggregates,
)
from window_aggregation_spark.spec import FrameType
from window_aggregation_spark.validation import validate_plan

from pyspark.sql import types as T

SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("amount", T.DoubleType()),
    ]
)


def _validate(plan: WindowPlan) -> list[str]:
    collector = FailureCollector()
    validate_plan(SCHEMA, plan, collector)
    return [f.message for f in collector.failures]


# ---- parser ----------------------------------------------------------------

def test_parse_single_aggregate():
    aggs = parse_aggregates("my_rank:rank(,,true)")
    assert aggs == [AggregateDef("my_rank", "rank", None, (), True)]


def test_parse_args_and_percent_encoding():
    (agg,) = parse_aggregates("x:lead(amount,2,false)")
    assert agg == AggregateDef("x", "lead", "amount", ("2",), False)
    (agg2,) = parse_aggregates("y:ntile(amount,4%2C,true)")
    assert agg2.args == ("4", "")


def test_parse_ignore_nulls_quirk():
    # only the literal "false" disables ignoreNulls; anything else keeps it on
    assert parse_aggregates("a:first(amount,,)")[0].ignore_nulls is True
    assert parse_aggregates("a:first(amount,,FALSE)")[0].ignore_nulls is False
    assert parse_aggregates("a:first(amount,,xyz)")[0].ignore_nulls is True


def test_parse_multiline_and_duplicate_alias():
    collector = FailureCollector()
    aggs = parse_aggregates("a:rank(,,true)\na:row_number(,,true)", collector)
    assert len(aggs) == 1
    assert any("same alias" in f.message for f in collector.failures)


def test_parse_errors_batch():
    with pytest.raises(ValidationError) as exc:
        parse_aggregates("noseparator\nb:nosuchfn(x,,true)\nc:rank(,,true")
    msgs = " ".join(f.message for f in exc.value.failures)
    assert "':'" in msgs and "Invalid function" in msgs and "')'" in msgs


def test_config_to_plan_frame_bounds():
    plan = config_to_plan(
        partition_fields="name",
        partition_order="amount:Descending",
        window_frame_type="RANGE",
        preceding="-10",
        unbounded_following=True,
        aggregates="s:accumulate(amount,,true)",
    )
    assert plan.spec.frame_type is FrameType.RANGE
    assert plan.spec.start == -10
    assert plan.spec.end == 2**63 - 1


def test_order_direction_quirk():
    # anything other than case-insensitive "ascending" means descending
    plan = config_to_plan(
        partition_fields="name",
        partition_order="amount:whatever,id:ASCENDING",
        aggregates="r:rank(,,true)",
    )
    assert plan.spec.order_by[0].direction.value == "Descending"
    assert plan.spec.order_by[1].direction.value == "Ascending"


# ---- validator -------------------------------------------------------------

def test_missing_fields_collected_in_one_batch():
    plan = WindowPlan(
        spec=WindowSpecDef(partition_by=("nope",), order_by=(OrderKey("missing"),)),
        aggregates=(AggregateDef("x", "first", field="ghost"),),
    )
    msgs = _validate(plan)
    assert len(msgs) == 3
    assert any("Partition field 'nope'" in m for m in msgs)
    assert any("order by field 'missing'" in m for m in msgs)
    assert any("'ghost' does not exist" in m for m in msgs)


def test_clause_constraints():
    # rank: order required
    msgs = _validate(
        WindowPlan(
            spec=WindowSpecDef(partition_by=("name",)),
            aggregates=(AggregateDef("r", "rank"),),
        )
    )
    assert any("required clause" in m for m in msgs)
    # rank: frame not supported
    msgs = _validate(
        WindowPlan(
            spec=WindowSpecDef(
                partition_by=("name",),
                order_by=(OrderKey("id"),),
                frame_type=FrameType.ROW,
                start=-1,
                end=0,
            ),
            aggregates=(AggregateDef("r", "rank"),),
        )
    )
    assert any("not supported" in m for m in msgs)
    # continuous_percentile: order not supported
    msgs = _validate(
        WindowPlan(
            spec=WindowSpecDef(partition_by=("name",), order_by=(OrderKey("id"),)),
            aggregates=(
                AggregateDef("p", "continuous_percentile", field="amount",
                             args=("0.5",)),
            ),
        )
    )
    assert any("order clause is not supported" in m for m in msgs)


def test_numeric_input_constraint():
    msgs = _validate(
        WindowPlan(
            spec=WindowSpecDef(partition_by=("id",), order_by=(OrderKey("id"),)),
            aggregates=(AggregateDef("n", "ntile", field="name", args=("4",)),),
        )
    )
    assert any("Invalid input schema type" in m for m in msgs)


def test_argument_constraints():
    base = WindowSpecDef(partition_by=("name",), order_by=(OrderKey("id"),))
    for agg, frag in [
        (AggregateDef("a", "ntile", field="amount", args=("0",)), "greater than 0"),
        (AggregateDef("a", "ntile", field="amount", args=()), "exactly 1 argument"),
        (AggregateDef("a", "lead", field="amount", args=("-1",)), "non-negative"),
        (AggregateDef("a", "discrete_percentile", field="amount", args=("1.5",)),
         "between [0,1]"),
        (AggregateDef("a", "discrete_percentile", field="amount", args=("nan",)),
         "between [0,1]"),
        (AggregateDef("a", "nth_value", field="amount", args=("abc",)),
         "greater than 0"),
        (AggregateDef("a", "nth_value", field="amount", args=("0",)),
         "greater than 0"),
        (AggregateDef("a", "nth_value", field="amount", args=("1 + 1",)),
         "greater than 0"),
    ]:
        msgs = _validate(WindowPlan(spec=base, aggregates=(agg,)))
        assert any(frag in m for m in msgs), (agg, msgs)


def test_two_field_moment_second_field_validated():
    base = WindowSpecDef(partition_by=("name",), order_by=(OrderKey("id"),))
    for agg, frag in [
        (AggregateDef("c", "corr", field="amount", args=()),
         "requires a second field"),
        (AggregateDef("c", "covar_samp", field="amount", args=("nope",)),
         "second field 'nope' does not exist"),
        (AggregateDef("c", "covar_pop", field="amount", args=("name",)),
         "for second field 'name'"),
    ]:
        msgs = _validate(WindowPlan(spec=base, aggregates=(agg,)))
        assert any(frag in m for m in msgs), (agg, msgs)


def test_range_frame_rules():
    msgs = _validate(
        WindowPlan(
            spec=WindowSpecDef(
                partition_by=("name",),
                order_by=(OrderKey("id"), OrderKey("amount")),
                frame_type=FrameType.RANGE,
                start=-5,
                end=0,
            ),
            aggregates=(AggregateDef("s", "accumulate", field="amount"),),
        )
    )
    assert any("exactly one ordering clause" in m for m in msgs)
    msgs = _validate(
        WindowPlan(
            spec=WindowSpecDef(
                partition_by=("id",),
                order_by=(OrderKey("name"),),
                frame_type=FrameType.RANGE,
                start=-5,
                end=0,
            ),
            aggregates=(AggregateDef("s", "accumulate", field="amount"),),
        )
    )
    assert any("numeric order field" in m for m in msgs)


def test_unknown_function_and_declared_schema():
    msgs = _validate(
        WindowPlan(
            spec=WindowSpecDef(partition_by=("name",), order_by=(OrderKey("id"),)),
            aggregates=(AggregateDef("x", "frobnicate", field="amount"),),
            declared_schema=("id", "not_a_col"),
        )
    )
    assert any("Invalid function 'frobnicate'" in m for m in msgs)
    assert any("'not_a_col'" in m for m in msgs)


def test_duplicate_alias_rejected_at_plan_construction():
    with pytest.raises(ValueError, match="Duplicate aggregate aliases"):
        WindowPlan(
            spec=WindowSpecDef(partition_by=("name",)),
            aggregates=(
                AggregateDef("x", "rank"),
                AggregateDef("x", "row_number"),
            ),
        )
