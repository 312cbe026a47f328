"""The percentile rank-lookup rewrite: one count/rank window, one
request/value generator and a running last-value lookup per aggregate
(O(1)/row) replacing O(frame)/row buffers for DISCRETE_PERCENTILE / MEDIAN
over running frames ordered by the aggregated field — both directions,
several aggregates fused into one plan. Results must be BIT-identical to
the general window composition (collect_list / Hive percentile), which
is what the SQL backend (``plan_to_sql``) renders."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from window_aggregation_spark import (
    AggregateDef,
    OrderKey,
    WindowPlan,
    WindowSpecDef,
    window_aggregate,
)
from window_aggregation_spark.plans.sql_gen import cast_types, plan_to_sql

ROWS = [
    (i, ["a", "b", "c"][i % 3], float([7, 3, 3, 9, 1, 5, 8, 2, 6, 4][i % 10]))
    for i in range(60)
] + [(100, "a", None), (101, "d", None)]  # null values and a null-only group
SCHEMA = "id int, g string, v double"


def _plan(function, direction, args=()):
    from window_aggregation_spark.spec import Direction

    return WindowPlan(
        spec=WindowSpecDef(
            partition_by=("g",),
            order_by=(OrderKey("v", Direction.parse(direction)),),
        ),
        aggregates=(
            AggregateDef("out", function, field="v", args=tuple(args)),
        ),
    )


def _sql_backend(spark, df, plan):
    """The plan through the SQL backend: the registry's single-WindowExec
    composition, rendered by ``plan_to_sql``."""
    df.createOrReplaceTempView("pr_input")
    return spark.sql(plan_to_sql(plan, "pr_input", df.columns,
                                 input_types=cast_types(df)))


def _general_expected(df, function, direction, p, field="v", alias="out"):
    """The general-composition ground truth, built directly from Spark's
    own window aggregates (what the operator would do without the
    rewrite)."""
    order = F.col(field).desc() if direction == "descending" else F.col(field).asc()
    w = Window.partitionBy("g").orderBy(order)
    if function == "discrete_percentile":
        vals = F.array_sort(F.collect_list(field).over(w))
        k = F.greatest(F.ceil(F.lit(p) * F.size(vals)), F.lit(1)).cast("int")
        col = F.get(vals, k - 1)
    else:
        col = F.percentile(F.col(field), F.lit(p)).over(w).cast("double")
    return df.withColumn(alias, col)


@pytest.mark.parametrize("direction", ["ascending", "descending"])
@pytest.mark.parametrize(
    "function,args,p",
    [
        ("discrete_percentile", ("0.5",), 0.5),
        ("discrete_percentile", ("0.25",), 0.25),
        ("discrete_percentile", ("0.9",), 0.9),
        ("median", (), 0.5),
    ],
)
def test_rank_join_matches_general_composition(spark, function, args, p,
                                               direction):
    df = spark.createDataFrame(ROWS, SCHEMA)
    got = window_aggregate(df, _plan(function, direction, args))
    expected = _general_expected(df, function, direction, p)
    cols = ["id", "g", "v", "out"]
    assert (
        got.select(cols).orderBy("id").collect()
        == expected.select(cols).orderBy("id").collect()
    )


@pytest.mark.parametrize("direction", ["ascending", "descending"])
@pytest.mark.parametrize(
    "function,args",
    [
        ("discrete_percentile", ("0.5",)),
        ("median", ()),
    ],
)
def test_rank_join_plan_has_no_per_row_buffers(spark, function, args,
                                               direction):
    """Both directions must take the rank-join path: no collect_list (the
    O(frame) array) and no percentile window aggregate (the O(frame)
    accumulate-and-sort buffer) may appear in the physical plan."""
    df = spark.createDataFrame(ROWS, SCHEMA)
    out = window_aggregate(df, _plan(function, direction, args))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan
    assert "percentile(" not in plan


@pytest.mark.parametrize("direction", ["ascending", "descending"])
def test_one_pass_strategy_matches_rank_lookup(spark, direction):
    """The SQL backend's one-pass composition must be bit-identical to
    the DataFrame backend's rank lookup — Hive percentile appears in the
    SQL plan, the union/rank-lookup does not."""
    df = spark.createDataFrame(ROWS, SCHEMA)
    plan = _plan("median", direction)
    default = window_aggregate(df, plan)
    one_pass = _sql_backend(spark, df, plan)
    cols = ["id", "g", "v", "out"]
    assert (
        one_pass.select(cols).orderBy("id").collect()
        == default.select(cols).orderBy("id").collect()
    )
    jplan = one_pass._jdf.queryExecution().executedPlan().toString()
    assert "percentile(" in jplan
    assert "__pr_rk" not in jplan


def test_rank_join_not_applied_when_ordered_by_other_field(spark):
    """Ordered by a different column, frames are not value prefixes — the
    rewrite must NOT fire and the general path must run."""
    df = spark.createDataFrame(ROWS, SCHEMA)
    plan = WindowPlan(
        spec=WindowSpecDef(partition_by=("g",), order_by=(OrderKey("id"),)),
        aggregates=(AggregateDef("out", "median", field="v"),),
    )
    out = window_aggregate(df, plan)
    jplan = out._jdf.queryExecution().executedPlan().toString()
    assert "percentile(" in jplan  # general Hive-percentile window path
    # spot-check running-median semantics over id order
    rows = {r["id"]: r["out"] for r in out.collect()}
    assert rows[0] == 7.0  # first row of group a: median of [7]


# MEDIAN + two DISCRETE_PERCENTILEs over one field: one fused lookup plan
_FUSED = (("med", "median", (), 0.5),
          ("p25", "discrete_percentile", ("0.25",), 0.25),
          ("p90", "discrete_percentile", ("0.9",), 0.9))


def _multi_plan(direction, aggregates, partition_by=("g",)):
    from window_aggregation_spark.spec import Direction

    return WindowPlan(
        spec=WindowSpecDef(
            partition_by=partition_by,
            order_by=(OrderKey("v", Direction.parse(direction)),),
        ),
        aggregates=tuple(
            AggregateDef(alias, function, field="v", args=tuple(args))
            for alias, function, args in aggregates
        ),
    )


@pytest.mark.parametrize("direction", ["ascending", "descending"])
@pytest.mark.parametrize("vtype", ["double", "int"])
def test_fused_percentiles_match_general_and_one_pass(spark, direction,
                                                      vtype):
    """Several same-field percentiles share ONE count/rank window, ONE
    generator and ONE exchange, with one lookup window each — and every
    column stays bit-identical to the general composition and to the
    SQL backend, nulls and the null-only group included."""
    import re

    rows = [(i, g, None if v is None else (int(v) if vtype == "int" else v))
            for i, g, v in ROWS]
    df = spark.createDataFrame(rows, f"id int, g string, v {vtype}")
    plan = _multi_plan(direction, [(a, f, args) for a, f, args, _ in _FUSED])
    got = window_aggregate(df, plan)
    one_pass = _sql_backend(spark, df, plan)
    got_rows = got.orderBy("id").collect()
    assert got.columns == ["id", "g", "v", "med", "p25", "p90"]
    assert got_rows == one_pass.orderBy("id").collect()
    for alias, function, _, p in _FUSED:
        expected = _general_expected(df, function, direction, p,
                                     alias=alias)
        want = expected.select("id", alias).orderBy("id").collect()
        assert [(r["id"], r[alias]) for r in got_rows] == [tuple(r) for r in want]
    jplan = got._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", jplan)) == 1
    assert jplan.count("Generate inline") == 1
    lookups = [line for line in jplan.splitlines()
               if re.match(r"\W*Window \[", line) and "last(" in line]
    assert len(lookups) == len(_FUSED)


@pytest.mark.parametrize("direction", ["ascending", "descending"])
@pytest.mark.parametrize(
    "aggregates",
    [
        # alias == field: the later aggregate reads (and orders by) the
        # replaced column
        [("med", "median", ()), ("v", "discrete_percentile", ("0.25",)),
         ("p90", "discrete_percentile", ("0.9",))],
        # alias == partition key: the later aggregate re-partitions
        [("g", "discrete_percentile", ("0.5",)), ("med", "median", ())],
        # alias == another input column: replaced in place, group intact
        [("id", "median", ()), ("p25", "discrete_percentile", ("0.25",))],
    ],
    ids=["alias_is_field", "alias_is_key", "alias_is_other_input"],
)
def test_fused_lookup_alias_collisions_keep_sequential_semantics(
        spark, direction, aggregates):
    """An alias that replaces the field or a partition key ends the fused
    group: the result must equal the sequential withColumn chain of
    single-aggregate plans, through either backend, column for column.
    (One SELECT cannot read a column an earlier aggregate of the same
    SELECT replaced, so the SQL side chains one plan per step.)
    (A repeated alias cannot reach a group: WindowPlan rejects it,
    tests/test_parser_validation.py.)"""
    df = spark.createDataFrame(ROWS, SCHEMA)
    plan = _multi_plan(direction, aggregates)
    got = window_aggregate(df, plan)
    chained = one_pass = df
    for agg in aggregates:
        step = _multi_plan(direction, [agg])
        chained = window_aggregate(chained, step, validate=False)
        one_pass = _sql_backend(spark, one_pass, step)
    assert got.columns == one_pass.columns == chained.columns
    got_rows = sorted(map(tuple, got.collect()), key=repr)
    assert got_rows == sorted(map(tuple, one_pass.collect()), key=repr)
    assert got_rows == sorted(map(tuple, chained.collect()), key=repr)
    # every aggregate reads v and g, so a non-last aggregate replacing
    # either makes the single-plan SELECT wrong: the SQL door refuses it
    if {"v", "g"} & {alias for alias, _, _ in aggregates[:-1]}:
        with pytest.raises(ValueError, match="earlier aggregate of the same"):
            plan_to_sql(plan, "t", df.columns)
    else:
        plan_to_sql(plan, "t", df.columns)


def test_fused_lookup_rejects_temporary_column_clash(spark):
    df = spark.createDataFrame(ROWS, SCHEMA).withColumn("__pr_side", F.lit(1))
    with pytest.raises(ValueError, match="__pr_side"):
        window_aggregate(df, _plan("median", "ascending"))
