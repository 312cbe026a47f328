"""Property test: for randomized window plans, the DataFrame-API backend and
the generated-SQL backend (plans.sql_gen -> spark.sql) must produce identical
results. This is the engine's own dual-path consistency guarantee (the
reference kept one config IR with two executors; so do we) and gives broad
randomized coverage of function x frame x direction combinations.
"""

from __future__ import annotations

from dataclasses import replace

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.conftest import property_examples
from pyspark.sql import functions as F

from window_aggregation_spark.operators.window_aggregation import window_aggregate
from window_aggregation_spark.plans.sql_gen import cast_types, plan_to_sql
from window_aggregation_spark.spec import (
    UNBOUNDED_FOLLOWING,
    UNBOUNDED_PRECEDING,
    AggregateDef,
    Direction,
    FrameType,
    OrderKey,
    WindowPlan,
    WindowSpecDef,
)

ROWS = [
    (i, ["x", "y", "z"][i % 3], float(v), (i * 7) % 5)
    for i, v in enumerate([3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8, 9, 7, 9, 3, 2, 3, 8, 4])
]
SCHEMA = "id int, grp string, val double, small int"

# (function, field, args) combos; frame-capable vs frame-free handled below
FRAME_FREE = [
    ("rank", None, ()),
    ("dense_rank", None, ()),
    ("percent_rank", None, ()),
    ("row_number", None, ()),
    ("ntile", "val", ("3",)),
    ("cume_dist", "val", ()),
    ("lead", "val", ("2",)),
    ("lag", "small", ("1",)),
    ("median", "val", ()),
    ("discrete_percentile", "val", ("0.35",)),
]
FRAME_CAPABLE = [
    ("first", "val", ()),
    ("last", "small", ()),
    ("accumulate", "val", ()),
    ("nth_value", "val", ("2",)),
    ("min", "val", ()),
    ("max", "small", ()),
    ("avg", "val", ()),
    ("count", "small", ()),
    ("stddev", "val", ()),
    ("variance", "val", ()),
    # two-field moments: ANSI-safe over every frame (corr is composed from
    # covar_pop/stddev_pop with a guarded division — see registry._corr)
    ("corr", "val", ("small",)),
    ("covar_samp", "val", ("small",)),
    ("covar_pop", "small", ("val",)),
]
TWO_FIELD = FRAME_CAPABLE[-3:]

frame_free_agg = st.sampled_from(FRAME_FREE)
frame_capable_agg = st.sampled_from(FRAME_CAPABLE)
direction = st.sampled_from([Direction.ASCENDING, Direction.DESCENDING])
bound = st.sampled_from([UNBOUNDED_PRECEDING, -3, -1, 0, 1, 2, UNBOUNDED_FOLLOWING])


@st.composite
def framed_plan(draw):
    fns = draw(st.lists(frame_capable_agg, min_size=1, max_size=4, unique=True))
    start = draw(bound.filter(lambda b: b < UNBOUNDED_FOLLOWING))
    end = draw(bound.filter(lambda b: b > UNBOUNDED_PRECEDING))
    if start > end:
        start, end = end, start
    spec = WindowSpecDef(
        partition_by=("grp",),
        order_by=(OrderKey("val", draw(direction)), OrderKey("id")),
        frame_type=FrameType.ROW,
        start=start,
        end=end,
    )
    aggs = tuple(
        AggregateDef(f"a{i}", fn, field=field, args=args)
        for i, (fn, field, args) in enumerate(fns)
    )
    return WindowPlan(spec=spec, aggregates=aggs)


@st.composite
def unframed_plan(draw):
    fns = draw(st.lists(frame_free_agg, min_size=1, max_size=4, unique=True))
    spec = WindowSpecDef(
        partition_by=("grp",),
        order_by=(OrderKey("val", draw(direction)), OrderKey("id")),
    )
    aggs = tuple(
        AggregateDef(f"a{i}", fn, field=field, args=args)
        for i, (fn, field, args) in enumerate(fns)
    )
    return WindowPlan(spec=spec, aggregates=aggs)


# input columns first: an alias may replace a column a later aggregate
# reads (field, column arg, partition or order key)
COLLIDING_ALIASES = ["val", "grp", "id", "small", "a0", "a1", "a2", "a3"]


@st.composite
def colliding_plan(draw):
    """An unframed or framed plan whose aliases may name input columns."""
    plan = draw(st.one_of(unframed_plan(), framed_plan()))
    names = draw(st.permutations(COLLIDING_ALIASES))
    return replace(plan, aggregates=tuple(
        replace(a, alias=n) for a, n in zip(plan.aggregates, names)
    ))


def _run_both(spark, plan: WindowPlan):
    df = spark.createDataFrame(ROWS, SCHEMA)
    api = window_aggregate(df, plan).orderBy("id").collect()
    df.createOrReplaceTempView("prop_input")
    sql = plan_to_sql(plan, "prop_input", df.columns, dialect="spark")
    via_sql = spark.sql(sql).orderBy("id").collect()
    return api, via_sql


@settings(
    max_examples=property_examples(25),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(plan=unframed_plan())
def test_unframed_plans_dual_backend(spark, plan):
    api, via_sql = _run_both(spark, plan)
    assert api == via_sql


@settings(
    max_examples=property_examples(25),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(plan=framed_plan())
def test_framed_plans_dual_backend(spark, plan):
    api, via_sql = _run_both(spark, plan)
    assert api == via_sql


@settings(
    max_examples=property_examples(25),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(plan=colliding_plan())
def test_colliding_aliases_dual_backend(spark, plan):
    """The SQL door either refuses a plan whose aggregate reads a column
    an earlier aggregate replaced, or returns what the DataFrame door
    returns: replaced columns in place, appended aliases after."""
    df = spark.createDataFrame(ROWS, SCHEMA)
    try:
        sql = plan_to_sql(plan, "prop_collide", df.columns,
                          input_types=cast_types(df))
    except ValueError as exc:
        assert "earlier aggregate of the same plan" in str(exc)
        return
    api = window_aggregate(df, plan)
    df.createOrReplaceTempView("prop_collide")
    via_sql = spark.sql(sql)
    assert api.columns == via_sql.columns
    assert sorted(map(tuple, api.collect()), key=repr) == sorted(
        map(tuple, via_sql.collect()), key=repr
    )


def test_running_two_field_moments_dual_backend(spark):
    """corr/covar parity over the running default frame (never empty, so no
    ANSI empty-frame divide-by-zero) — NaN at 1-row frames must normalize to
    NULL identically on both backends."""
    df = spark.createDataFrame(ROWS, SCHEMA)
    plan = WindowPlan(
        spec=WindowSpecDef(
            partition_by=("grp",),
            order_by=(OrderKey("val"), OrderKey("id")),
        ),
        aggregates=tuple(
            AggregateDef(f"a{i}", fn, field=field, args=args)
            for i, (fn, field, args) in enumerate(TWO_FIELD)
        ),
    )
    api, via_sql = _run_both(spark, plan)
    assert api == via_sql
    # each partition's first row has a 1-row frame: undefined corr -> NULL
    assert any(r["a0"] is None for r in api)
    assert any(r["a0"] is not None for r in api)


# ---- null-rich data + RANGE frames --------------------------------------

NULL_ROWS = [
    (
        i,
        ["x", "y"][i % 2],
        None if i % 4 == 0 else float(v),
        None if i % 5 == 0 else (i * 3) % 7,
    )
    for i, v in enumerate([3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8, 9, 7, 9, 3])
]

first_last = st.sampled_from(
    [("first", True), ("first", False), ("last", True), ("last", False)]
)


@st.composite
def range_plan(draw):
    """RANGE frame over a single numeric order key (the Catalyst rule),
    bounds in value units — random function set and random direction
    (desc RANGE inverts which values 'precede'; both doors must agree)."""
    start = draw(st.sampled_from([UNBOUNDED_PRECEDING, -4, -2, 0]))
    end = draw(st.sampled_from([0, 2, 5, UNBOUNDED_FOLLOWING]))
    spec = WindowSpecDef(
        partition_by=("grp",),
        order_by=(OrderKey("id", draw(direction)),),  # unique ints
        frame_type=FrameType.RANGE,
        start=start,
        end=end,
    )
    fns = draw(st.lists(frame_capable_agg, min_size=1, max_size=3, unique=True))
    fn, ignore = draw(first_last)
    aggs = tuple(
        AggregateDef(f"a{i}", f, field=field, args=args)
        for i, (f, field, args) in enumerate(fns)
    ) + (AggregateDef("afl", fn, field="val", ignore_nulls=ignore),)
    return WindowPlan(spec=spec, aggregates=aggs)


@settings(
    max_examples=property_examples(20),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(plan=range_plan())
def test_range_frames_with_nulls_dual_backend(spark, plan):
    df = spark.createDataFrame(NULL_ROWS, SCHEMA)
    api = window_aggregate(df, plan).orderBy("id").collect()
    df.createOrReplaceTempView("prop_null_input")
    sql = plan_to_sql(plan, "prop_null_input", df.columns, dialect="spark")
    via_sql = spark.sql(sql).orderBy("id").collect()
    assert api == via_sql


@settings(max_examples=property_examples(40), deadline=None)
@given(plan=st.one_of(unframed_plan(), framed_plan(), range_plan()))
def test_config_string_round_trip(plan):
    """plan -> reference-shaped config strings -> plan must be lossless."""
    from window_aggregation_spark.parser import config_to_plan, plan_to_config

    assert config_to_plan(**plan_to_config(plan)) == plan


@settings(
    max_examples=property_examples(15),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(plan=unframed_plan())
def test_unframed_plans_with_nulls_dual_backend(spark, plan):
    df = spark.createDataFrame(NULL_ROWS, SCHEMA)
    api = window_aggregate(df, plan).orderBy("id").collect()
    df.createOrReplaceTempView("prop_null_input2")
    sql = plan_to_sql(plan, "prop_null_input2", df.columns, dialect="spark")
    via_sql = spark.sql(sql).orderBy("id").collect()
    assert api == via_sql


# ---- time-interval RANGE frames vs their numeric-epoch twins -------------

# whole-second timestamps (ties included: i//2 repeats each second) so the
# INTERVAL frame over ts and the numeric RANGE frame over epoch seconds
# define byte-identical frames.
TS_ROWS = [
    (
        i,
        ["x", "y"][i % 2],
        None if i % 6 == 0 else float((i * 7) % 10),
        None if i % 5 == 0 else (i * 3) % 7,
        f"2024-01-01 00:00:{(i // 2) % 60:02d}",
    )
    for i in range(24)
]
TS_SCHEMA = "id int, grp string, val double, small int, ts_str string"

_UNITS = {"seconds": 1, "minutes": 60}


@st.composite
def interval_frame_case(draw):
    fns = draw(st.lists(frame_capable_agg, min_size=1, max_size=3, unique=True))
    amt = draw(st.sampled_from([1, 2, 5, 30]))
    unit = draw(st.sampled_from(sorted(_UNITS)))
    follow = draw(st.sampled_from([None, 1, 3]))
    return fns, amt, unit, follow


@settings(
    max_examples=property_examples(15),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=interval_frame_case())
def test_interval_range_frame_equals_numeric_twin(spark, case):
    """INTERVAL-framed plans execute through the generated-SQL door (the
    DataFrame rangeBetween API takes longs). Equivalence proof: the same
    aggregates over RANGE INTERVAL <amt> <unit> PRECEDING on a timestamp
    order key must equal the numeric RANGE frame over epoch seconds
    through the DataFrame door — two formulations, two doors, one answer."""
    fns, amt, unit, follow = case
    df = (
        spark.createDataFrame(TS_ROWS, TS_SCHEMA)
        .withColumn("ts", F.to_timestamp("ts_str"))
        .withColumn("tss", F.unix_timestamp(F.to_timestamp("ts_str")))
        .drop("ts_str")
    )
    aggs = tuple(
        AggregateDef(f"a{i}", f, field=field, args=args)
        for i, (f, field, args) in enumerate(fns)
    )
    via_interval = window_aggregate(
        df,
        WindowPlan(
            spec=WindowSpecDef(
                partition_by=("grp",), order_by=(OrderKey("ts"),)
            ).range_interval(
                f"{amt} {unit}",
                None if follow is None else f"{follow} {unit}",
            ),
            aggregates=aggs,
        ),
    ).orderBy("id").collect()
    sec = amt * _UNITS[unit]
    via_numeric = window_aggregate(
        df,
        WindowPlan(
            spec=WindowSpecDef(
                partition_by=("grp",),
                order_by=(OrderKey("tss"),),
                frame_type=FrameType.RANGE,
                start=-sec,
                end=0 if follow is None else follow * _UNITS[unit],
            ),
            aggregates=aggs,
        ),
    ).orderBy("id").collect()
    cols = [f"a{i}" for i in range(len(fns))]
    assert [[r[c] for c in cols] for r in via_interval] == [
        [r[c] for c in cols] for r in via_numeric
    ]
