"""Unit tests for reference-quirk fidelity in the function registry."""

from __future__ import annotations

from window_aggregation_spark.functions.registry import (
    FUNCTIONS,
    REF_NAME_TO_NAME,
    _effective_ignore_nulls,
    lookup,
)
from window_aggregation_spark.spec import AggregateDef


def test_first_last_args0_or_quirk():
    """args[0] == 'true' turns ignoreNulls ON even when the spec-level flag
    is false (reference ORs them, WindowsAggregationUtil.java:158-171)."""
    assert _effective_ignore_nulls(
        AggregateDef("a", "first", field="x", args=("true",), ignore_nulls=False)
    )
    assert not _effective_ignore_nulls(
        AggregateDef("a", "first", field="x", args=("false",), ignore_nulls=False)
    )
    assert _effective_ignore_nulls(
        AggregateDef("a", "last", field="x", args=(), ignore_nulls=True)
    )


def test_lookup_accepts_both_name_styles():
    assert lookup("N_TILE").name == "ntile"
    assert lookup("ntile").name == "ntile"
    assert lookup("CUMULATIVE_DISTRIBUTION").name == "cume_dist"
    assert lookup("Rank").name == "rank"


def test_every_reference_function_is_registered():
    reference_enum = {
        "RANK", "DENSE_RANK", "PERCENT_RANK", "N_TILE", "ROW_NUMBER",
        "MEDIAN", "CONTINUOUS_PERCENTILE", "DISCRETE_PERCENTILE",
        "LEAD", "LAG", "FIRST", "LAST", "CUMULATIVE_DISTRIBUTION",
        "ACCUMULATE",
    }
    assert reference_enum <= set(REF_NAME_TO_NAME)


def test_registry_entries_are_complete():
    for fdef in FUNCTIONS.values():
        assert fdef.sql is not None
        assert fdef.output_type in (None, "int", "float", "double", "long")


def test_discrete_percentile_backends_agree_on_the_rank(spark):
    """Both backends compute k = ceil(p*n) in the same double arithmetic.
    p = 0.07 over 100 rows and 0.14 over 50 rows are the cases where an
    exact DECIMAL product (7) and the double product (7.000000000000001)
    pick different ranks; ordering by (val, id) keeps the general
    composition (the rank lookup needs a single order key)."""
    from pyspark.sql import functions as F

    from window_aggregation_spark.operators.window_aggregation import (
        window_aggregate,
    )
    from window_aggregation_spark.plans.sql_gen import plan_to_sql
    from window_aggregation_spark.spec import OrderKey, WindowPlan, WindowSpecDef

    for n, p in ((100, "0.07"), (50, "0.14")):
        df = spark.range(n).select(
            F.col("id").cast("int").alias("id"),
            F.lit(0).alias("g"),
            F.col("id").cast("double").alias("val"),
        )
        plan = WindowPlan(
            WindowSpecDef(
                partition_by=("g",), order_by=(OrderKey("val"), OrderKey("id"))
            ),
            (AggregateDef("pd", "discrete_percentile", field="val", args=(p,)),),
        )
        out = window_aggregate(df, plan)
        # n comes from count(), so the composition collects the frame once
        optimized = out._jdf.queryExecution().optimizedPlan().toString()
        assert optimized.count("collect_list(") == 1
        api = out.orderBy("id").collect()
        df.createOrReplaceTempView("dp_rank_parity")
        sql = spark.sql(
            plan_to_sql(plan, "dp_rank_parity", df.columns,
                        input_types=dict(df.dtypes))
        ).orderBy("id").collect()
        assert [r.pd for r in api] == [r.pd for r in sql], (n, p)


def test_passthrough_functions_keep_nested_and_udt_types(spark):
    """LEAD/FIRST/MAX keep their input's type for fields SQL cannot name
    exactly: a struct whose field name needs quoting and a UDT column."""
    from pyspark.ml.linalg import Vectors, VectorUDT
    from pyspark.sql import types as T

    from window_aggregation_spark.operators.window_aggregation import (
        window_aggregate,
    )
    from window_aggregation_spark.spec import OrderKey, WindowPlan, WindowSpecDef

    schema = T.StructType([
        T.StructField("g", T.LongType()),
        T.StructField("id", T.LongType()),
        T.StructField("s", T.StructType([T.StructField("a b", T.LongType())])),
        T.StructField("v", VectorUDT()),
    ])
    df = spark.createDataFrame(
        [(0, i, (i,), Vectors.dense([float(i)])) for i in range(3)], schema
    )
    spec = WindowSpecDef(partition_by=("g",), order_by=(OrderKey("id"),))
    for fn, field, args in (("lead", "s", ("1",)), ("first", "s", ()),
                            ("max", "s", ()), ("lead", "v", ("1",)),
                            ("last", "v", ())):
        plan = WindowPlan(spec, (AggregateDef("o", fn, field=field, args=args),))
        out = window_aggregate(df, plan, validate=False)
        assert out.schema["o"].dataType == schema[field].dataType, (fn, field)
        got = [r.o for r in out.orderBy("id").collect()]
        values = [r[field] for r in df.orderBy("id").collect()]
        want = {"lead": values[1:] + [None], "first": values[:1] * 3,
                "max": values, "last": values}[fn]
        assert got == want, (fn, field)
