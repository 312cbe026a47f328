"""COUNT_DISTINCT window function: flag+sum rewrite vs the one-pass
collect_list composition the SQL backend renders (bit-equality), NULL
handling, peer (RANGE) semantics, clause validation, and both SQL dialect
renderings."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from window_aggregation_spark.errors import ValidationError
from window_aggregation_spark.operators.window_aggregation import (
    window_aggregate,
)
from window_aggregation_spark.plans.sql_gen import cast_types, plan_to_sql
from window_aggregation_spark.spec import (
    AggregateDef,
    OrderKey,
    WindowPlan,
    WindowSpecDef,
)

T0 = dt.datetime(2024, 1, 1)


def _sql_backend(spark, df, plan):
    """The plan through the SQL backend (the one-pass composition)."""
    df.createOrReplaceTempView("cd_input")
    return spark.sql(plan_to_sql(plan, "cd_input", df.columns,
                                 input_types=cast_types(df)))


def _plan(**kw):
    return WindowPlan(
        spec=WindowSpecDef(
            partition_by=("k",), order_by=(OrderKey("o"),), **kw
        ),
        aggregates=(AggregateDef("ndv", "count_distinct", field="v"),),
    )


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [
            ("a", 1, "x"),
            ("a", 2, "y"),
            ("a", 3, "x"),   # repeat -> no increment
            ("a", 4, None),  # NULL ignored
            ("a", 5, "z"),
            ("b", 1, "x"),
        ],
        "k string, o int, v string",
    )


class TestCountDistinctRunning:
    def test_running_counts(self, spark, df):
        out = window_aggregate(df, _plan()).orderBy("k", "o").collect()
        assert [r.ndv for r in out] == [1, 2, 2, 2, 3, 1]

    def test_strategies_bit_identical(self, spark, df):
        fast = window_aggregate(df, _plan())
        slow = _sql_backend(spark, df, _plan())
        assert fast.exceptAll(slow).count() == 0
        assert slow.exceptAll(fast).count() == 0
        plan = slow._sc._jvm.PythonSQLUtils.explainString(
            slow._jdf.queryExecution(), "simple"
        )
        assert "collect_list" in plan  # the one-pass composition

    def test_peer_rows_share_count(self, spark):
        # RANGE running frame: order-key ties are peers; a value first
        # occurring inside the peer group counts for EVERY peer
        df = spark.createDataFrame(
            [("a", 1, "x"), ("a", 1, "y"), ("a", 2, "y")],
            "k string, o int, v string",
        )
        for backend, out in (
            ("dataframe", window_aggregate(df, _plan())),
            ("sql", _sql_backend(spark, df, _plan())),
        ):
            rows = out.orderBy("o", "v").collect()
            assert [r.ndv for r in rows] == [2, 2, 2], backend

    def test_all_null_partition_counts_zero(self, spark):
        df = spark.createDataFrame(
            [("a", 1, None), ("a", 2, None)], "k string, o int, v string"
        )
        out = window_aggregate(df, _plan()).collect()
        assert [r.ndv for r in out] == [0, 0]

    def test_output_type_long(self, spark, df):
        out = window_aggregate(df, _plan())
        assert dict(out.dtypes)["ndv"] == "bigint"

    def test_explicit_frame_rejected(self, spark, df):
        from window_aggregation_spark.spec import FrameType

        bad = WindowPlan(
            spec=WindowSpecDef(
                partition_by=("k",), order_by=(OrderKey("o"),),
                frame_type=FrameType.ROW, start=-2, end=0,
            ),
            aggregates=(AggregateDef("ndv", "count_distinct", field="v"),),
        )
        with pytest.raises(ValidationError):
            window_aggregate(df, bad)

    def test_temp_column_collision_raises(self, spark):
        df = spark.createDataFrame(
            [("a", 1, "x", 0)], "k string, o int, v string, __cdf_ndv int"
        )
        with pytest.raises(ValueError, match="collides"):
            window_aggregate(df, _plan())

    def test_rewrite_plan_has_no_collect_list(self, spark, df):
        out = window_aggregate(df, _plan())
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "simple"
        )
        assert "collect_list" not in plan  # flat-memory path

    def test_sql_backend_matches(self, spark, df):
        df.createOrReplaceTempView("cd_input")
        sql = plan_to_sql(_plan(), "cd_input", df.columns,
                          input_types=dict(df.dtypes))
        got = spark.sql(sql)
        want = window_aggregate(df, _plan())
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0

    def test_bigquery_rendering(self):
        from window_aggregation_spark.functions.registry import (
            bigquery_expression,
        )

        agg = AggregateDef("ndv", "count_distinct", field="v")
        got = bigquery_expression(agg, "OVER (w)")
        assert got == (
            "(SELECT COUNT(DISTINCT __u) FROM UNNEST(ARRAY_AGG(v) "
            "OVER (w)) __u)"
        )


def test_ansi_dialect_renders_native_distinct():
    from window_aggregation_spark.functions.registry import lookup

    agg = AggregateDef("ndv", "count_distinct", field="v")
    fdef = lookup("count_distinct")
    assert fdef.sql(agg, "OVER (w)", "ansi") == 'COUNT(DISTINCT "v") OVER (w)'
    assert "collect_list" in fdef.sql(agg, "OVER (w)", "spark")
