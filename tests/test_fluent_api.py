"""The fluent front door must produce the same results as the dataclass IR
and the string-spec grammar (three doors, one engine)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from window_aggregation_spark import ValidationError, config_to_plan, window_aggregate
from window_aggregation_spark.api import (
    accumulate,
    desc,
    discrete_percentile,
    first,
    lead,
    rank,
    window,
)

F1_ROWS = [
    (1, "Schuster", "Chris", "accountant", 23),
    (2, "Gamal", "Ali", "engineer", 30),
    (3, "Seitz", "Bob", "professor", 45),
    (4, "Bolt", "Henry", "engineer", 28),
    (5, "Shelton", "Alex", "professor", 50),
]
F1_SCHEMA = "id int, lastname string, firstname string, profession string, age int"


def test_fluent_equals_string_spec(spark):
    df = spark.createDataFrame(F1_ROWS, F1_SCHEMA)
    fluent = (
        window(df)
        .partition_by("profession")
        .order_by(desc("age"))
        .agg(first("age").alias("age"))
    )
    spec_path = window_aggregate(
        df,
        config_to_plan(
            partition_fields="profession",
            partition_order="age:Descending",
            aggregates="age:first(age,1,true)",
        ),
    )
    assert sorted(map(tuple, fluent.collect())) == sorted(
        map(tuple, spec_path.collect())
    )


def test_fluent_frames_select_and_sql(spark):
    df = spark.createDataFrame(F1_ROWS, F1_SCHEMA)
    b = (
        window(df)
        .partition_by("profession")
        .order_by("age", "id")
        .rows(-1, 0)
        .select("id", "profession", "run_age")
    )
    out = b.agg(accumulate("age").alias("run_age"))
    assert out.columns == ["id", "profession", "run_age"]
    sql = b.sql("people", accumulate("age").alias("run_age"))
    df.createOrReplaceTempView("people")
    via_sql = spark.sql(sql)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, via_sql.collect()))


def test_fluent_multi_function(spark):
    df = spark.createDataFrame(F1_ROWS, F1_SCHEMA)
    out = (
        window(df)
        .partition_by("profession")
        .order_by("age", "id")
        .agg(
            rank().alias("rnk"),
            lead("age", 1).alias("next_age"),
            discrete_percentile("age", 0.5).alias("med_age"),
        )
    )
    rows = {r["id"]: (r["rnk"], r["next_age"], r["med_age"]) for r in out.collect()}
    assert rows[4] == (1, 30, 28)   # engineer: Bolt(28) then Gamal(30)
    assert rows[2] == (2, None, 28)


def test_fluent_interval_frame_routes_via_sql_backend(spark):
    df = spark.createDataFrame(
        [
            (1, "a", "2024-01-01 10:00:00", 1.0),
            (2, "a", "2024-01-01 10:30:00", 2.0),
            (3, "a", "2024-01-01 12:00:00", 4.0),
        ],
        "id int, k string, ts_s string, v double",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    out = (
        window(df)
        .partition_by("k")
        .order_by("ts")
        .range_interval("1 hour")
        .agg(accumulate("v").alias("hour_sum"))
    )
    got = {r["id"]: r["hour_sum"] for r in out.collect()}
    # id 2 sees id 1 (30 min back); id 3 sees only itself (90 min gap)
    assert got == {1: 1.0, 2: 3.0, 3: 4.0}


def test_interval_frame_requires_timestamp_order(spark):
    df = spark.createDataFrame([(1, "a", 2.0)], "id int, k string, v double")
    with pytest.raises(ValidationError, match="timestamp/date order"):
        window(df).partition_by("k").order_by("id").range_interval("1 hour").agg(
            accumulate("v").alias("s")
        )


def test_fluent_validation_errors(spark):
    df = spark.createDataFrame(F1_ROWS, F1_SCHEMA)
    with pytest.raises(ValidationError, match="required clause"):
        window(df).partition_by("profession").agg(rank().alias("r"))
    with pytest.raises(KeyError, match="Unknown window function"):
        from window_aggregation_spark.api import _fn

        _fn("frobnicate")


def test_sql_door_keeps_nested_and_udt_passthrough_types(spark):
    """The SQL door builds its passthrough casts like the DataFrame
    backend (``sql_gen.cast_types``): a struct whose field name needs
    quoting and a UDT column get no cast, because Spark SQL cannot parse
    their ``simpleString`` spellings (``struct<a b:bigint>``, ``vector``).
    The rendered SQL must run and equal ``.agg(...)``."""
    from pyspark.ml.linalg import Vectors, VectorUDT
    from pyspark.sql import types as T

    from window_aggregation_spark.api import max_

    schema = T.StructType([
        T.StructField("g", T.LongType()),
        T.StructField("id", T.LongType()),
        T.StructField("s", T.StructType([T.StructField("a b", T.LongType())])),
        T.StructField("v", VectorUDT()),
    ])
    df = spark.createDataFrame(
        [(i % 2, i, (i * 7 % 5,), Vectors.dense([float(i)]))
         for i in range(6)],
        schema,
    )
    df.createOrReplaceTempView("nested_udt")
    b = window(df).partition_by("g").order_by("id")
    aggs = (
        lead("s", 1).alias("lead_s"), first("s").alias("first_s"),
        max_("s").alias("max_s"), lead("v", 1).alias("lead_v"),
        first("v").alias("first_v"),
    )
    via_sql = spark.sql(b.sql("nested_udt", *aggs))
    via_agg = b.agg(*aggs)
    assert via_sql.schema == via_agg.schema
    assert via_sql.schema["lead_s"].dataType == schema["s"].dataType
    assert via_sql.schema["lead_v"].dataType == schema["v"].dataType
    assert sorted(via_sql.collect(), key=lambda r: r.id) == sorted(
        via_agg.collect(), key=lambda r: r.id
    )
