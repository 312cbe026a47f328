"""Dual-backend soak: drive the property-test plan generators at 150
examples each (6x the in-CI cap — pytest's decorator-level @settings
would override a hypothesis profile, so this drives the strategies
directly). Run from the repo root when touching the window operator,
the registry, or sql_gen: ``python scripts/soak_dual_backend.py``."""
import sys
import os
sys.path.insert(0, os.getcwd())
from hypothesis import HealthCheck, given, settings

import tests.test_property_dual_backend as m
from window_aggregation_spark.plans.sql_gen import plan_to_sql
from window_aggregation_spark.session import get_spark

spark = get_spark("soak2", shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")

checked = {"n": 0}

@settings(max_examples=150, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(m.unframed_plan())
def soak_unframed(plan):
    api, via_sql = m._run_both(spark, plan)
    assert api == via_sql, plan
    checked["n"] += 1

@settings(max_examples=150, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(m.framed_plan())
def soak_framed(plan):
    api, via_sql = m._run_both(spark, plan)
    assert api == via_sql, plan
    checked["n"] += 1

@settings(max_examples=100, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(m.range_plan())
def soak_range(plan):
    # reuse the pytest body so the soak can never drift from the property
    m.test_range_frames_with_nulls_dual_backend.hypothesis.inner_test(
        spark, plan
    )
    checked["n"] += 1

@settings(max_examples=75, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(m.interval_frame_case())
def soak_interval(case):
    m.test_interval_range_frame_equals_numeric_twin.hypothesis.inner_test(
        spark, case
    )
    checked["n"] += 1

colliding = {"compared": 0, "refused": 0}

@settings(max_examples=150, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(m.colliding_plan())
def soak_colliding(plan):
    m.test_colliding_aliases_dual_backend.hypothesis.inner_test(spark, plan)
    try:
        plan_to_sql(plan, "t", ["id", "grp", "val", "small"])
        colliding["compared"] += 1
    except ValueError:  # the body above already matched the refusal
        colliding["refused"] += 1
    checked["n"] += 1

soak_unframed()
print("unframed ok", checked["n"], flush=True)
soak_framed()
print("framed ok", checked["n"], flush=True)
soak_range()
print("range ok", checked["n"], flush=True)
soak_interval()
print("interval ok", checked["n"], flush=True)
soak_colliding()
print("colliding ok", checked["n"], colliding, flush=True)
spark.stop()
