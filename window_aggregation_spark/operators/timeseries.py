"""Time-series shaping over irregular event streams: fixed-grid resampling
with gap fill (forward fill / linear interpolation), gap-based batch
sessionization, SCD2 (slowly-changing-dimension) history compaction, and
expanding-history z-score anomaly flagging.

Extension scope (SURVEY §2.5) — the reference engine stops at window
aggregation; these are the standard time-series reshaping steps an event
pipeline runs *around* those windows (regularize an irregular series before
a rolling aggregate, cut activity sessions, version entity state).

Scale shapes (all verified in PLANS.md):

- ``resample_ffill`` is ZERO-join: instead of building a per-key calendar
  grid and left-joining observations onto it (two shuffles + a join whose
  build side is the grid), each observation row *emits its own gap run* —
  ``sequence(bucket, next_bucket - step)`` exploded — carrying its value
  forward. The carried value IS the forward fill, so the whole operator is
  one hash exchange (by key) + one WindowExec (lead) + a generator
  projection. Expansion factor is bounded by the series' span/step, chosen
  by the caller.
- ``sessionize`` is ONE shuffle end-to-end: the session counter is a
  running sum over ``(key ORDER BY ts)``, and the follow-up session-level
  aggregation groups on ``(key, session_id)`` — a SUPERSET of the window's
  hash keys, so ``EnsureRequirements`` reuses the exchange (hash
  partitioning by ``key`` already clusters ``(key, session_id)``) and the
  aggregate runs in-partition.
- ``scd2_history`` is two WindowExecs over the SAME partitioning (one
  shuffle): change-compaction (drop rows equal to their predecessor state)
  then validity stitching (``valid_to = lead(valid_from)``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from window_aggregation_spark.session import checkpoint

_STEPS = {"day": "1 day", "hour": "1 hour", "minute": "1 minute"}


def resample_ffill(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    *,
    step: str = "day",
    tiebreak: list[str] | None = None,
    lerp: bool = False,
) -> DataFrame:
    """Resample an irregular series to a fixed ``step`` grid per key and
    forward-fill gaps; optionally add linear interpolation.

    For each key, the output has one row per grid bucket from the key's
    first observed bucket through its last. Where several input rows land
    in one bucket, the LAST one (by ``ts_col`` then ``tiebreak`` — pass a
    tiebreak whenever timestamps can tie, or the result is
    nondeterministic) defines the bucket's value.

    Output columns: ``keys``, ``bucket`` (date for step='day', else
    timestamp), ``value_ffill`` (last observation at or before the
    bucket), ``value_lerp`` (only when ``lerp=True``: linear interpolation
    between the surrounding observations; equals the observation on
    observed buckets and on the final bucket), ``is_observed``.

    Gap rows are generated by their *preceding observation* (explode of
    ``sequence(bucket, next_bucket - step)``), so the forward fill needs
    no join and no second pass — see module docstring for the plan shape.
    """
    if step not in _STEPS:
        raise ValueError(f"step must be one of {sorted(_STEPS)}, got {step!r}")
    interval = F.expr(f"interval {_STEPS[step]}")
    ts = F.col(ts_col).cast("timestamp")
    bucket: Column = F.date_trunc(step, ts)
    if step == "day":
        bucket = bucket.cast("date")

    # last-in-bucket via max_by over the (ts, tiebreak) struct: a partial-
    # aggregating HashAggregate, so the shuffle moves one candidate row
    # per (key, bucket) per mapper — a row_number window here would
    # shuffle EVERY raw event instead
    pick_order = F.struct(
        F.col(ts_col), *[F.col(c) for c in (tiebreak or [])]
    )
    obs = (
        df.withColumn("__bucket", bucket)
        .groupBy(*keys, "__bucket")
        .agg(F.max_by(F.col(value_col), pick_order).alias("__v"))
    )

    nxt = Window.partitionBy(*keys).orderBy("__bucket")
    obs = obs.withColumn("__nb", F.lead("__bucket").over(nxt))
    if lerp:
        obs = obs.withColumn("__nv", F.lead("__v").over(nxt))

    # each observation emits itself plus the gap buckets up to (exclusive)
    # the next observation; the tail observation emits only itself
    grid_stop = F.coalesce(F.col("__nb") - interval, F.col("__bucket"))
    out = obs.withColumn(
        "__g", F.explode(F.sequence(F.col("__bucket"), grid_stop, interval))
    )
    cols = [*keys, F.col("__g").alias("bucket"),
            F.col("__v").alias("value_ffill")]
    if lerp:
        # fraction of the way from this observation to the next; datediff
        # semantics depend on step, so measure in epoch seconds (exact for
        # whole-step grid points)
        span = F.unix_timestamp(F.col("__nb").cast("timestamp")) - F.unix_timestamp(
            F.col("__bucket").cast("timestamp")
        )
        num = F.unix_timestamp(F.col("__g").cast("timestamp")) - F.unix_timestamp(
            F.col("__bucket").cast("timestamp")
        )
        # multiply-then-divide, matching the canonical SQL association
        # ((nv - v) * num) / span: lerp values land exactly on rounding
        # boundaries (k/n rationals), so association must be identical
        # across engines or ~0.1% of rounded values flip by one ulp
        cols.append(
            F.when(F.col("__nb").isNull(), F.col("__v"))
            .otherwise(
                F.col("__v") + (F.col("__nv") - F.col("__v")) * num / span
            )
            .alias("value_lerp")
        )
    cols.append((F.col("__g") == F.col("__bucket")).alias("is_observed"))
    return out.select(*cols)


def resample_ohlc(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    *,
    step: str = "day",
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Downsample to one OHLC row per (key, bucket): ``open`` (first
    value in the bucket by ``ts_col`` + ``tiebreak``), ``high``/``low``
    (max/min), ``close`` (last value), ``n_obs``. Buckets with no
    observations are simply absent (compose with :func:`resample_ffill`
    when a dense grid is needed).

    Single map-side-combined aggregate — ``min_by``/``max_by`` over the
    (ts, tiebreak) struct give open/close without any window, so the one
    shuffle moves one candidate row per (key, bucket) per mapper.
    """
    if step not in _STEPS:
        raise ValueError(f"step must be one of {sorted(_STEPS)}, got {step!r}")
    ts = F.col(ts_col).cast("timestamp")
    bucket: Column = F.date_trunc(step, ts)
    if step == "day":
        bucket = bucket.cast("date")
    order = F.struct(F.col(ts_col), *[F.col(c) for c in (tiebreak or [])])
    return (
        df.withColumn("__bucket", bucket)
        .groupBy(*keys, F.col("__bucket").alias("bucket"))
        .agg(
            F.min_by(F.col(value_col), order).alias("open"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            F.max_by(F.col(value_col), order).alias("close"),
            F.count(value_col).alias("n_obs"),
        )
    )


def sessionize(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    *,
    gap: str = "30 minutes",
    tiebreak: list[str] | None = None,
    value_col: str | None = None,
) -> DataFrame:
    """Cut each key's event stream into sessions separated by inactivity
    gaps of more than ``gap``, and return ONE ROW PER SESSION:
    ``keys``, ``session_id`` (1-based per key, in time order),
    ``session_start``, ``session_end``, ``n_events`` and — when
    ``value_col`` is given — ``value_sum``.

    Same gap semantics as ``streaming.window_stream.sessionize`` (a
    session extends while consecutive events are <= gap apart;
    strictly-greater gaps split), different OUTPUT SHAPE: that operator
    tags every event row with its session id (and handles streaming
    frames via ``session_window``); this one rolls the stream up to
    session-level rows, with generic keys/tiebreak, for session
    analytics over bounded history.

    ``tiebreak`` orders equal timestamps deterministically; it never
    affects session membership (equal timestamps are always <= gap apart)
    but keeps the plan's sort total.
    """
    gap_us = _parse_gap_seconds(gap) * 1_000_000
    order = [F.col(ts_col)] + [F.col(c) for c in (tiebreak or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    # microsecond arithmetic: unix_timestamp truncates sub-second parts,
    # which would move events that straddle the gap boundary by < 1 s
    # across it (and disagree with any fractional-seconds oracle)
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    prev = F.lag(ts_us).over(w)
    is_new = F.when(
        prev.isNull() | ((ts_us - prev) > F.lit(gap_us)), F.lit(1)
    ).otherwise(F.lit(0))
    run = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = df.withColumn("__new", is_new).withColumn(
        "session_id", F.sum("__new").over(run)
    )
    aggs = [
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias("value_sum"))
    # groups on a superset of the window's hash keys -> exchange reuse
    return tagged.groupBy(*keys, "session_id").agg(*aggs)


def scd2_history(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    state_cols: list[str],
    *,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Compact a change log into SCD2 (type-2 slowly-changing-dimension)
    history rows: per key, consecutive events with an identical state
    tuple collapse into one version, and each version carries
    ``valid_from`` (its first event's ``ts_col``), ``valid_to`` (the next
    version's ``valid_from``, NULL for the current version),
    ``is_current`` and a 1-based ``version`` ordinal.

    Output columns: ``keys``, ``state_cols``, ``valid_from``,
    ``valid_to``, ``is_current``, ``version``.

    NULL state values compare as equal to NULL (a run of NULLs is one
    version), matching SQL ``IS NOT DISTINCT FROM``.

    Both windows partition by ``keys`` — one shuffle total.
    """
    order = [F.col(ts_col)] + [F.col(c) for c in (tiebreak or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    # first row per key always opens a version (row_number, not
    # lag IS NULL: a lag-based flag would mis-drop a first row whose
    # state tuple is all-NULL, since eqNullSafe(NULL, lag=NULL) is true)
    changed = F.row_number().over(w) == 1
    for c in state_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.lag(c).over(w))
    versions = df.withColumn("__chg", changed).where(F.col("__chg"))

    vo = [F.col(ts_col)] + [F.col(c) for c in (tiebreak or [])]
    vw = Window.partitionBy(*keys).orderBy(*vo)
    return versions.select(
        *keys,
        *state_cols,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(vw).alias("valid_to"),
        F.lead(ts_col).over(vw).isNull().alias("is_current"),
        F.row_number().over(vw).alias("version"),
    )


def _parse_gap_seconds(gap: str) -> int:
    """Canonical '<amount> <unit>' duration parser shared by batch and
    streaming sessionization (streaming.window_stream imports this one —
    two copies had already diverged on day support)."""
    units = {
        "second": 1, "seconds": 1,
        "minute": 60, "minutes": 60,
        "hour": 3600, "hours": 3600,
        "day": 86400, "days": 86400,
    }
    try:
        amount, unit = gap.split()
        return int(amount) * units[unit]
    except (KeyError, ValueError):
        raise ValueError(
            f"unsupported duration {gap!r}: expected '<int> <unit>' with "
            f"unit one of {sorted(set(units))}"
        ) from None


def rolling_zscore(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    *,
    min_obs: int = 10,
    threshold: float = 3.0,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Expanding-history anomaly score per event: each row's value is
    standardized against the mean/stddev of all STRICTLY EARLIER rows
    in its key's stream (frame = unbounded preceding .. 1 preceding —
    the current value never contaminates its own baseline, so a spike
    scores against clean history).

    Output: the input columns plus ``n_hist`` (prior observation
    count), ``zscore`` (rounded to 4 decimals; NULL while
    n_hist < min_obs or the history is constant) and ``is_anomaly``
    (|zscore| > threshold on the ROUNDED value, never NULL — the
    rounded comparison keeps the flag decidable identically by any
    engine reproducing the rounded score).

    The variance comes from power sums in a FIXED evaluation order —
    ``(s2 - (s*s)/n) / (n-1)`` over cumulative sums — so an engine
    mirroring the same association reproduces the doubles bit-for-bit
    (the two-field-moments trick, functions/registry.py). Negative
    variance from cancellation clamps to 0 (reads as constant history
    -> NULL score); the n<2 guard is a CASE, which both Spark codegen
    and SQL engines evaluate lazily, so no divide-by-zero path exists
    even under ANSI mode.

    One shuffle: all three cumulative aggregates share a single
    WindowExec over (keys ORDER BY ts, tiebreak).
    """
    order = [F.col(ts_col)] + [F.col(c) for c in (tiebreak or [])]
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    v = F.col(value_col).cast("double")
    # materialize the three power sums as columns FIRST, in ONE select:
    # deriving z directly from .over(w) expressions re-expands each per
    # reference (observed: 15 window aggregates for 3 distinct ones),
    # and chained withColumns leave 3 stacked WindowExecs (the injected
    # input Projects block CollapseWindow) — a single select yields one
    # 3-expression WindowExec over one exchange
    tmp = df.select(
        "*",
        F.count(v).over(w).alias("n_hist"),
        F.sum(v).over(w).alias("__s"),
        F.sum(v * v).over(w).alias("__s2"),
    )
    n, s, s2 = F.col("n_hist"), F.col("__s"), F.col("__s2")
    var = F.when(
        n >= F.lit(2),
        F.greatest((s2 - (s * s) / n) / (n - F.lit(1)), F.lit(0.0)),
    )
    sd = F.sqrt(var)
    z = F.when((n >= F.lit(min_obs)) & (sd > F.lit(0.0)), (v - s / n) / sd)
    return (
        tmp.withColumn("zscore", F.round(z, 4))
        .withColumn(
            "is_anomaly",
            F.coalesce(
                F.abs(F.col("zscore")) > F.lit(float(threshold)), F.lit(False)
            ),
        )
        .drop("__s", "__s2")
    )


def funnel_conversion(
    events: DataFrame,
    steps: list[str],
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    within_seconds: int | None = None,
) -> DataFrame:
    """Ordered funnel analysis: how many users perform ``steps[0]``, then
    ``steps[1]`` STRICTLY AFTER their first ``steps[0]``, then ``steps[2]``
    strictly after that, ... Returns one row per step: ``(step,
    event_type, users, frac_of_first, frac_of_prev)`` with fractions
    rounded to 6 (exactly reproducible cross-engine: BIGINT/BIGINT in
    IEEE doubles).

    Semantics: step k's timestamp for a user is the MINIMUM event time of
    type ``steps[k]`` strictly greater than the user's step k-1 time
    (first-touch attribution, the standard product-analytics funnel).
    ``within_seconds`` additionally requires every later step to land
    within that horizon of the user's FIRST-step time (conversion
    windows: "purchased within 7 days of first view").

    Scale shape: NO per-user event materialization and no sort — step k
    is one filtered scan of ``events`` hash-joined to the (one row per
    surviving user) step k-1 frame, then a min() groupBy. Every stage
    shuffles on ``user_col`` alone, so ``EnsureRequirements`` reuses one
    exchange layout across all k stages; cost is k pruned scans (the
    ``type = step`` filter pushes to parquet) + k user-keyed aggregates
    over monotonically SHRINKING user sets."""
    if len(steps) < 2:
        raise ValueError("a funnel needs at least two steps")
    e = events.select(
        F.col(user_col).alias("__u"),
        F.col(type_col).alias("__t"),
        F.col(ts_col).cast("timestamp").alias("__ts"),
    )
    stages: list[DataFrame] = [
        e.where(F.col("__t") == steps[0])
        .groupBy("__u")
        .agg(F.min("__ts").alias("__s0"))
    ]
    for k, step in enumerate(steps[1:], start=1):
        nxt = e.where(F.col("__t") == step).join(stages[-1], "__u")
        cond = F.col("__ts") > F.col(f"__s{k - 1}")
        if within_seconds is not None:
            cond = cond & (
                F.col("__ts")
                <= F.col("__s0") + F.expr(f"INTERVAL {within_seconds} SECOND")
            )
        # later stages only read __s0 (conversion window anchor) and the
        # immediately preceding step's time; carrying every __sj would
        # widen the shuffle/group keys for nothing (all are functionally
        # dependent on __u anyway)
        carry = ["__s0"] if k > 1 else []
        stages.append(
            nxt.where(cond)
            .groupBy("__u", *carry, f"__s{k - 1}")
            .agg(F.min("__ts").alias(f"__s{k}"))
        )
    # one row per (step): union of 1-row aggregates. All k branches live
    # in ONE plan, so the shared stage prefixes collapse via
    # ReusedExchange instead of re-scanning per branch.
    per_step = None
    for k, (step, frame) in enumerate(zip(steps, stages), start=1):
        row = frame.agg(F.count(F.lit(1)).alias("users")).select(
            F.lit(k).alias("step"),
            F.lit(step).alias("event_type"),
            F.col("users").cast("bigint").alias("users"),
        )
        per_step = row if per_step is None else per_step.unionByName(row)
    first_users = F.first("users").over(
        Window.orderBy("step").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    )
    prev_users = F.lag("users").over(Window.orderBy("step"))
    # fractions stay UNROUNDED: one IEEE division of the same two longs
    # is bit-equal in every engine, whereas rounding a value that lands
    # on a .xxxxx5 boundary is where engines disagree (half-up decimal
    # vs scaled-multiply)
    return per_step.select(
        "step",
        "event_type",
        "users",
        F.try_divide(F.col("users"), first_users).alias("frac_of_first"),
        F.try_divide(F.col("users"), prev_users).alias("frac_of_prev"),
    )


def cohort_retention(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period_seconds: int = 7 * 24 * 3600,
) -> DataFrame:
    """Cohort retention: users are cohorted by the fixed-width period of
    their FIRST event (epoch-aligned buckets of ``period_seconds``), and
    each later period counts how many of them were active. Returns
    ``(cohort_start, period_offset, active_users, cohort_size,
    retention)`` — retention unrounded (one IEEE division of two longs,
    bit-equal in every engine).

    Epoch-aligned integer bucketing (``floor(unix_ts / period)``) rather
    than calendar ``date_trunc`` is deliberate: identical arithmetic in
    every engine (no week-start or DST conventions), and the offset is a
    plain integer subtraction of bucket indexes.

    Scale shape: one user-keyed min() aggregate for first-touch, one
    hash join back to events on ``user_col`` (same key -> exchange
    reuse), one distinct-count per (cohort, offset) — <= cohorts x
    horizon result rows regardless of event volume.

    The two-column (user, period) projection and the per-user
    first-touch frame are each consumed by two plan branches, so both
    are pinned with :func:`..session.checkpoint` — without it Spark
    re-derives the events scan per branch (three pruned scans; the
    ``operators/lm.py`` pattern, VERDICT r7 #5). The materialized copy is
    two integer columns, ~16 bytes/event in executor storage. A local
    checkpoint truncates lineage, so losing an executor that holds its
    blocks mid-job fails the query instead of recomputing; on
    preemptible/spot clusters set a checkpoint dir and the pins become
    reliable checkpoints."""
    e = events.select(
        F.col(user_col).alias("__u"),
        F.floor(
            F.unix_timestamp(F.col(ts_col).cast("timestamp"))
            / F.lit(period_seconds)
        ).cast("long").alias("__p"),
    )
    e = checkpoint(e)
    first = checkpoint(e.groupBy("__u").agg(F.min("__p").alias("__cohort")))
    # `first` is one row per user by construction: a plain count avoids
    # the Expand/partial-distinct stage countDistinct would add
    sizes = first.groupBy("__cohort").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    active = (
        e.join(first, "__u")
        .groupBy(
            "__cohort", (F.col("__p") - F.col("__cohort")).alias("period_offset")
        )
        .agg(F.countDistinct("__u").alias("active_users"))
    )
    return (
        active.join(sizes, "__cohort")
        .select(
            F.timestamp_seconds(
                F.col("__cohort") * F.lit(period_seconds)
            ).alias("cohort_start"),
            F.col("period_offset").cast("int").alias("period_offset"),
            "active_users",
            "cohort_size",
            F.try_divide(
                F.col("active_users"), F.col("cohort_size")
            ).alias("retention"),
        )
    )
