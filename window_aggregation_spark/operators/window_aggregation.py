"""The window-aggregation operator: the engine's core relational operator.

Semantics re-expressed from the reference plugin (O1,
``WindowsAggregationUtil.java:49-91``; schema rule
``WindowAggregation.java:361-371``), Spark-first:

- ONE ``select`` produces the whole output: every input column (in order) plus
  one computed column per aggregate. All aggregates share one window spec, so
  Catalyst plans a single ``WindowExec``: one hash-partition exchange on the
  partition keys + one in-partition sort, every function evaluated in a single
  pass over each frame.
- Alias collision REPLACES the input column in place (the reference uses
  ``df.withColumn``; its e2e golden test depends on this —
  ``WindowAggregation.feature:44``).
- Output schema = input fields, in order, plus appended alias fields; the
  declared output types (float for percent_rank, input-type passthrough for
  lead/lag/first/last/accumulate/discrete_percentile) are produced with
  explicit casts at the boundary.
- MEDIAN / DISCRETE_PERCENTILE over running frames ordered by their own
  field take the flat-memory rank lookup by default
  (:func:`_percentile_rank_lookup`): a run of consecutive such aggregates
  costs one count/rank window, one request/value generator and one
  last-value lookup window each, all over the plan's single partition-key
  exchange.
- Optional ``num_partitions`` repartition (reference O4) — exposed, but AQE
  (``spark.sql.adaptive.enabled``) usually picks better partition counts;
  leave it unset unless a downstream stage needs a specific layout.

Scale notes (100 TB):

- ``WindowExec`` sorts each partition-key group within one task — a hot key
  serializes onto one core. For running sums over hot keys prefer a two-phase
  salted accumulate (chunk-local running sum + broadcast chunk offsets); for
  whole-partition percentiles prefer ``approx_discrete_percentile`` (sketch,
  fixed memory).
- Everything here is a pure Catalyst expression — no Python in the hot path,
  so filters below this operator still push down to the parquet scan and
  projections above it prune columns through the window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from window_aggregation_spark.errors import FailureCollector
from window_aggregation_spark.functions.registry import lookup
from window_aggregation_spark.spec import AggregateDef, FrameType, WindowPlan
from window_aggregation_spark.validation import validate_plan

_DECLARED = {
    "int": T.IntegerType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "long": T.LongType(),
}


def _output_field_type(
    agg: AggregateDef, input_schema: T.StructType
) -> T.DataType | None:
    """Declared output type for one aggregate; None = leave Spark's type
    (used only when the input field is absent, which validation rejects)."""
    fdef = lookup(agg.function)
    if fdef.output_type is not None:
        return _DECLARED[fdef.output_type]
    if agg.field and agg.field in input_schema.fieldNames():
        return input_schema[agg.field].dataType
    return None


# Running-aggregate functions the two-phase salted rewrite can compute
# (skew.salted_running_agg), keyed by registry name -> salted agg name.
# Bit-equality of the routed plan with the plain WindowExec is pinned by
# the w_events_running_salted driver oracle and tests/test_skew_advisor.py.
_SALTED_ROUTABLE = {
    "accumulate": "sum",
    "count": "count",
    "min": "min",
    "max": "max",
    "avg": "avg",
    "variance": "var_samp",
    "stddev": "stddev",
}

_SALTED_NUMERIC_ORDER_TYPES = {
    "tinyint", "smallint", "int", "bigint", "float", "double",
}


def _salted_route(
    df: DataFrame, plan: WindowPlan, hints: list | None = None
) -> DataFrame | None:
    """The opt-in advisor-routed plan: when the skew advisor's hints fire
    AND every aggregate is a salted-routable running aggregate over the
    default (running RANGE) frame with one ascending order key, compute
    the plan through :func:`..operators.skew.salted_running_agg` instead
    of a single hot-key-serialized WindowExec. Returns None when the plan
    shape is ineligible or the advisor stays quiet (caller falls through
    to the plain WindowExec). ``hints`` carries an already-computed
    :func:`..plans.advisor.skew_hints` result so ``advise_skew=True``
    plus mitigation runs ONE sampling job, not two."""
    if hints is not None and not hints:
        return None
    from window_aggregation_spark.spec import Direction, FrameType

    spec = plan.spec
    if (
        spec.frame_type is not FrameType.NONE
        or spec.has_interval_frame
        or not spec.partition_by
        or len(spec.order_by) != 1
        or spec.order_by[0].direction is not Direction.ASCENDING
    ):
        return None
    mapped = []
    for agg in plan.aggregates:
        fdef = lookup(agg.function)
        if fdef.name not in _SALTED_ROUTABLE or not agg.field:
            return None
        mapped.append((agg, _SALTED_ROUTABLE[fdef.name]))
    order_field = spec.order_by[0].field
    dtypes = dict(df.dtypes)
    order_dtype = dtypes.get(order_field)
    tmp_order = None
    if order_dtype in _SALTED_NUMERIC_ORDER_TYPES:
        order_col = order_field
    elif order_dtype in ("timestamp", "timestamp_ntz", "date"):
        # chunk boundaries come from approxQuantile (numeric only);
        # unix_micros is a monotone tie-preserving map, so RANGE peer
        # groups are preserved exactly.
        tmp_order = "__salted_order_us"
        if tmp_order in df.columns:  # collision — bail to the plain plan
            return None
        df = df.withColumn(
            tmp_order, F.unix_micros(F.col(order_field).cast("timestamp"))
        )
        order_col = tmp_order
    else:
        return None

    if hints is None:
        from window_aggregation_spark.plans.advisor import skew_hints

        hints = skew_hints(df, plan)
    if not hints:
        return None

    from window_aggregation_spark.operators.skew import (
        chunk_boundaries,
        salted_running_agg,
    )

    # one approxQuantile pass shared by every routed aggregate (they all
    # chunk on the same order column)
    bounds = chunk_boundaries(df, order_col)
    out = df
    for agg, salted_name in mapped:
        out = salted_running_agg(
            out, list(spec.partition_by), order_col, agg.field,
            agg=salted_name, alias=agg.alias, boundaries=bounds,
        )
        declared = _output_field_type(agg, df.schema)
        if declared is not None:
            out = out.withColumn(agg.alias, F.col(agg.alias).cast(declared))
    if tmp_order is not None:
        out = out.drop(tmp_order)
    if plan.declared_schema is not None:
        out = out.select(*[F.col(name) for name in plan.declared_schema])
    else:
        # match the plain path's contract exactly: input fields in input
        # order (salted_running_agg's join re-orders join keys first),
        # then the appended alias fields; an alias replacing an input
        # column keeps that column's position, like withColumn does
        base = [c for c in df.columns if c != tmp_order]
        appended = [
            a.alias
            for a, _ in mapped
            if a.alias not in base
        ]
        seen: set = set()
        appended = [a for a in appended if not (a in seen or seen.add(a))]
        out = out.select(*base, *appended)
    if plan.spec.num_partitions:
        out = out.repartition(plan.spec.num_partitions)
    return out


def window_aggregate(
    df: DataFrame,
    plan: WindowPlan,
    *,
    validate: bool = True,
    percentile_strategy: str = "rank_lookup",
    advise_skew: bool = False,
    skew_mitigation: str | None = None,
) -> DataFrame:
    """Apply a :class:`WindowPlan` to ``df`` and return the widened DataFrame.

    ``advise_skew=True`` additionally runs :func:`..plans.advisor.skew_hints`
    (a bounded sampling job) and warns when the partition keys' distinct
    count sits below the parallelism — the serial-at-scale running-window
    shape. Opt-in: data-touching work stays out of the default plan build.

    ``skew_mitigation="salted"`` closes that loop: the advisor runs and,
    when its hints fire AND the plan is an eligible running-aggregate
    shape (every aggregate in accumulate/count/min/max/avg/variance/
    stddev, default frame, one ascending numeric-or-timestamp order key),
    the plan executes through the bit-equal two-phase
    :func:`..operators.skew.salted_running_agg` rewrite (~chunks-way
    parallel per hot key) instead of one WindowExec task per key. Quiet
    advisor or ineligible shape falls through to the plain plan
    unchanged; each routed aggregate runs its own two-phase pass, so
    prefer one or few aggregates on this path. Like ``advise_skew`` this
    is opt-in because the advisor samples data at plan-build time.

    Aggregates are applied sequentially (``withColumn`` semantics, matching
    the reference's apply loop: a later aggregate reading a replaced column
    sees the replacement). Catalyst's CollapseProject folds the chain into
    one projection, and identical window specs still collapse into a single
    ``WindowExec``.

    ``percentile_strategy`` picks the physical plan for MEDIAN /
    DISCRETE_PERCENTILE over running frames ordered by their own field:

    - ``"rank_lookup"`` (default): the O(1)/row fused rank lookup —
      consecutive percentiles over the same field share one count/rank
      window and one request/value generator, then take one last-value
      lookup window each; one key-only shuffle, flat memory, the shape
      that survives hot partitions at 100 TB.
    - ``"one_pass"``: the single-WindowExec composition (Hive
      ``percentile`` / collect_list) — also one shuffle, but O(frame)
      memory per row. An EXPLICIT caller assertion that frames stay small
      (thousands of rows, not millions); deliberately not a silent
      stats-based guess, because plan stability matters more than a
      micro-win when the estimate is wrong.

    Results are bit-identical either way
    (tests/test_percentile_rank_join.py pins it).
    """
    if percentile_strategy not in ("rank_lookup", "one_pass"):
        raise ValueError(
            f"percentile_strategy must be 'rank_lookup' or 'one_pass', "
            f"got {percentile_strategy!r}"
        )
    if validate:
        collector = FailureCollector()
        validate_plan(df.schema, plan, collector)
        collector.get_or_throw()
    hints = None
    if advise_skew:
        import warnings

        from window_aggregation_spark.plans.advisor import skew_hints

        # computed once and handed to the salted route below, so
        # advise_skew + skew_mitigation costs ONE sampling job
        hints = skew_hints(df, plan)
        for hint in hints:
            warnings.warn(hint, stacklevel=2)
    if skew_mitigation is not None:
        if skew_mitigation != "salted":
            raise ValueError(
                f"unknown skew_mitigation {skew_mitigation!r} "
                f"(supported: 'salted')"
            )
        routed = _salted_route(df, plan, hints=hints)
        if routed is not None:
            return routed

    if plan.spec.has_interval_frame:
        # Time-based RANGE frames exist only in the SQL surface (the
        # DataFrame rangeBetween API takes longs), so route this plan
        # through the generated-SQL backend — same IR, other door.
        import uuid

        from window_aggregation_spark.plans.sql_gen import plan_to_sql

        view = f"__wa_interval_{uuid.uuid4().hex[:12]}"
        df.createOrReplaceTempView(view)
        out = df.sparkSession.sql(
            plan_to_sql(plan, view, df.columns, input_types=dict(df.dtypes))
        )
        if plan.spec.num_partitions:
            out = out.repartition(plan.spec.num_partitions)
        return out

    from window_aggregation_spark.plans.rewrites import reverse_unbounded_following

    plan = reverse_unbounded_following(plan)
    w = plan.spec.to_spark()

    out = df
    # consecutive rank-lookup aggregates, fused into ONE lookup plan
    group: list = []
    for agg in plan.aggregates:
        fdef = lookup(agg.function)
        declared = _output_field_type(agg, df.schema)
        if (
            percentile_strategy == "rank_lookup"
            and fdef.name in _RANK_LOOKUP_FUNCTIONS
            and _rank_lookup_applies(plan.spec, agg)
        ):
            # (aliases are unique within a plan: WindowPlan rejects repeats)
            group.append((agg, declared))
            if agg.alias == agg.field or agg.alias in plan.spec.partition_by:
                # later aggregates must read the replaced column
                out = _percentile_rank_lookup(out, plan.spec, group)
                group = []
            continue
        if group:
            out = _percentile_rank_lookup(out, plan.spec, group)
            group = []
        if (
            percentile_strategy == "rank_lookup"
            and fdef.name == "count_distinct"
            and plan.spec.frame_type is FrameType.NONE
        ):
            out = _count_distinct_flag_sum(out, plan.spec, agg)
            continue
        col = fdef.build(agg, w, plan.spec)
        if declared is not None:
            col = col.cast(declared)
        out = out.withColumn(agg.alias, col)
    if group:
        out = _percentile_rank_lookup(out, plan.spec, group)

    if plan.declared_schema is not None:
        # project/reorder to the user-pinned output schema (reference O3,
        # RowToRecord.java:44-48) — also lets Catalyst prune unused inputs.
        out = out.select(*[F.col(name) for name in plan.declared_schema])

    if plan.spec.num_partitions:
        out = out.repartition(plan.spec.num_partitions)
    return out


def window_aggregate_multi(
    df: DataFrame,
    plans: "list[WindowPlan] | tuple[WindowPlan, ...]",
    *,
    validate: bool = True,
    declared_schema: "tuple[str, ...] | None" = None,
    percentile_strategy: str = "rank_lookup",
) -> DataFrame:
    """Apply several :class:`WindowPlan`\\ s, appending every plan's aggregate
    columns — the multi-spec extension of the reference's one-spec operator
    (each aggregate group can have its own partition/order/frame).

    Semantics are sequential: a later plan may read an earlier plan's output
    column (withColumn chaining, exactly like aggregates within one plan).
    ``declared_schema`` projects/reorders the combined output at the end.

    Scale shape: Catalyst plans one ``WindowExec`` per distinct window spec,
    and ADJACENT specs sharing partition keys reuse a single hash exchange
    (the second spec adds only an in-partition sort — ``EnsureRequirements``
    sees its ``HashPartitioning`` already satisfied). So plans are stably
    regrouped to make same-partition-key specs adjacent: N plans over K
    distinct key sets cost K shuffles, not N. The regroup is skipped — order
    preserved — whenever any plan reads a column another plan produces,
    produces an alias another plan also produces, or pins its own
    ``declared_schema`` (all three make order observable).
    """
    ordered = _group_plans_by_partition_keys(list(plans))
    out = df
    for plan in ordered:
        out = window_aggregate(
            out, plan, validate=validate,
            percentile_strategy=percentile_strategy,
        )
    if declared_schema is not None:
        out = out.select(*[F.col(name) for name in declared_schema])
    return out


def _group_plans_by_partition_keys(plans: "list[WindowPlan]") -> "list[WindowPlan]":
    """Stable regroup of plans by partition-key tuple (first-occurrence
    order), only when reordering is unobservable — see caller docstring."""
    produced: list[set[str]] = [
        {a.alias for a in p.aggregates} for p in plans
    ]
    from window_aggregation_spark.functions.registry import consumed_columns

    consumed: list[set[str]] = []
    for p in plans:
        fields: set[str] = set()
        for a in p.aggregates:
            # consumed_columns includes column-valued args (corr/covar read
            # their second field via args[0]) — field alone misses them.
            fields.update(consumed_columns(a))
        fields.update(p.spec.partition_by)
        fields.update(k.field for k in p.spec.order_by)
        consumed.append(fields)
    for i, p in enumerate(plans):
        if p.declared_schema is not None:
            return plans
        for j in range(len(plans)):
            if i == j:
                continue
            if consumed[i] & produced[j] or produced[i] & produced[j]:
                return plans
    order: dict[tuple, int] = {}
    for p in plans:
        order.setdefault(tuple(p.spec.partition_by), len(order))
    return sorted(plans, key=lambda p: order[tuple(p.spec.partition_by)])


# Percentile-family functions with an O(1)/row rank-lookup rewrite for the
# running-frame-ordered-by-own-field shape. (CONTINUOUS_PERCENTILE is
# partition-only in the reference surface — ordering NOT_SUPPORTED — so its
# running shape cannot occur through a validated plan.)
_RANK_LOOKUP_FUNCTIONS = ("discrete_percentile", "median")


def _count_distinct_flag_sum(
    df: DataFrame, spec, agg: AggregateDef
) -> DataFrame:
    """Running exact distinct count with O(1) memory per row.

    The registry composition (collect_list -> array_distinct -> size)
    buffers the whole frame per row — O(frame) memory, fatal on hot
    partitions. This rewrite is flat: a value's FIRST occurrence in
    frame order gets flag 1 (row_number over the partition keys PLUS the
    counted field), then the running distinct count is simply the running
    SUM of flags over the original window — the frame up to any row
    contains exactly one flagged row per distinct value in it. NULLs
    carry flag 0 (COUNT DISTINCT ignores them), and the RANGE running
    frame's peer inclusion works unchanged (a new value first occurring
    inside the current peer group is flagged at order position <= the
    peer bound, so every peer counts it).

    Cost: two WindowExecs — the flag window shuffles on
    (partition keys, field), the sum reuses the plan's own window. Same
    ``percentile_strategy`` knob as the rank-lookup percentiles
    (:func:`_percentile_rank_lookup`):
    ``"one_pass"`` keeps the single-WindowExec composition as an explicit
    small-frame assertion. Results are bit-identical either way
    (tests/test_count_distinct.py pins it)."""
    flag_col = f"__cdf_{agg.alias}"
    if flag_col in df.columns:
        raise ValueError(
            f"temporary column {flag_col!r} collides with an input column"
        )
    from pyspark.sql import Window

    first_w = Window.partitionBy(
        *[F.col(k) for k in spec.partition_by], F.col(agg.field)
    ).orderBy(*[k.to_column() for k in spec.order_by])
    flag = F.when(
        F.col(agg.field).isNotNull() & (F.row_number().over(first_w) == 1),
        F.lit(1),
    ).otherwise(F.lit(0))
    out = df.withColumn(flag_col, flag)
    run = spec.to_spark()
    return out.withColumn(
        agg.alias, F.sum(flag_col).over(run).cast(T.LongType())
    ).drop(flag_col)


def _rank_lookup_applies(spec, agg: AggregateDef) -> bool:
    """Whether the rank-lookup rewrite applies: default frame, ordered by
    exactly the aggregated field (so each row's frame is a sorted prefix —
    ascending — or suffix — descending — of the partition's value
    multiset)."""
    return (
        spec.frame_type is FrameType.NONE
        and len(spec.order_by) == 1
        and spec.order_by[0].field == agg.field
    )


def _percentile_rank_lookup(
    df: DataFrame,
    spec,
    group: "list[tuple[AggregateDef, T.DataType | None]]",
) -> DataFrame:
    """Percentiles over a running frame ordered by the aggregated field,
    without materializing per-row arrays or per-row sort buffers.

    ``group`` is a run of consecutive MEDIAN / DISCRETE_PERCENTILE
    aggregates (with their declared output types) over the same field,
    partition keys and direction; the whole run costs one plan.

    When the frame is the sorted prefix (ascending) of the partition, the
    k-th smallest frame value is simply the partition row with rank k
    under the same ordering; descending is symmetric — the k-th smallest
    of a sorted SUFFIX of size n is the row with descending rank
    n - k + 1. The RANGE running non-null count n (peers included, which
    is what makes the rank set equal the frame multiset even under ties)
    gives each row the rank it needs; the ROWS running non-null count
    gives each non-null value its own rank 1..N. O(1) memory per row —
    versus the general composition's O(frame) per row (collect_list for
    DISCRETE_PERCENTILE, Hive percentile's accumulate-and-sort for
    MEDIAN — at 100 TB the O(frame) versions die on hot partitions while
    this stays flat).

    DISCRETE_PERCENTILE needs one rank (k = max(ceil(p*n), 1)). MEDIAN
    interpolates between two adjacent ranks (0-based pos = p*(n-1),
    lo = floor(pos), hi = ceil(pos), result = v_lo + (pos - lo) *
    (v_hi - v_lo) — Hive/Spark `percentile` arithmetic exactly); since hi
    is always lo or lo+1, each value carries its ADJACENT value (lead, or
    lag descending) and the interpolation costs nothing extra.

    The rank LOOKUP is the union + running-last-value trick of
    :mod:`.asof_join`, with the union done by a generator instead of a
    second branch:

    - ONE window pass over the plan's only exchange (partition keys)
      computes n, the value rank and the adjacent value together.
    - ONE ``inline`` turns every row into a "request" row (its rank per
      aggregate) plus, when the field is non-null, a "value" row
      (rank -> value). The input columns stay OUTER columns of the
      generator, so the partition keys keep their attributes and the
      window pass's hash partitioning carries through: no second scan,
      no second exchange.
    - per aggregate, ``last_value(ignoreNulls)`` ordered by (rank, side)
      within the partition keys: every rank 1..N exists exactly once on
      the value side, so at a request row it is exactly the value at the
      requested rank. Each adds an in-partition sort, not a shuffle.
    """
    from pyspark.sql import Window

    from window_aggregation_spark.spec import Direction

    keys = list(spec.partition_by)
    field = group[0][0].field
    desc = spec.order_by[0].direction is Direction.DESCENDING
    ftype = df.schema[field].dataType
    # MEDIAN interpolates; DISCRETE_PERCENTILE reads one rank
    interp = [lookup(a.function).name == "median" for a, _ in group]
    clash = [c for c in df.columns if c.startswith("__pr_")]
    if clash:
        raise ValueError(
            f"input columns {clash} collide with the temporary '__pr_' prefix"
        )

    # ---- one window pass: request count, value rank, adjacent value ------
    w = spec.to_spark()
    n = F.count(field).over(w)
    # ROWS-frame count: each non-null row increments by one -> distinct
    # ranks 1..N even under ties (a tie group's arbitrary internal order is
    # invisible since peers share the value)
    vrank = F.count(field).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the (k+1)-th smallest sits one row AWAY in the partition order: +1
    # ascending, -1 descending. null only at rank N — unused there, since
    # hi > lo requires lo < n.
    adjacent = (F.lag if desc else F.lead)(field).over(w)
    counted = df.select(
        *df.columns,
        n.alias("__pr_n"),
        vrank.alias("__pr_vrank"),
        adjacent.alias("__pr_adj"),
    )

    # ---- one generator: request row + (non-null) value row per input row
    nc = F.col("__pr_n")
    request, value = [F.lit(1).alias("__pr_side")], [F.lit(0).alias("__pr_side")]
    for j, ((agg, _), interpolated) in enumerate(zip(group, interp)):
        if interpolated:
            # 0-based position, exactly Spark's `percentile` arithmetic
            pos = F.lit(0.5) * (nc - 1).cast("double")
            lo = F.floor(pos).cast("long")
            rank = lo + 1
            request.append((pos - lo).alias(f"__pr_frac{j}"))
            value.append(F.lit(0.0).alias(f"__pr_frac{j}"))
        else:
            p = float(agg.args[0])
            rank = F.greatest(F.ceil(F.lit(p) * nc), F.lit(1)).cast("long")
        # null rank when the frame holds no non-null value -> null result
        oriented = (nc - rank + 1) if desc else rank
        request.append(F.when(nc > 0, oriented).alias(f"__pr_rk{j}"))
        value.append(F.col("__pr_vrank").alias(f"__pr_rk{j}"))
    request.append(F.lit(None).cast(ftype).alias("__pr_val"))
    value.append(F.col(field).alias("__pr_val"))
    if any(interp):
        request.append(F.lit(None).cast(ftype).alias("__pr_adj"))
        value.append(F.col("__pr_adj").alias("__pr_adj"))
    rows = counted.select(
        *df.columns,
        F.inline(F.array(
            F.struct(*request),
            F.when(F.col(field).isNotNull(), F.struct(*value)),
        )),
    )

    # ---- rank lookup: one last(ignoreNulls) window per aggregate ----------
    lookups, results = [], {}
    for j, ((agg, declared), interpolated) in enumerate(zip(group, interp)):
        wq = (
            Window.partitionBy(*keys)
            .orderBy(F.col(f"__pr_rk{j}").asc_nulls_first(), F.col("__pr_side"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        lookups.append(
            F.last("__pr_val", ignorenulls=True).over(wq).alias(f"__pr_mv{j}")
        )
        if interpolated:
            lookups.append(
                F.last("__pr_adj", ignorenulls=True).over(wq).alias(f"__pr_ma{j}")
            )
            frac = F.col(f"__pr_frac{j}")
            v_lo = F.col(f"__pr_mv{j}").cast("double")
            v_hi = F.when(
                frac > 0, F.col(f"__pr_ma{j}").cast("double")
            ).otherwise(v_lo)
            val = (v_lo + frac * (v_hi - v_lo)).cast(
                declared if declared is not None else T.DoubleType()
            )
        else:
            val = F.col(f"__pr_mv{j}")
            if declared is not None:
                val = val.cast(declared)
        results[agg.alias] = val.alias(agg.alias)
    resolved = rows.select("*", *lookups).where(F.col("__pr_side") == 1)
    return resolved.select(
        *[results.pop(c, c) for c in df.columns], *results.values()
    )


def derive_output_schema(
    input_schema: T.StructType, plan: WindowPlan
) -> T.StructType:
    """Compute the expected output schema without executing (the design-time
    contract, reference ``WindowAggregation.java:361-371``): input fields in
    order — alias collisions replaced — plus appended nullable alias fields."""
    alias_types: dict[str, T.DataType] = {}
    for agg in plan.aggregates:
        declared = _output_field_type(agg, input_schema)
        if declared is None:
            raise ValueError(
                f"Cannot derive output type for aggregate '{agg.alias}': "
                f"field '{agg.field}' not in input schema."
            )
        alias_types[agg.alias] = declared

    fields: list[T.StructField] = []
    for f in input_schema.fields:
        if f.name in alias_types:
            fields.append(T.StructField(f.name, alias_types.pop(f.name), True))
        else:
            fields.append(f)
    for agg in plan.aggregates:
        if agg.alias in alias_types:
            fields.append(T.StructField(agg.alias, alias_types[agg.alias], True))

    if plan.declared_schema is not None:
        by_name = {f.name: f for f in fields}
        fields = [by_name[name] for name in plan.declared_schema]
    return T.StructType(fields)
