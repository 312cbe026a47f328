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
- Every expression is SQL text: each aggregate is ``F.expr`` of the
  registry's Spark-dialect rendering, cast included
  (:func:`..plans.sql_gen.aggregate_sql`), over the spec's ``OVER (...)``
  clause — interval RANGE frames included — so the DataFrame and
  generated-SQL backends share one builder, and Catalyst plans the text
  exactly as it planned the equivalent Column calls, for a few py4j round
  trips per expression instead of one per Column operation. The rank
  lookup and distinct-count rewrites below are SQL text too.
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
  serializes onto one core. For a running sum/count/min/max/avg/variance/
  stddev over hot keys call :func:`.skew.salted_running_agg` directly
  instead of this operator (bit-equal two-phase chunking: chunk-local
  running aggregate + broadcast chunk offsets, over one ascending numeric
  order column — ``w_events_running_salted`` orders a timestamp by its
  ``unix_micros``; pass one :func:`.skew.chunk_boundaries` result to every
  aggregate salted on the same order column); for whole-partition
  percentiles prefer ``approx_discrete_percentile`` (sketch, fixed memory).
- Everything here is a pure Catalyst expression — no Python in the hot path,
  so filters below this operator still push down to the parquet scan and
  projections above it prune columns through the window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from window_aggregation_spark.errors import FailureCollector
from window_aggregation_spark.functions.registry import (
    OUTPUT_TYPES,
    double_sql,
    lookup,
)
from window_aggregation_spark.plans.rewrites import reverse_unbounded_following
from window_aggregation_spark.plans.sql_gen import (
    aggregate_sql,
    cast_types,
    declared_type,
    order_conflict,
)
from window_aggregation_spark.spec import (
    CURRENT_ROW,
    UNBOUNDED_PRECEDING,
    AggregateDef,
    Direction,
    FrameType,
    OrderKey,
    WindowPlan,
    WindowSpecDef,
    quote_ident,
)
from window_aggregation_spark.validation import validate_plan


def window_aggregate(
    df: DataFrame,
    plan: WindowPlan,
    *,
    validate: bool = True,
) -> DataFrame:
    """Apply a :class:`WindowPlan` to ``df`` and return the widened DataFrame.

    Aggregates are applied sequentially (``withColumn`` semantics, matching
    the reference's apply loop: a later aggregate reading a replaced column
    sees the replacement; :func:`..plans.sql_gen.plan_to_sql` refuses such
    a plan). Catalyst's CollapseProject folds the chain into
    one projection, and identical window specs still collapse into a single
    ``WindowExec``.

    MEDIAN / DISCRETE_PERCENTILE over running frames ordered by their own
    field take the O(1)/row fused rank lookup: consecutive percentiles
    over the same field share one count/rank window and one
    request/value generator, then take one last-value lookup window
    each; one key-only shuffle, flat memory, the shape that survives hot
    partitions at 100 TB. Results are bit-identical to the registry's
    single-WindowExec composition (Hive ``percentile`` / collect_list,
    O(frame) memory per row) that :func:`..plans.sql_gen.plan_to_sql`
    renders (tests/test_percentile_rank_join.py pins it).
    """
    if validate:
        collector = FailureCollector()
        validate_plan(df.schema, plan, collector)
        collector.get_or_throw()
    plan = reverse_unbounded_following(plan)
    over = plan.spec.over_sql()
    # the input's types, for the declared-type casts (withColumn semantics
    # read replaced columns, but cast to the input field's type)
    input_types = cast_types(df)

    out = df
    # consecutive rank-lookup aggregates, fused into ONE lookup plan
    group: list = []
    for agg in plan.aggregates:
        fdef = lookup(agg.function)
        if (
            fdef.name in _RANK_LOOKUP_FUNCTIONS
            and _rank_lookup_applies(plan.spec, agg)
        ):
            # (aliases are unique within a plan: WindowPlan rejects repeats)
            group.append((agg, declared_type(agg, input_types)))
            if agg.alias == agg.field or agg.alias in plan.spec.partition_by:
                # later aggregates must read the replaced column
                out = _percentile_rank_lookup(out, plan.spec, group)
                group = []
            continue
        if group:
            out = _percentile_rank_lookup(out, plan.spec, group)
            group = []
        if (
            fdef.name == "count_distinct"
            and plan.spec.frame_type is FrameType.NONE
        ):
            out = _count_distinct_flag_sum(out, plan.spec, agg)
            continue
        out = out.withColumn(
            agg.alias, F.expr(aggregate_sql(agg, over, "spark", input_types))
        )
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
        out = window_aggregate(out, plan, validate=validate)
    if declared_schema is not None:
        out = out.select(*[F.col(name) for name in declared_schema])
    return out


def _group_plans_by_partition_keys(plans: "list[WindowPlan]") -> "list[WindowPlan]":
    """Stable regroup of plans by partition-key tuple (first-occurrence
    order), only when reordering is unobservable (:func:`order_conflict`)."""
    if order_conflict(plans) is not None:
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
    (partition keys, field), the sum reuses the plan's own window.
    Results are bit-identical to the registry composition that
    :func:`..plans.sql_gen.plan_to_sql` renders
    (tests/test_count_distinct.py pins it)."""
    flag_col = f"__cdf_{agg.alias}"
    if flag_col in df.columns:
        raise ValueError(
            f"temporary column {flag_col!r} collides with an input column"
        )
    field = quote_ident(agg.field)
    first = WindowSpecDef(
        partition_by=(*spec.partition_by, agg.field), order_by=spec.order_by
    ).over_sql()
    out = df.withColumn(flag_col, F.expr(
        f"CASE WHEN {field} IS NOT NULL AND row_number() {first} = 1 "
        f"THEN 1 ELSE 0 END"
    ))
    total = f"sum({quote_ident(flag_col)}) {spec.over_sql()}"
    return out.withColumn(
        agg.alias, F.expr(f"CAST({total} AS {declared_type(agg, None)})")
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
    group: "list[tuple[AggregateDef, str | None]]",
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
    field = group[0][0].field
    f = quote_ident(field)
    desc = spec.order_by[0].direction is Direction.DESCENDING
    ftype = dict(df.dtypes)[field]
    # MEDIAN interpolates; DISCRETE_PERCENTILE reads one rank
    interp = [lookup(a.function).name == "median" for a, _ in group]
    clash = [c for c in df.columns if c.startswith("__pr_")]
    if clash:
        raise ValueError(
            f"input columns {clash} collide with the temporary '__pr_' prefix"
        )
    cols = [quote_ident(c) for c in df.columns]

    # ---- one window pass: request count, value rank, adjacent value ------
    over = spec.over_sql()
    # ROWS-frame count: each non-null row increments by one -> distinct
    # ranks 1..N even under ties (a tie group's arbitrary internal order is
    # invisible since peers share the value)
    rows_over = spec.rows(UNBOUNDED_PRECEDING, CURRENT_ROW).over_sql()
    # the (k+1)-th smallest sits one row AWAY in the partition order: +1
    # ascending, -1 descending. null only at rank N — unused there, since
    # hi > lo requires lo < n.
    adjacent = "lag" if desc else "lead"
    counted = df.selectExpr(
        *cols,
        f"count({f}) {over} AS __pr_n",
        f"count({f}) {rows_over} AS __pr_vrank",
        f"{adjacent}({f}) {over} AS __pr_adj",
    )

    # ---- one generator: request row + (non-null) value row per input row
    request, value = ["1 AS __pr_side"], ["0 AS __pr_side"]
    for j, ((agg, _), interpolated) in enumerate(zip(group, interp)):
        if interpolated:
            # 0-based position, exactly Spark's `percentile` arithmetic
            pos = "0.5D * CAST(__pr_n - 1 AS DOUBLE)"
            lo = f"CAST(FLOOR({pos}) AS BIGINT)"
            rank = f"{lo} + 1"
            request.append(f"{pos} - {lo} AS __pr_frac{j}")
            value.append(f"0.0D AS __pr_frac{j}")
        else:
            p = double_sql(float(agg.args[0]))
            rank = f"CAST(greatest(ceil({p} * __pr_n), 1) AS BIGINT)"
        # null rank when the frame holds no non-null value -> null result
        oriented = f"__pr_n - ({rank}) + 1" if desc else rank
        request.append(f"CASE WHEN __pr_n > 0 THEN {oriented} END AS __pr_rk{j}")
        value.append(f"__pr_vrank AS __pr_rk{j}")
    request.append(f"CAST(NULL AS {ftype}) AS __pr_val")
    value.append(f"{f} AS __pr_val")
    if any(interp):
        request.append(f"CAST(NULL AS {ftype}) AS __pr_adj")
        value.append("__pr_adj AS __pr_adj")
    rows = counted.selectExpr(*cols, (
        f"inline(array(struct({', '.join(request)}), "
        f"CASE WHEN {f} IS NOT NULL THEN struct({', '.join(value)}) END))"
    ))

    # ---- rank lookup: one last(ignoreNulls) window per aggregate ----------
    lookups, results = [], {}
    for j, ((agg, declared), interpolated) in enumerate(zip(group, interp)):
        wq = WindowSpecDef(
            partition_by=spec.partition_by,
            order_by=(OrderKey(f"__pr_rk{j}"), OrderKey("__pr_side")),
        ).rows(UNBOUNDED_PRECEDING, CURRENT_ROW).over_sql()
        lookups.append(f"last(__pr_val) IGNORE NULLS {wq} AS __pr_mv{j}")
        if interpolated:
            lookups.append(f"last(__pr_adj) IGNORE NULLS {wq} AS __pr_ma{j}")
            v_lo = f"CAST(__pr_mv{j} AS DOUBLE)"
            v_hi = (f"CASE WHEN __pr_frac{j} > 0 "
                    f"THEN CAST(__pr_ma{j} AS DOUBLE) ELSE {v_lo} END")
            val = (f"CAST({v_lo} + __pr_frac{j} * ({v_hi} - {v_lo}) "
                   f"AS {declared or 'DOUBLE'})")
        else:
            val = f"__pr_mv{j}"
            if declared is not None:
                val = f"CAST({val} AS {declared})"
        results[agg.alias] = f"{val} AS {quote_ident(agg.alias)}"
    resolved = rows.selectExpr("*", *lookups).where("__pr_side = 1")
    return resolved.selectExpr(
        *[results.pop(c, quote_ident(c)) for c in df.columns], *results.values()
    )


def derive_output_schema(
    input_schema: T.StructType, plan: WindowPlan
) -> T.StructType:
    """Compute the expected output schema without executing (the design-time
    contract, reference ``WindowAggregation.java:361-371``): input fields in
    order — alias collisions replaced — plus appended nullable alias fields."""
    alias_types: dict[str, T.DataType] = {}
    for agg in plan.aggregates:
        output_type = lookup(agg.function).output_type
        if output_type is not None:
            declared = OUTPUT_TYPES[output_type]
        elif agg.field in input_schema.fieldNames():
            declared = input_schema[agg.field].dataType
        else:
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
