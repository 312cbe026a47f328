"""The window-function registry: all 14 functions of the reference surface.

Each entry declares (mirroring the reference ``Function`` enum,
``WindowAggregationConfig.java:318-402``):

- clause constraints for partitionBy / orderBy / frame (enforced by the
  validator, ``WindowAggregation.java:213-270``),
- the numeric-input constraint where the reference has one
  (``numericSchema()`` = INT|LONG|FLOAT|DOUBLE, ``WindowAggregationConfig.java:111-114``;
  we additionally accept short/byte/decimal as a superset),
- the declared output type ('int', 'float', 'double', or ``None`` =
  input-type passthrough, matching ``Function.getOutputSchema`` semantics),
- one SQL renderer, the function's only expression builder: the
  DataFrame backend runs its ``spark``-dialect text through ``F.expr``
  and the generated-SQL backend splices the same text into one SELECT
  (the reference's one-IR, two-output design,
  ``WindowAggregation.java:663-686``); the ``ansi`` dialect serves the
  DuckDB cross-checks.

All renderers produce pure built-in Catalyst expressions — no Python UDFs,
so every function stays JVM-side inside ``WindowExec`` / whole-stage
codegen. Numeric arguments are rendered from their parsed values, never
the config text. The single genuinely custom function, DISCRETE_PERCENTILE
(reference UDAF ``function/DiscretePercentile.java:40-168``), is composed
from builtins; see :func:`_sql_discrete_percentile` below. The reference's
BigQuery templates are a separate renderer, :func:`bigquery_expression`.
"""

from __future__ import annotations

from dataclasses import dataclass
from enum import Enum
from typing import Callable

from pyspark.sql import types as T

from window_aggregation_spark.spec import AggregateDef, quote_ident

# The reference's "numeric" union INT/LONG/FLOAT/DOUBLE plus the natural
# Spark superset (short/byte/decimal) — SURVEY §1.3.
NUMERIC_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)


# The declared output types a registry entry can name (``output_type``);
# the cast renders their SQL name, the design-time schema the type itself.
OUTPUT_TYPES = {
    "int": T.IntegerType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "long": T.LongType(),
}


class Clause(Enum):
    REQUIRED = "required"
    OPTIONAL = "optional"
    NOT_SUPPORTED = "not_supported"


def _effective_ignore_nulls(agg: AggregateDef) -> bool:
    """FIRST/LAST quirk: args[0], when present, is OR-ed into the spec-level
    ignoreNulls flag (``WindowsAggregationUtil.java:158-171``)."""
    from_args = bool(agg.args) and agg.args[0].strip().lower() == "true"
    return agg.ignore_nulls or from_args


def _int_arg(agg: AggregateDef) -> int:
    if not agg.args:
        raise ValueError(f"Function '{agg.function}' requires an integer argument.")
    return int(agg.args[0].strip())


def _float_arg(agg: AggregateDef) -> float:
    return float(agg.args[0].strip())


def double_sql(p: float, dialect: str = "spark") -> str:
    # Spark SQL reads a bare 0.07 as a DECIMAL literal and computes
    # ceil(0.07 * 100) = 7 exactly; the D suffix keeps the double arithmetic
    # (ceil(7.000000000000001) = 8) of every other percentile path
    return f"{p!r}D" if dialect == "spark" else repr(p)


# --------------------------------------------------------------------------
# SQL renderers.  Signature: (agg, over_sql, dialect) -> str expression.
# (mirrors reference O12, WindowAggregation.java:631-661)
# --------------------------------------------------------------------------

def _sql_simple(
    template: str, p: float | None = None
) -> Callable[[AggregateDef, str, str], str]:
    """``template`` + OVER: ``{field}`` is the quoted field, ``{n}`` the
    integer argument and ``{p}`` the fraction argument (or the fixed ``p``)."""

    def render(agg: AggregateDef, over: str, dialect: str) -> str:
        values = {"field": quote_ident(agg.field, dialect) if agg.field else ""}
        if "{n}" in template:
            values["n"] = _int_arg(agg)
        if "{p}" in template:
            values["p"] = double_sql(_float_arg(agg) if p is None else p, dialect)
        return f"{template.format(**values)} {over}"

    return render


def _sql_count_distinct(agg: AggregateDef, over: str, dialect: str) -> str:
    """Running exact distinct count. Neither Spark nor BigQuery allows
    DISTINCT inside an analytic aggregate, so Spark gets collect_list ->
    array_distinct -> size (collect_list skips NULLs, so NULL values are
    ignored exactly like COUNT(DISTINCT col)).

    This composition holds O(frame) per row — fine for small frames; for
    running frames :func:`..operators.window_aggregation.window_aggregate`
    rewrites it by default into the flat-memory first-occurrence-flag +
    running-sum plan (``_count_distinct_flag_sum``; the same flat-memory
    trade as the percentiles' fused rank lookup,
    ``_percentile_rank_lookup``; results bit-identical, pinned by
    tests/test_count_distinct.py)."""
    field = quote_ident(agg.field, dialect)
    if dialect == "ansi":
        # ANSI engines (DuckDB among them) allow DISTINCT in analytic
        # aggregates directly — Spark is the one that needs the
        # composition
        return f"COUNT(DISTINCT {field}) {over}"
    # OVER binds to the inner collect_list — size/array_distinct are
    # plain scalar calls on the windowed array
    return f"size(array_distinct(collect_list({field}) {over}))"


def _sql_first_last(name: str) -> Callable[[AggregateDef, str, str], str]:
    def render(agg: AggregateDef, over: str, dialect: str) -> str:
        # Spark's own name: `first_value` resolves to the same aggregate
        # but under another name in the plan
        fn = name if dialect == "spark" else f"{name}_value"
        nulls = " IGNORE NULLS" if _effective_ignore_nulls(agg) else ""
        return f"{fn}({quote_ident(agg.field, dialect)}){nulls} {over}"

    return render


def _sql_nth_value(agg: AggregateDef, over: str, dialect: str) -> str:
    nulls = " IGNORE NULLS" if _effective_ignore_nulls(agg) else ""
    field = quote_ident(agg.field, dialect)
    return f"nth_value({field}, {_int_arg(agg)}){nulls} {over}"


def _sql_moment_sums(agg: AggregateDef, over: str, dialect: str):
    """Pairwise-complete power sums for the two-field moments.

    The moments are built from plain window SUMS plus ONE final arithmetic
    expression — not from Spark's native Corr/Covariance co-moment
    aggregates — for two reasons:

    1. **ANSI safety**: native ``corr`` raises DIVIDE_BY_ZERO under ANSI
       mode for empty or zero-variance frames; here every division is
       guarded and evaluates lazily.
    2. **Cross-engine bit-reproducibility**: sums of integral-valued
       doubles are EXACT, hence independent of accumulation order — so any
       engine running this SQL over the same frame gets the identical bit
       pattern. Co-moment (Welford) updates divide at every step and
       diverge ~1e-9 between engines on long frames, which measurably
       straddles rounding grids. Trade-off: the power-sum formula cancels
       catastrophically when |mean| >> stddev — center such inputs first
       (subtract a constant shift; moments are shift-invariant).
    """
    f1 = quote_ident(agg.field, dialect)
    f2 = quote_ident(agg.args[0].strip(), dialect)
    d = "FLOAT64" if dialect == "bigquery" else "DOUBLE"
    x = f"CAST({f1} AS {d})"
    y = f"CAST({f2} AS {d})"
    both = f"{f1} IS NOT NULL AND {f2} IS NOT NULL"
    xv = f"CASE WHEN {both} THEN {x} END"
    yv = f"CASE WHEN {both} THEN {y} END"
    n = f"CAST(count(CASE WHEN {both} THEN 1 END) {over} AS {d})"
    sx = f"sum({xv}) {over}"
    sy = f"sum({yv}) {over}"
    sxx = f"sum(({xv}) * ({xv})) {over}"
    syy = f"sum(({yv}) * ({yv})) {over}"
    sxy = f"sum(({xv}) * ({yv})) {over}"
    return n, sx, sy, sxx, syy, sxy


def _sql_corr(agg: AggregateDef, over: str, dialect: str) -> str:
    n, sx, sy, sxx, syy, sxy = _sql_moment_sums(agg, over, dialect)
    num = f"(({n}) * ({sxy}) - ({sx}) * ({sy}))"
    den = (
        f"(sqrt(({n}) * ({sxx}) - ({sx}) * ({sx})) "
        f"* sqrt(({n}) * ({syy}) - ({sy}) * ({sy})))"
    )
    return f"CASE WHEN {den} > 0 THEN {num} / {den} ELSE NULL END"


def _sql_covar(sample: bool) -> Callable[[AggregateDef, str, str], str]:
    def render(agg: AggregateDef, over: str, dialect: str) -> str:
        n, sx, sy, _sxx, _syy, sxy = _sql_moment_sums(agg, over, dialect)
        num = f"(({n}) * ({sxy}) - ({sx}) * ({sy}))"
        if sample:
            return (
                f"CASE WHEN ({n}) >= 2 THEN {num} / (({n}) * (({n}) - 1)) "
                f"ELSE NULL END"
            )
        return (
            f"CASE WHEN ({n}) >= 1 THEN {num} / (({n}) * ({n})) "
            f"ELSE NULL END"
        )

    return render


def _sql_discrete_percentile(agg: AggregateDef, over: str, dialect: str) -> str:
    """PERCENTILE_DISC: smallest actual value whose cumulative distribution
    within the frame is >= p.

    Matches the reference UDAF's walk over a sorted frequency map
    (``DiscretePercentile.java:142-168``) including null-skipping (``:105-107``
    — ``collect_list`` likewise drops nulls): for the sorted non-null frame
    values v_1..v_n, return v_k with k = max(ceil(p*n), 1); empty frame -> null.

    Composed entirely from builtin Catalyst expressions, so it works over any
    frame (including the running default frame) and — unlike the reference,
    which re-registers its UDAF under one global name
    (``WindowsAggregationUtil.java:113-114``) — multiple percentiles in one
    plan can't clobber each other.

    Scale note: memory is O(frame size) per row. For 100 TB hot partitions use
    the sketch-based alternative ``approx_percentile`` (accepted here as
    function name "approx_discrete_percentile").
    """
    field = quote_ident(agg.field, dialect)
    p = double_sql(_float_arg(agg), dialect)
    # n from count(), not size() of the sorted list: one collect per row
    n = f"count({field}) {over}"
    vals = f"array_sort(collect_list({field}) {over})"
    return f"get({vals}, CAST(greatest(ceil({p} * {n}), 1) AS INT) - 1)"


@dataclass(frozen=True)
class FunctionDef:
    """One registry entry; see module docstring for field meanings."""

    name: str  # engine name (snake_case)
    ref_name: str  # reference enum constant, for spec-string compat
    partitioning: Clause
    ordering: Clause
    frame: Clause
    numeric_input: bool
    output_type: str | None  # 'int'|'float'|'double'|'long'|None(=input passthrough)
    takes_field: bool
    n_args: int  # required positional args (FIRST/LAST optional arg handled ad hoc)
    sql: Callable[[AggregateDef, str, str], str]
    # True when the positional args are COLUMN references (two-field moments:
    # corr/covar take the second column via args[0]). Drives the
    # consumed-column computation for plan-reordering safety checks.
    column_args: bool = False


_R, _O, _N = Clause.REQUIRED, Clause.OPTIONAL, Clause.NOT_SUPPORTED

FUNCTIONS: dict[str, FunctionDef] = {
    f.name: f
    for f in [
        FunctionDef("rank", "RANK", _R, _R, _N, False, "int", False, 0,
                    _sql_simple("rank()")),
        FunctionDef("dense_rank", "DENSE_RANK", _R, _R, _N, False, "int", False, 0,
                    _sql_simple("dense_rank()")),
        # Spark computes double; the reference's declared schema is FLOAT
        # (WindowAggregationConfig.java:332-336) — downcast at the boundary
        FunctionDef("percent_rank", "PERCENT_RANK", _R, _R, _N, False, "float", False, 0,
                    _sql_simple("percent_rank()")),
        FunctionDef("ntile", "N_TILE", _R, _R, _N, True, "int", True, 1,
                    _sql_simple("ntile({n})")),
        FunctionDef("row_number", "ROW_NUMBER", _R, _R, _N, False, "int", False, 0,
                    _sql_simple("row_number()")),
        # exact interpolated percentile at 0.5 — the reference calls Hive's
        # `percentile` UDAF (WindowsAggregationUtil.java:140-141); Spark has
        # it as a native builtin aggregate, usable over a window
        FunctionDef("median", "MEDIAN", _R, _R, _N, False, "double", True, 0,
                    _sql_simple("percentile({field}, {p})", p=0.5)),
        FunctionDef("continuous_percentile", "CONTINUOUS_PERCENTILE", _R, _N, _N,
                    True, "double", True, 1,
                    _sql_simple("percentile({field}, {p})")),
        FunctionDef("discrete_percentile", "DISCRETE_PERCENTILE", _R, _R, _N,
                    True, None, True, 1, _sql_discrete_percentile),
        # ordering OPTIONAL (unlike exact DISCRETE_PERCENTILE's REQUIRED):
        # a sketch is order-free, and the partition-only shape — one
        # mergeable sketch per partition, one evaluate — is the 100 TB
        # form. Ordered specs still work (running sketch) but pay a
        # per-row evaluate; prefer partition-only.
        FunctionDef("approx_discrete_percentile", "APPROX_DISCRETE_PERCENTILE",
                    _R, _O, _N, True, None, True, 1,
                    _sql_simple("approx_percentile({field}, {p}, 10000)")),
        FunctionDef("lead", "LEAD", _R, _R, _N, False, None, True, 1,
                    _sql_simple("lead({field}, {n})")),
        FunctionDef("lag", "LAG", _R, _R, _N, False, None, True, 1,
                    _sql_simple("lag({field}, {n})")),
        FunctionDef("first", "FIRST", _R, _R, _O, False, None, True, 0,
                    _sql_first_last("first")),
        FunctionDef("last", "LAST", _R, _R, _O, False, None, True, 0,
                    _sql_first_last("last")),
        FunctionDef("cume_dist", "CUMULATIVE_DISTRIBUTION", _R, _R, _N,
                    True, "double", True, 0, _sql_simple("cume_dist()")),
        # running / framed SUM; output type = input type per the reference's
        # schema passthrough (Spark widens int->long, cast back at the edge)
        FunctionDef("accumulate", "ACCUMULATE", _R, _O, _O, True, None, True, 0,
                    _sql_simple("sum({field})")),
        # extension aggregates (not in the reference's enum)
        FunctionDef("min", "MIN", _R, _O, _O, False, None, True, 0,
                    _sql_simple("min({field})")),
        FunctionDef("max", "MAX", _R, _O, _O, False, None, True, 0,
                    _sql_simple("max({field})")),
        FunctionDef("avg", "AVG", _R, _O, _O, True, "double", True, 0,
                    _sql_simple("avg({field})")),
        FunctionDef("count", "COUNT", _R, _O, _O, False, "long", True, 0,
                    _sql_simple("count({field})")),
        # HyperLogLog++ sketch — the fixed-memory cardinality path for 100 TB
        FunctionDef("approx_count_distinct", "APPROX_COUNT_DISTINCT",
                    _R, _O, _O, False, "long", True, 0,
                    _sql_simple("approx_count_distinct({field})")),
        # exact distinct count; ordering REQUIRED / frame NOT_SUPPORTED =
        # the running shape only (the partition-wide exact count is a
        # plain groupBy, and windowed DISTINCT frames beyond running
        # prefixes have no flat-memory plan)
        FunctionDef("count_distinct", "COUNT_DISTINCT",
                    _R, _R, _N, False, "long", True, 0, _sql_count_distinct),
        FunctionDef("nth_value", "NTH_VALUE", _R, _R, _O, False, None, True, 1,
                    _sql_nth_value),
        FunctionDef("stddev", "STDDEV", _R, _O, _O, True, "double", True, 0,
                    _sql_simple("stddev_samp({field})")),
        FunctionDef("variance", "VARIANCE", _R, _O, _O, True, "double", True, 0,
                    _sql_simple("var_samp({field})")),
        # two-field moments: field = first column, args[0] = second column
        FunctionDef("corr", "CORR", _R, _O, _O, True, "double", True, 1,
                    _sql_corr, column_args=True),
        FunctionDef("covar_samp", "COVAR_SAMP", _R, _O, _O, True, "double",
                    True, 1, _sql_covar(sample=True), column_args=True),
        FunctionDef("covar_pop", "COVAR_POP", _R, _O, _O, True, "double",
                    True, 1, _sql_covar(sample=False), column_args=True),
    ]
}

# reference-enum-name -> engine name, for the string-spec parser
REF_NAME_TO_NAME: dict[str, str] = {f.ref_name: f.name for f in FUNCTIONS.values()}


def bigquery_expression(agg: AggregateDef, over: str) -> str:
    """BigQuery Standard SQL rendering of one aggregate — the reference's
    warehouse-pushdown templates reproduced exactly (``functionBQSqlMap``,
    ``WindowAggregation.java:75-93``; arg handling
    ``getColumnSelectionExpression`` ``:631-661``; string-asserted in
    ``WindowAggregationTest.java:193-343``):

    - ``FIRST``/``LAST`` render the RESPECT/IGNORE NULLS keyword INSIDE the
      parens (``FIRST_VALUE(col IGNORE NULLS)``), with the same
      "config flag OR literal-true args[0]" quirk as the Spark renderer.
    - ``MEDIAN`` -> ``PERCENTILE_CONT(col, 0.5)``; the percentiles pass
      ``args[0]`` through verbatim (``PERCENTILE_CONT(col, 0.1234)``).
    - No boundary casts: like the reference's pushdown, results carry
      BigQuery-native types (INT64/FLOAT64), not the declared output
      schema.

    Extension functions (not in the reference enum) get the closest
    BigQuery analytic form; the two-field moments reuse the shared
    power-sum rendering with FLOAT64 casts."""
    fdef = lookup(agg.function)
    col = quote_ident(agg.field, "bigquery") if agg.field else ""
    args = [a.strip() for a in agg.args]
    a0 = args[0] if args else ""
    name = fdef.name
    if name in ("corr", "covar_samp", "covar_pop"):
        return fdef.sql(agg, over, "bigquery")
    if name in ("first", "last"):
        kw = "FIRST_VALUE" if name == "first" else "LAST_VALUE"
        nulls = "IGNORE" if _effective_ignore_nulls(agg) else "RESPECT"
        return f"{kw}({col} {nulls} NULLS) {over}"
    if name == "count_distinct":
        # BigQuery also rejects DISTINCT in analytic aggregates; count
        # distinct over the frame's ARRAY_AGG (OVER binds to ARRAY_AGG;
        # the UNNEST alias deliberately avoids shadowing column names)
        return (
            f"(SELECT COUNT(DISTINCT __u) FROM "
            f"UNNEST(ARRAY_AGG({col}) {over}) __u)"
        )
    if name == "nth_value":
        nulls = " IGNORE NULLS" if _effective_ignore_nulls(agg) else ""
        return f"NTH_VALUE({col}, {a0}{nulls}) {over}"
    templates = {
        "rank": "RANK()",
        "dense_rank": "DENSE_RANK()",
        "percent_rank": "PERCENT_RANK()",
        "row_number": "ROW_NUMBER()",
        "cume_dist": "CUME_DIST()",
        "ntile": f"NTILE({a0})",
        "median": f"PERCENTILE_CONT({col}, 0.5)",
        "continuous_percentile": f"PERCENTILE_CONT({col}, {a0})",
        "discrete_percentile": f"PERCENTILE_DISC({col}, {a0})",
        # closest BQ analytic form; the sketch semantics are Spark-side only
        "approx_discrete_percentile": f"PERCENTILE_DISC({col}, {a0})",
        "lead": f"LEAD({col}, {a0})",
        "lag": f"LAG({col}, {a0})",
        "accumulate": f"SUM({col})",
        "min": f"MIN({col})",
        "max": f"MAX({col})",
        "avg": f"AVG({col})",
        "count": f"COUNT({col})",
        "approx_count_distinct": f"APPROX_COUNT_DISTINCT({col})",
        "stddev": f"STDDEV_SAMP({col})",
        "variance": f"VAR_SAMP({col})",
    }
    return f"{templates[name]} {over}"


def consumed_columns(agg: AggregateDef) -> set[str]:
    """Every input column one aggregate reads: its field plus any
    column-valued positional args (``column_args`` registry flag — the
    two-field moments' second column lives in ``args[0]``). Used by the
    plan-order rule :func:`..plans.sql_gen.order_conflict` and
    ``plans_to_sql``'s within-plan check."""
    fdef = lookup(agg.function)
    fields: set[str] = {agg.field} if agg.field else set()
    if fdef.column_args:
        fields.update(
            a.strip() for a in agg.args[: fdef.n_args] if a and a.strip()
        )
    return fields


def lookup(name: str) -> FunctionDef:
    """Resolve by engine name or reference enum name (case-insensitive)."""
    key = name.strip().lower()
    if key in FUNCTIONS:
        return FUNCTIONS[key]
    ref = name.strip().upper()
    if ref in REF_NAME_TO_NAME:
        return FUNCTIONS[REF_NAME_TO_NAME[ref]]
    raise KeyError(
        f"Unknown window function '{name}'. Known: {sorted(FUNCTIONS)} "
        f"(or reference names {sorted(REF_NAME_TO_NAME)})."
    )
