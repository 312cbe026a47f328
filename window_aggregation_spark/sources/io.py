"""Sources and sinks.

The reference plugin is a mid-pipeline transform; CDAP supplies I/O. Its
shipped artifacts exercise CSV (header row, declared schema), `;`-delimited
text, and the driver fixtures are parquet (SURVEY §2.4). Schema is declared,
not inferred, matching the reference's design-time contract — pass a
``StructType`` or DDL string; ``infer_schema=True`` is available for
exploration but is not the production path (a schema inference pass reads
the data twice and can mis-type at scale).

All readers return plain DataFrames, so Catalyst pushdown/pruning applies:
a filter above a :func:`read_parquet` reaches the scan as ``PushedFilters``,
and a narrow projection prunes the read schema.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from window_aggregation_spark.session import checkpoint

SchemaLike = "T.StructType | str | None"


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_parquet_evolved(
    spark: SparkSession, *paths: str, schema: "T.StructType | str | None" = None
) -> DataFrame:
    """Read parquet batches written under EVOLVING schemas as one
    DataFrame: the result schema is the union-by-name of every file's
    schema, with NULLs where a batch lacks a column (the standard
    append-only data-lake evolution contract: columns may be added or
    dropped between batches; same-name type changes still conflict and
    raise).

    Scale note: ``mergeSchema`` makes the DRIVER read every file's
    footer at planning time — fine for thousands of files, a planning
    stall for millions. Past that point pass the known target ``schema``
    explicitly: per-file reconciliation then happens task-side with no
    footer sweep, which is the 100 TB path.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*paths)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    *,
    header: bool = True,
    infer_schema: bool = False,
    delimiter: str = ",",
) -> DataFrame:
    reader = spark.read.option("header", header).option("delimiter", delimiter)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer_schema:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_delimited(
    spark: SparkSession,
    path: str,
    delimiter: str,
    schema: T.StructType | str | None = None,
    *,
    header: bool = True,
) -> DataFrame:
    """The reference's example pipeline reads `;`-delimited GCS text
    (``examples/WindowsSparkAIRealExample-cdap-data-pipeline.json``)."""
    return read_csv(spark, path, schema, header=header, delimiter=delimiter)


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None
) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC — the other columnar format Spark reads natively; same pushdown/
    pruning behavior as parquet (PushedFilters / ReadSchema in the scan)."""
    return spark.read.orc(path)


def spread_target(spark: SparkSession, *paths: str) -> "int | None":
    """Scale-adaptive under-parallelism check for a compute-heavy scan
    (optimization guide §2: derive partitioning from input size, never a
    constant). Returns the partition count a narrow scan should be spread
    to, or None when the scan already parallelizes.

    Spark sizes scan splits by BYTES (``spark.sql.files.maxPartitionBytes``
    with a 4 MB open-cost floor, one row group minimum), which is right
    when scan cost is I/O — but a scan whose per-row COMPUTE dominates
    (regex scoring, shingling, n-gram explode fused into the scan) gets
    one task per ~128 MB of input and leaves the rest of the cluster
    idle whenever the table is small or the files are few. The check is
    pure driver-side arithmetic over on-disk bytes: spread iff the input
    cannot fill ``defaultParallelism`` max-size splits. At 100 TB every
    table is thousands of splits and this is a no-op; at fixture scale
    (one sub-MB file = one task) it unlocks the whole cluster for the
    expensive projection/filter above the scan.
    """
    import os

    if os.environ.get("SPARK_GRAFT_NO_SPREAD") == "1":
        # kill switch: plan-pin tests assert the AT-SCALE shape (where
        # the spread is a no-op by construction) with it
        return None
    def _bytes(conf_key: str, default: str) -> int:
        raw = spark.conf.get(conf_key, default).strip().lower()
        units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
        mult, digits = 1, raw.rstrip("b")
        if digits and digits[-1] in units:
            mult, digits = units[digits[-1]], digits[:-1]
        return int(digits) * mult

    n_files, padded = 0, 0
    open_cost = _bytes("spark.sql.files.openCostInBytes", "4194304")
    for p in paths:
        if os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                for f in files:
                    n_files += 1
                    padded += os.path.getsize(os.path.join(root, f)) + open_cost
        elif os.path.exists(p):
            n_files += 1
            padded += os.path.getsize(p) + open_cost
        else:  # unknown size (object store / missing): leave the scan alone
            return None
    if n_files == 0:
        return None
    par = spark.sparkContext.defaultParallelism
    # Mirror FilePartition.maxSplitBytes: Spark ALREADY shrinks splits to
    # fill the cluster when total/cores is under maxPartitionBytes
    # (bytesPerCore adaptation), so the naive `total < cores x
    # maxPartitionBytes` test over-fires — e.g. a 3.8 GB table on 32
    # cores plans ~34 splits by itself and must not be re-exchanged.
    # What the adaptation canNOT fix is granularity: splits never divide
    # a row group, so one small file still yields ONE task no matter the
    # formula — that is the case the spread exists for.
    max_partition = _bytes("spark.sql.files.maxPartitionBytes", "134217728")
    max_split = min(max_partition, max(open_cost, padded // par or 1))
    est_splits = -(-padded // max_split)  # ceil; Spark packs greedily
    if est_splits >= par:
        return None
    return par


def spread_scan(
    df: DataFrame, n: "int | None", *, barrier: bool = False
) -> DataFrame:
    """Redistribute a narrow scan over ``n`` partitions before expensive
    per-row compute (no-op when ``n`` is None — the at-scale path).

    ``barrier=False`` (default): a plain round-robin repartition. Right
    when the expensive work above is a projection / generator (shingling,
    scoring, token explodes) — those never sink through the exchange —
    and it keeps the relation's lineage, so Catalyst size estimates (and
    therefore broadcast-join choices downstream) are untouched.

    ``barrier=True``: additionally pin the rows behind a lazy
    :func:`..session.checkpoint`. Required when a deterministic *filter*
    consumes the spread rows: ``PushDownPredicates`` has no cost model and
    would push the predicate straight back through the exchange into the
    single-task scan. The cost is that the checkpointed relation loses
    its size statistics (LogicalRDD defaults to "huge", measured to flip
    the minhash verify's broadcast joins to sort-merge — 3.6 s → 9.6 s —
    which is why the barrier is opt-in), and the materialization itself.
    The checkpoint holds only the already-pruned columns and by
    construction only ever fires on inputs too small to fill one
    max-size split per core, so the pinned bytes are bounded by cores x
    ``maxPartitionBytes``.
    """
    if n is None:
        return df
    out = df.repartition(n)
    return checkpoint(out) if barrier else out


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver fixture table (TESTDATA.md layout).

    ``events.ts`` has shipped in two layouts across fixture generations:
    TIMESTAMP(MICROS) (reads natively — as TIMESTAMP_NTZ under a default
    session, matching DuckDB's naive timestamp) and TIMESTAMP(NANOS),
    which Spark has no native type for — with
    ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as nanosecond
    longs, truncated here to microseconds (exactly what DuckDB does when
    it reads the same file). The dtype check handles either.
    """
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def read_table_spread(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    *cols: str,
    barrier: bool = False,
) -> DataFrame:
    """:func:`read_table` + :func:`spread_scan` for the compute-heavy
    text/dedup query paths: project to ``cols`` (so the spread rows carry
    only what the consumer needs) and spread the scan across the cluster
    when — and only when — it is narrower than ``defaultParallelism``
    (see :func:`spread_target`; at production scale this returns the
    plain pruned scan untouched). ``barrier`` as in :func:`spread_scan`:
    set it iff the consumer filters the rows with an expensive
    deterministic predicate."""
    df = read_table(spark, sf_dir, name)
    if cols:
        df = df.select(*cols)
    return spread_scan(
        df, spread_target(spark, f"{sf_dir}/{name}.parquet"), barrier=barrier
    )


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_orc(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    *,
    num_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and sorted) table: later joins/aggregations on
    ``bucket_cols`` between tables bucketed the same way need NO shuffle —
    the physical layout pre-co-locates the keys. The 100 TB pattern for a
    fact table joined repeatedly on the same key; costs one shuffle at write
    time instead of one per query."""
    (
        df.write.mode(mode)
        .bucketBy(num_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .saveAsTable(table)
    )


def write_csv(
    df: DataFrame, path: str, *, mode: str = "overwrite", header: bool = True
) -> None:
    df.write.mode(mode).option("header", header).csv(path)


def write_clustered_parquet(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    *,
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet range-CLUSTERED on ``cluster_by``: rows are range-
    partitioned across files and sorted within each file, so every file
    (and row group) covers a narrow, mostly-disjoint slice of the
    clustering key's domain.

    Why this matters at 100 TB: parquet readers prune row groups (and
    Spark prunes whole files via footer min/max) only when the stats are
    SELECTIVE — a randomly-laid-out table has every file spanning the
    full key range, so ``WHERE ts BETWEEN ...`` still reads everything.
    Clustering by the dominant filter key (event time, almost always)
    turns those filters into I/O skips. This is the single-key version of
    what lakehouse OPTIMIZE/z-order does; for one filter dimension a
    plain range sort is optimal and needs no external library.

    Cost: one range-exchange (samples the key distribution) + an
    in-partition sort at write time. ``num_files`` caps the file count
    (defaults to the session's shuffle partitions).
    """
    if not cluster_by:
        raise ValueError("write_clustered_parquet: cluster_by must be non-empty")
    cols = [F.col(c) for c in cluster_by]
    ranged = (
        df.repartitionByRange(num_files, *cols)
        if num_files
        else df.repartitionByRange(*cols)
    )
    ranged.sortWithinPartitions(*cols).write.mode(mode).parquet(path)


def _zorder_scaled(col: Column, dtype: str) -> Column:
    """Column as double for z-order scaling (timestamps via unix_micros)."""
    if dtype.startswith("timestamp"):
        return F.unix_micros(col.cast("timestamp")).cast("double")
    return col.cast("double")


def zorder_key(
    df: DataFrame, cluster_by: list[str], *, bits: int = 16
) -> DataFrame:
    """Append ``__z``: the Morton (z-order) interleaving of ``cluster_by``,
    each dimension min/max-scaled to ``bits`` bits. Equal z-prefixes mean
    nearby in EVERY dimension, so range-partitioning by ``__z`` clusters
    multi-dimensionally.

    The per-dimension min/max enters as a broadcast cross join of a 1-row
    aggregate — one lazy plan, no driver action; the interleave itself is
    ``bits × |dims|`` shift-and-mask terms, all whole-stage codegen.
    """
    ncols = len(cluster_by)
    if ncols < 2:
        raise ValueError("zorder_key wants >= 2 dimensions; use "
                         "write_clustered_parquet for one")
    if bits * ncols > 62:
        raise ValueError(f"bits*dims = {bits * ncols} exceeds 62 (long)")
    dtypes = dict(df.dtypes)
    stats = df.agg(
        *[
            agg(_zorder_scaled(F.col(c), dtypes[c])).alias(f"__{nm}_{i}")
            for i, c in enumerate(cluster_by)
            for nm, agg in (("mn", F.min), ("mx", F.max))
        ]
    )
    out = df.crossJoin(F.broadcast(stats))
    top = (1 << bits) - 1
    quantized = []
    for i, c in enumerate(cluster_by):
        v = _zorder_scaled(F.col(c), dtypes[c])
        mn, mx = F.col(f"__mn_{i}"), F.col(f"__mx_{i}")
        # degenerate dimension (mx == mn, or all-NULL) quantizes to 0;
        # NULL values sort first (quantile 0)
        q = F.when(
            (mx > mn) & v.isNotNull(),
            F.least(
                F.lit(top),
                F.floor((v - mn) * F.lit(float(1 << bits)) / (mx - mn)),
            ),
        ).otherwise(F.lit(0))
        quantized.append(q)
    z = None
    for b in range(bits):
        for i, q in enumerate(quantized):
            term = F.shiftleft(
                F.shiftright(q, b).bitwiseAND(F.lit(1)), b * ncols + i
            )
            z = term if z is None else z + term
    return out.select(*df.columns, z.alias("__z"))


def write_zordered_parquet(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    *,
    bits: int = 16,
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered on MULTIPLE dimensions at once: rows are
    range-partitioned and sorted by their z-order (Morton) key, so every
    file's footer min/max is narrow in EVERY ``cluster_by`` dimension.

    Why this exists next to :func:`write_clustered_parquet`: single-key
    range clustering makes files selective on that key only — a filter on
    the *second* dimension still reads every file, because each file spans
    that dimension's full domain. Interleaving the bits of k scaled keys
    gives each file a small k-dimensional box instead of a thin slab; a
    filter on ANY clustered dimension then skips most files. This is what
    lakehouse OPTIMIZE ZORDER BY does, built from plain column expressions
    (quantize → shift/mask interleave, all codegen) plus one
    range-exchange at write time — no external library.

    Trade-off vs single-key: per-dimension selectivity drops from ~1/files
    to ~(1/files)^(1/k) — z-order when queries filter on several
    dimensions, range-cluster when one key dominates.
    """
    keyed = zorder_key(df, cluster_by, bits=bits)
    ranged = (
        keyed.repartitionByRange(num_files, "__z")
        if num_files
        else keyed.repartitionByRange("__z")
    )
    ranged.sortWithinPartitions("__z").drop("__z").write.mode(mode).parquet(
        path
    )


def write_compacted_parquet(
    df: DataFrame,
    path: str,
    *,
    target_mb: int = 512,
    parquet_ratio: float = 0.35,
    shuffle: bool = False,
    mode: str = "overwrite",
) -> int:
    """Write parquet with a TARGET FILE SIZE instead of whatever task count
    the upstream plan happened to have — the small-files fix. A 100 TB
    pipeline stage that ends with 200k tiny tasks writes 200k tiny files;
    every downstream scan then pays open/footer costs per file and the
    namenode/listing pays for all of them.

    File count = ``ceil(estimated_bytes * parquet_ratio / target_mb)``,
    where ``estimated_bytes`` comes from Catalyst's optimized-plan
    statistics (free — no extra pass over the data) and ``parquet_ratio``
    is the expected parquet-compression factor versus the in-memory
    estimate (~0.3-0.4 for mixed columnar data; tune per dataset for
    tighter targets).

    ``shuffle=False`` (default) uses ``coalesce`` — no shuffle, but files
    can be uneven since coalesce only merges existing partitions.
    ``shuffle=True`` uses round-robin ``repartition`` — one full shuffle
    buys evenly sized files; worth it when this is the final landing
    table many consumers will scan. Returns the file count used.
    """
    if target_mb <= 0:
        raise ValueError("write_compacted_parquet: target_mb must be positive")
    est = int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    # Plans with no size estimate (some in-memory/RDD-backed sources) report
    # spark.sql.defaultSizeInBytes = Long.MaxValue as a "don't broadcast me"
    # sentinel, not a size. Trusting it would make n_files astronomical —
    # coalesce degrades gracefully but repartition(~10^12) hangs. Fall back
    # to the plan's current partition count (a no-op-ish compaction), and
    # clamp the honest estimate to a sane ceiling as belt-and-braces.
    if est >= (1 << 60):
        n_files = max(1, df.rdd.getNumPartitions())
    else:
        n_files = max(
            1, -(-int(est * parquet_ratio) // (target_mb * 1024 * 1024))
        )
        n_files = min(n_files, 1_000_000)
    sized = df.repartition(n_files) if shuffle else df.coalesce(n_files)
    sized.write.mode(mode).parquet(path)
    return n_files
