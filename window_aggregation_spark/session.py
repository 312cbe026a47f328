"""SparkSession factory tuned for this engine.

Local mode for tests/bench; the same settings are the right defaults on a
real cluster (AQE on, Arrow on, UTC timestamps). ``shuffle_partitions``
defaults to the local core count — on a 1000-executor cluster you'd raise it
(or, better, let AQE coalesce from a high initial number).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "window_aggregation_spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The engine's session: ``master`` defaults to ``local[cpus]``
    (``SPARK_GRAFT_CPUS``, else the core count), and ``extra_conf`` is
    applied last, over every setting below.

    With a local master (``local`` / ``local[...]``) file listing stays in
    the driver up to 1024 paths
    (``spark.sql.sources.parallelPartitionDiscovery.threshold``). Past
    Spark's default of 32 paths, e.g. a 64-bucket postings directory, a
    read otherwise launches a listing job that runs in the same JVM on
    the same disk: 0.42-0.54 s and one extra job per read of a 64-bucket
    directory, against 0.08-0.09 s listed inline (4 vCPUs). A cluster
    master keeps the default: there the job spreads a large listing
    over the executors, which is what the threshold is for."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    # Production sizing (optimization guide §2.2): target 100 MB-1 GB
    # post-shuffle partitions — set SPARK_GRAFT_SHUFFLE_PARTITIONS high
    # (e.g. cluster cores x 4) and let AQE coalesce down. The local
    # default (= core count) is only right because fixture shuffles are
    # a few MB; it is parameterised, not baked in.
    shuffle = str(
        shuffle_partitions
        or os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        or cpus
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime re-plan — partition coalescing, skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", shuffle)
        # UTC so timestamps compare cleanly against the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for any pandas-UDF path (multimodal operators).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The driver fixtures store events.ts as parquet TIMESTAMP(NANOS),
        # which Spark rejects by default; read as long and normalize in
        # sources.io.read_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master == "local" or master.startswith("local["):
        # a listing job gains nothing in one JVM (see the docstring)
        builder = builder.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold", "1024"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def free_checkpoint(df) -> None:
    """Release a SUPERSEDED checkpointed DataFrame's storage blocks.

    ``DataFrame.unpersist()`` is a CacheManager operation and provably
    does NOT touch localCheckpoint blocks (r13, measured: 168 MB of
    blocks survive ``unpersist(blocking=True)`` and the frame stays
    readable) — a per-round/per-epoch ``unpersist()`` is a no-op and the
    loop pins every iteration's data for the session. The real handle is
    the plan's LogicalRDD: unpersisting ITS rdd drops the blocks
    (measured to zero) while frames already materialized FROM it keep
    working. Callers must only invoke this AFTER every consumer of the
    frame has materialized — the freed frame itself becomes unreadable
    (the checkpoint truncated its lineage). Best-effort by design: on
    any internals mismatch the old behavior (leak until context GC) is
    the fallback, never an error. Used by the graph iteration loops
    (CC, PageRank) and the streaming ingest epochs; lives here because
    it is session-level block management, not an operator."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass
