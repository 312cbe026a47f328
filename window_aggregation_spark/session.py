"""SparkSession factory tuned for this engine.

Local mode for tests/bench; the same settings are the right defaults on a
real cluster (AQE on, Arrow on, UTC timestamps). ``shuffle_partitions``
defaults to the local core count — on a 1000-executor cluster you'd raise it
(or, better, let AQE coalesce from a high initial number).

It also owns materialisation: :func:`checkpoint` is the only call in the
package that pins a frame (local or reliable, decided by the context's
checkpoint dir), :func:`free` releases one, and :func:`scope` frees every
frame pinned inside a block.
"""

from __future__ import annotations

import logging
import os
import threading
from contextlib import contextmanager
from contextvars import ContextVar
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession


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


# Frames ``checkpoint`` pinned inside the innermost open ``scope()`` of the
# current context (None outside any scope). A ContextVar, not a global:
# every thread starts with its own context, so builds running in parallel
# threads never free each other's frames.
_SCOPE: ContextVar[list | None] = ContextVar("pinned_frames", default=None)
_log = logging.getLogger(__name__)
# frees that raised (see ``free``): a fragile internal handle breaking
# after an upgrade shows up here and in the log, not as silent growth
failed_frees = 0
_failed_frees_lock = threading.Lock()


def checkpoint(df: DataFrame, *, eager: bool = False) -> DataFrame:
    """Pin ``df``: the one place the engine truncates a plan's lineage.

    A reliable ``df.checkpoint`` when the context has a checkpoint dir
    (``spark.sparkContext.setCheckpointDir``: the pinned rows survive
    executor loss), a ``localCheckpoint`` otherwise (faster, but a lost
    executor fails the query that reads its blocks). ``eager=False``
    materialises a local checkpoint on the first action that reads the
    frame. A reliable checkpoint is always eager: its files are written
    by a job of their own, which computes the frame; a lazy one computes
    it twice, once in the first action that reads it and again in that
    write job. The result is registered with the innermost open
    :func:`scope`, which frees it on exit."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        out = df.checkpoint(eager=True)
    else:
        out = df.localCheckpoint(eager=eager)
    pinned = _SCOPE.get()
    if pinned is not None:
        pinned.append(out)
    return out


def free(df: DataFrame) -> None:
    """Release the storage blocks of a frame :func:`checkpoint` returned.

    ``DataFrame.unpersist()`` is a CacheManager operation and does NOT
    touch checkpoint blocks (measured: 168 MB of blocks survive
    ``unpersist(blocking=True)`` and the frame stays readable). The real
    handle is the plan's LogicalRDD: unpersisting ITS rdd drops the blocks
    (measured to zero) while frames already materialised FROM it keep
    working. Call it only AFTER every consumer of the frame has
    materialised: a freed local checkpoint is unreadable (its lineage was
    truncated). A reliable checkpoint's files stay in the checkpoint dir
    unless ``spark.cleaner.referenceTracking.cleanCheckpoints`` is set.

    The handle is a Spark internal, so a failure is logged and counted in
    ``failed_frees`` rather than raised: the blocks then live until the
    context garbage-collects them."""
    global failed_frees
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception as exc:
        with _failed_frees_lock:
            failed_frees += 1
        _log.warning(
            "could not free a checkpointed frame: %r", exc, exc_info=exc
        )


@contextmanager
def scope() -> Iterator[None]:
    """Free, on exit, every frame :func:`checkpoint` pinned inside the
    block (nested scopes each free their own). Use it around a unit of
    work whose results are written or collected inside it, e.g. one
    streaming epoch: a lazy frame that reads a local checkpoint pinned
    inside the block cannot run after it."""
    pinned: list = []
    token = _SCOPE.set(pinned)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        for df in pinned:
            free(df)
