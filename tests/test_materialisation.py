"""Materialisation has one owner: ``session.checkpoint`` pins, ``free``
releases, ``scope`` frees what was pinned inside it. These tests pin the
block lifecycle (iterative operators end at the storage baseline inside a
scope), the reliable branch a checkpoint dir selects, the failure count of
``free``, the rule that no other module pins a frame itself, and the
rule that no module of the package swallows an exception silently."""

from __future__ import annotations

import ast
import logging
import random
from contextlib import contextmanager
from pathlib import Path
from unittest import mock

from window_aggregation_spark import session
from window_aggregation_spark.operators.graph import (
    connected_components,
    pagerank,
    triangle_count,
)

PACKAGE = Path(__file__).resolve().parents[1] / "window_aggregation_spark"


def _stored_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs holding storage blocks (checkpoints included). Ids,
    not a count: the ContextCleaner may drop earlier tests' blocks at any
    moment, which can only shrink the set."""
    return {
        int(info.id())
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }


def _random_edges(spark, seed: int = 7, n: int = 40, m: int = 90):
    rng = random.Random(seed)
    rows = sorted({
        (rng.randrange(n), rng.randrange(n)) for _ in range(m)
    })
    return spark.createDataFrame(rows, "u long, v long")


def _results(edges) -> tuple:
    cc = sorted(
        tuple(r) for r in connected_components(edges, "u", "v").collect()
    )
    tri = sorted(tuple(r) for r in triangle_count(edges).collect())
    pr = sorted(
        (r["node"], round(r["rank"], 12))
        for r in pagerank(edges, "u", "v", iterations=4).collect()
    )
    return cc, tri, pr


def test_only_session_pins_frames_and_it_swallows_nothing():
    """Every pin goes through ``session.checkpoint``: no other module of
    the package calls ``.localCheckpoint(`` or ``.checkpoint(``, and no
    module of the package has an ``except`` whose body is only ``pass``
    (a caught failure is logged or counted)."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        rel = path.relative_to(PACKAGE.parent)
        for node in ast.walk(tree):
            if (
                path.name != "session.py"
                and isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("localCheckpoint", "checkpoint")
            ):
                offenders.append(f"{rel}:{node.lineno} .{node.func.attr}(")
            if (
                isinstance(node, ast.ExceptHandler)
                and all(isinstance(s, ast.Pass) for s in node.body)
            ):
                offenders.append(f"{rel}:{node.lineno} except: pass")
    assert not offenders, offenders


def test_failed_free_is_counted_and_logged(caplog):
    df = mock.MagicMock()
    handle = df._jdf.queryExecution.return_value.analyzed.return_value
    handle.rdd.return_value.unpersist.side_effect = RuntimeError("gone")
    before = session.failed_frees
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session.free(df)
    assert session.failed_frees == before + 1
    assert any("gone" in r.getMessage() for r in caplog.records)


def test_iterative_operators_end_at_baseline_inside_scope(spark):
    """CC pins its last round (the result reads it) and PageRank its
    returned rank table; a scope around the work frees both, so the
    session's stored RDDs return to the baseline when it exits."""
    edges = _random_edges(spark)
    base = _stored_rdd_ids(spark)
    with session.scope():
        cc = connected_components(edges, "u", "v").collect()
        pr = pagerank(edges, "u", "v", iterations=4).collect()
        pinned = _stored_rdd_ids(spark) - base
    assert cc and pr
    # the check below is only meaningful if the work pinned something
    assert pinned, "CC and PageRank pinned no blocks inside the scope"
    leaked = _stored_rdd_ids(spark) - base
    assert not leaked, f"blocks left pinned after the scope: {sorted(leaked)}"


def _rdd_id(df) -> int:
    return int(df._jdf.queryExecution().analyzed().rdd().id())


def test_nested_scopes_free_their_own_frames(spark):
    unscoped = session.checkpoint(spark.range(5), eager=True)
    with session.scope():
        outer = session.checkpoint(spark.range(7), eager=True)
        with session.scope():
            inner = session.checkpoint(spark.range(9), eager=True)
        stored = _stored_rdd_ids(spark)
        assert _rdd_id(inner) not in stored  # freed by the inner scope
        assert _rdd_id(outer) in stored
        assert outer.count() == 7
    stored = _stored_rdd_ids(spark)
    assert _rdd_id(outer) not in stored
    assert _rdd_id(unscoped) in stored  # pinned outside any scope
    assert unscoped.count() == 5
    session.free(unscoped)
    assert _rdd_id(unscoped) not in _stored_rdd_ids(spark)


@contextmanager
def _checkpoint_dir(spark, path: Path):
    """Set the context's checkpoint dir for a block, then restore the
    previous setting (none in this suite), so the rest of the session
    stays local."""
    jsc = spark.sparkContext._jsc.sc()
    previous = jsc.checkpointDir()
    spark.sparkContext.setCheckpointDir(str(path))
    try:
        yield
    finally:
        getattr(jsc, "checkpointDir_$eq")(previous)


def test_reliable_checkpoints_equal_local_ones(spark, tmp_path):
    """With a checkpoint dir set, every pin of the graph operators is a
    reliable checkpoint (files under the dir), and the results equal
    the local-checkpoint results."""
    edges = _random_edges(spark, seed=11)
    before = spark.sparkContext.getCheckpointDir()
    local = _results(edges)
    with _checkpoint_dir(spark, tmp_path / "ckpt"):
        reliable = _results(edges)
    assert spark.sparkContext.getCheckpointDir() == before
    assert any(p.is_file() for p in (tmp_path / "ckpt").rglob("*")), (
        "no reliable checkpoint files were written"
    )
    assert all(local), local
    assert reliable == local


def _group_jobs(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_reliable_pin_computes_the_frame_once(spark, tmp_path):
    """A pinned frame is computed once with or without a checkpoint dir.
    A lazy reliable checkpoint computed it twice: in the first action
    that read it and again in the job that wrote its files."""
    from pyspark.sql import functions as F

    calls = spark.sparkContext.accumulator(0)

    def counted(x):
        calls.add(1)
        return x

    udf = F.udf(counted, "long")

    def rows_computed():
        calls.value = 0
        with session.scope():
            pinned = session.checkpoint(
                spark.range(50).select(udf("id").alias("x"))
            )
            for _ in range(2):
                assert pinned.agg(F.sum("x")).first()[0] == 1225
        return calls.value

    local = rows_computed()
    with _checkpoint_dir(spark, tmp_path / "ckpt"):
        reliable = rows_computed()
    assert (local, reliable) == (50, 50)


def test_cc_jobs_with_a_checkpoint_dir_add_one_write_per_pin(
    spark, tmp_path
):
    """``connected_components`` runs the jobs it runs with local pins,
    plus one per pin: the job that writes the reliable checkpoint's
    files, the only one that computes the pinned frame. The counts
    cannot be equal: a reliable checkpoint always writes its files in a
    job of its own."""
    from window_aggregation_spark.operators import graph

    edges = _random_edges(spark, seed=5, n=300, m=450)
    pins = []

    def counting(df, **kwargs):
        pins.append(df)
        return session.checkpoint(df, **kwargs)

    def run(label):
        pins.clear()
        rows = []
        with mock.patch.object(graph, "checkpoint", counting):
            jobs = _group_jobs(spark, f"cc-{label}", lambda: rows.extend(
                tuple(r) for r in connected_components(edges, "u", "v")
                .collect()
            ))
        return jobs, len(pins), sorted(rows)

    local, local_pins, local_rows = run("local")
    with _checkpoint_dir(spark, tmp_path / "ckpt"):
        reliable, reliable_pins, reliable_rows = run("reliable")
    assert reliable_rows == local_rows
    assert reliable_pins == local_pins > 1
    assert reliable == local + reliable_pins
