"""Spark job counts of every persisted-store lifecycle op, pinned.

Each op runs under its own job group; its count is the number of Spark
jobs that group launched (``statusTracker().getJobIdsForGroup`` once the
listener bus has drained). A change that silently adds a job to a store
op (an extra schema-inference read, a stray ``count()`` or ``first()``)
fails here, the way exchange counts are pinned in
``test_plan_quality.py``. Fixtures are tiny and fixed, so the counts are
deterministic for the test session's configuration: a local master,
so file listing never runs as a job. A store carries its params and
stats in its manifest (no op writes or reads them as parquet) and reads
every directory with a declared schema, so a load runs no job but the
reads of data it returns to the driver (the IVF codebook, the text
index's tombstone delta)."""

import itertools
import math
import os

import pytest

from window_aggregation_spark.operators import dedup as dd
from window_aggregation_spark.operators import search
from window_aggregation_spark.operators import similarity as sim
from window_aggregation_spark.sources import store_manifest as sm

_GROUPS = itertools.count()


def _jobs(spark, fn, *args, **kwargs) -> int:
    sc = spark.sparkContext
    group = f"store-job-count-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn(*args, **kwargs)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _docs(spark):
    rows = [
        ("d1", "spark shuffles data between stages during a hash join"),
        ("d2", "the window function sorts within each partition"),
        ("d3", "hash partitioning routes rows; a join may broadcast"),
        ("d4", "sort merge join versus broadcast hash join in spark"),
        ("d5", "windows aggregate running sums over ordered frames"),
        ("d6", "completely unrelated text about cooking pasta"),
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def _sig_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river"),
        (2, "the quick brown fox jumps over the lazy dog near the creek"),
        (3, "completely different text about spark shuffle partitions"),
        (4, "the quick brown fox jumps over the lazy dog near the river bank"),
        (5, "another unrelated document mentioning window aggregation"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _span_docs(spark):
    shared = "And more here. Also this one. Plus a final sentence."
    rows = [
        (1, f"Corpus doc opens. {shared}"),
        (2, "Entirely corpus-only text lives here. Truly. Really. Yes."),
        (10, f"New doc leads in! {shared} New doc trails off."),
        (11, "Batch one brings novel words. Three of them. Exactly so."),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _vectors(spark, lo, hi, dim=8):
    rows = [
        (i, [math.sin((i + 1) * (j + 1) * 0.7) for j in range(dim)])
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_text_index_op_job_counts(spark, tmp_path):
    docs = _docs(spark)
    path = str(tmp_path / "ix")
    got = {
        "build": _jobs(
            spark, search.build_text_index, docs.where("doc_id <= 'd4'"),
            path, n_buckets=4,
        ),
        "load": _jobs(spark, search.load_text_index, spark, path),
        "add": _jobs(
            spark, search.text_index_add, spark, path,
            docs.where("doc_id > 'd4'"),
        ),
        "delete": _jobs(
            spark, search.text_index_delete, spark, path,
            spark.createDataFrame([("d1",)], "doc_id string"),
        ),
        "load_tombstoned": _jobs(spark, search.load_text_index, spark, path),
        "compact": _jobs(spark, search.text_index_compact, spark, path),
    }
    # loads read the manifest only; with tombstones pending, the
    # tombstone delta (count, sum of lengths) is the load's one read
    assert got == {
        "build": 4, "load": 0, "add": 4, "delete": 5,
        "load_tombstoned": 2, "compact": 5,
    }


def test_text_index_load_lists_many_buckets_inline(spark, tmp_path):
    """A 64-bucket postings directory is past Spark's default listing
    threshold (32 paths); in local mode it is listed in the driver, so
    a load, whose params, stats and schema the manifest holds, runs no
    job at all."""
    path = str(tmp_path / "ix64")
    words = " ".join(f"word{i}" for i in range(400))
    search.build_text_index(
        spark.createDataFrame([("d1", words)], "doc_id string, text string"),
        path, n_buckets=64,
    )
    assert len(os.listdir(f"{path}/postings")) > 33  # buckets + _SUCCESS
    assert _jobs(spark, search.load_text_index, spark, path) == 0


def test_ivf_index_op_job_counts(spark, tmp_path):
    path = str(tmp_path / "ivf")
    got = {
        "build": _jobs(
            spark, sim.build_ivf_index, _vectors(spark, 0, 24), path,
            n_centroids=4,
        ),
        "load": _jobs(spark, sim.load_ivf_index, spark, path),
        "add": _jobs(spark, sim.ivf_index_add, spark, path,
                     _vectors(spark, 24, 32)),
        "delete": _jobs(
            spark, sim.ivf_index_delete, spark, path,
            spark.createDataFrame([(3,), (25,)], "vec_id long"),
        ),
        "load_tombstoned": _jobs(spark, sim.load_ivf_index, spark, path),
        "compact": _jobs(spark, sim.ivf_index_compact, spark, path),
    }
    # a load's one job reads the codebook; the add publishes its batch as
    # a second lists directory, read with the declared schema, no job
    assert got == {
        "build": 3, "load": 1, "add": 2, "delete": 3,
        "load_tombstoned": 1, "compact": 3,
    }


def test_signature_store_op_job_counts(spark, tmp_path):
    docs = _sig_docs(spark)
    path = str(tmp_path / "sig")
    build = _jobs(
        spark, dd.build_signature_store, docs.where("doc_id <= 3"),
        "doc_id", path,
    )
    load = _jobs(spark, dd.load_signature_store, spark, path)
    # a streamed fold partition, written as the ingest loop writes it
    fold = _jobs(
        spark, dd.signature_store_fold, docs.where("doc_id > 3"), "doc_id",
        path, batch_id=0,
    )
    got = {
        "build": build,
        "load": load,
        "fold": fold,
        "load_folded": _jobs(
            spark, dd.load_signature_store, spark, path, exclude_folds_from=1
        ),
        "build_pairs": _jobs(
            spark, dd.signature_store_build_pairs, docs, "doc_id", path,
            threshold=0.3,
        ),
        "load_pair_cache": _jobs(
            spark, dd.load_pair_cache, spark, path, threshold=0.3
        ),
        "delete": _jobs(
            spark, dd.signature_store_delete, spark, path,
            spark.createDataFrame([(2,)], "doc_id long"),
        ),
        "load_tombstoned": _jobs(spark, dd.load_signature_store, spark, path),
        "compact": _jobs(spark, dd.signature_store_compact, spark, path),
    }
    assert got == {
        "build": 2, "load": 0, "fold": 2, "load_folded": 0, "build_pairs": 6,
        "load_pair_cache": 1, "delete": 2, "load_tombstoned": 0,
        "compact": 3,
    }


def test_sentence_hash_store_op_job_counts(spark, tmp_path):
    docs = _span_docs(spark)
    path = str(tmp_path / "span")
    got = {
        "build": _jobs(
            spark, dd.build_sentence_hash_store, docs.where("doc_id < 10"),
            "doc_id", path,
        ),
        "load": _jobs(spark, dd.load_sentence_hash_store, spark, path),
        "add": _jobs(
            spark, dd.sentence_hash_store_add, docs.where("doc_id >= 10"),
            "doc_id", path, batch_id=0,
        ),
        "load_folded": _jobs(
            spark, dd.load_sentence_hash_store, spark, path,
            exclude_folds_from=1,
        ),
        "compact": _jobs(spark, dd.sentence_hash_store_compact, spark, path),
    }
    assert got == {
        "build": 4, "load": 0, "add": 2, "load_folded": 0, "compact": 4,
    }


@pytest.mark.parametrize("n_adds", [1, 3])
def test_text_op_job_counts_do_not_depend_on_the_number_of_adds(
    spark, tmp_path, n_adds
):
    """Each add publishes one more postings and doclens directory; no
    text op reads them with a job per directory, and the compaction
    collapses the lists."""
    docs = _docs(spark)
    path = str(tmp_path / "ix")
    search.build_text_index(docs.where("doc_id <= 'd2'"), path, n_buckets=4)
    for d in ("d3", "d4", "d5")[:n_adds - 1]:
        search.text_index_add(spark, path, docs.where(f"doc_id = '{d}'"))
    got = {
        "add": _jobs(
            spark, search.text_index_add, spark, path,
            docs.where("doc_id = 'd6'"),
        ),
        "load": _jobs(spark, search.load_text_index, spark, path),
        "delete": _jobs(
            spark, search.text_index_delete, spark, path,
            spark.createDataFrame([("d1",)], "doc_id string"),
        ),
        "load_tombstoned": _jobs(spark, search.load_text_index, spark, path),
        "compact": _jobs(spark, search.text_index_compact, spark, path),
        "load_compacted": _jobs(spark, search.load_text_index, spark, path),
    }
    dirs = sm.split_dirs(sm.read_manifest(path, {})["postings"])
    assert len(dirs) == 1
    assert got == {
        "add": 4, "load": 0, "delete": 5, "load_tombstoned": 2,
        "compact": 5, "load_compacted": 0,
    }
