"""Spark job counts of every persisted-store lifecycle op, pinned.

Each op runs under its own job group; its count is the number of Spark
jobs that group launched (``statusTracker().getJobIdsForGroup`` once the
listener bus has drained). A change that silently adds a job to a store
op (an extra schema-inference read, a stray ``count()`` or ``first()``)
fails here, the way exchange counts are pinned in
``test_plan_quality.py``. Fixtures are tiny and fixed, so the counts are
deterministic for the test session's configuration: a local master,
so file listing never runs as a job, and one-row params/stats files
read with their declared schema (no schema-inference job)."""

import itertools
import math
import os

from window_aggregation_spark.operators import dedup as dd
from window_aggregation_spark.operators import search
from window_aggregation_spark.operators import similarity as sim

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
    # add, delete and compact load the index once, at entry
    assert got == {
        "build": 10, "load": 3, "add": 11, "delete": 16,
        "load_tombstoned": 7, "compact": 19,
    }


def test_text_index_load_lists_many_buckets_inline(spark, tmp_path):
    """A 64-bucket postings directory is past Spark's default listing
    threshold (32 paths); in local mode it is listed in the driver, so
    a load is still the params, stats and postings-schema reads only."""
    path = str(tmp_path / "ix64")
    words = " ".join(f"word{i}" for i in range(400))
    search.build_text_index(
        spark.createDataFrame([("d1", words)], "doc_id string, text string"),
        path, n_buckets=64,
    )
    assert len(os.listdir(f"{path}/postings")) > 33  # buckets + _SUCCESS
    assert _jobs(spark, search.load_text_index, spark, path) == 3


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
    # the add publishes its batch as a second lists directory, so it and
    # every op until the compaction read two list directories (one
    # schema-inference job each)
    assert got == {
        "build": 7, "load": 4, "add": 10, "delete": 8,
        "load_tombstoned": 6, "compact": 9,
    }


def test_signature_store_op_job_counts(spark, tmp_path):
    docs = _sig_docs(spark)
    path = str(tmp_path / "sig")
    build = _jobs(
        spark, dd.build_signature_store, docs.where("doc_id <= 3"),
        "doc_id", path,
    )
    load = _jobs(spark, dd.load_signature_store, spark, path)
    # a streamed fold partition, written the way the ingest loop does
    dd.minhash_signatures(docs.where("doc_id > 3"), "doc_id").write.parquet(
        f"{path}/sigs_folds/batch_id=0"
    )
    got = {
        "build": build,
        "load": load,
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
        "build": 5, "load": 2, "load_folded": 3, "build_pairs": 9,
        "load_pair_cache": 1, "delete": 11, "load_tombstoned": 4,
        "compact": 9,
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
        "build": 8, "load": 2, "add": 5, "load_folded": 2, "compact": 10,
    }
