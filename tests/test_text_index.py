"""Persisted inverted index: build/load fidelity, scan-path equivalence
of the indexed BM25, driver-side bucket mirror, and partition pruning."""

import pytest
from pyspark.sql import functions as F

from window_aggregation_spark.operators.dedup import portable_hash64
from window_aggregation_spark.operators.search import (
    bm25_topk,
    bm25_topk_indexed,
    build_text_index,
    load_text_index,
    term_bucket,
    text_index_add,
)
from window_aggregation_spark.sources import store_manifest as sm


def _corpus(spark):
    rows = [
        ("d1", "spark shuffles data between stages during a hash join"),
        ("d2", "the window function sorts within each partition"),
        ("d3", "hash partitioning routes rows; a join may broadcast"),
        ("d4", "sort merge join versus broadcast hash join in spark"),
        ("d5", "windows aggregate running sums over ordered frames"),
        ("d6", "completely unrelated text about cooking pasta"),
        ("d7", ""),
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_build_and_load(spark, tmp_path):
    idx = build_text_index(_corpus(spark), str(tmp_path / "ix"), n_buckets=8)
    assert idx.n_docs == 7
    # sum_dl = total token count including the empty doc's 0
    total = _corpus(spark).select(
        F.sum(F.size(F.split(F.lower("text"), "[^a-z0-9]+"))).alias("s")
    )
    assert idx.sum_dl > 0
    re = load_text_index(spark, str(tmp_path / "ix"))
    assert (re.n_docs, re.sum_dl, re.n_buckets) == (
        idx.n_docs, idx.sum_dl, 8,
    )
    # postings carry one row per (token, doc)
    p = re.postings.where(F.col("token") == "join").collect()
    assert sorted(r.doc_id for r in p) == ["d1", "d3", "d4"]
    assert all(r.term_bucket == term_bucket("join", 8) for r in p)


@pytest.mark.parametrize(
    "query", ["hash join", "window partition sort", "spark", "pasta joins"]
)
def test_indexed_equals_scan(spark, tmp_path, query):
    docs = _corpus(spark)
    idx = build_text_index(docs, str(tmp_path / "ix2"), n_buckets=4)
    got = bm25_topk_indexed(idx, query, k=10).collect()
    want = bm25_topk(docs, query, k=10).collect()
    assert [(r.doc_id, r.score) for r in got] == [
        (r.doc_id, r.score) for r in want
    ]


def test_term_bucket_mirror(spark):
    toks = ["join", "spark", "window", "a", "0", "pasta"]
    df = spark.createDataFrame([(t,) for t in toks], "token string")
    got = {
        r.token: r.b
        for r in df.select(
            "token",
            F.pmod(portable_hash64(F.col("token")), F.lit(16))
            .cast("int").alias("b"),
        ).collect()
    }
    assert got == {t: term_bucket(t, 16) for t in toks}


def test_partition_pruning_in_plan(spark, tmp_path):
    idx = build_text_index(_corpus(spark), str(tmp_path / "ix3"), n_buckets=8)
    df = bm25_topk_indexed(idx, "join", k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    b = term_bucket("join", 8)
    assert f"term_bucket#" in plan or "PartitionFilters" in plan
    # the scan's partition filter names the probed bucket value
    assert str(b) in plan.split("PartitionFilters")[1][:200]


def test_empty_query_raises(spark, tmp_path):
    idx = build_text_index(_corpus(spark), str(tmp_path / "ix4"))
    with pytest.raises(ValueError, match="no indexable terms"):
        bm25_topk_indexed(idx, "!!! ...")


def test_append_mode_rejected(spark, tmp_path):
    """mode='append' would write past the manifest's stats and corrupt
    loads — growing an index is text_index_add."""
    with pytest.raises(ValueError, match="text_index_add"):
        build_text_index(_corpus(spark), str(tmp_path / "m"), mode="append")


def test_index_add_equals_rebuild(spark, tmp_path):
    """An appended index must score exactly like a from-scratch rebuild
    over the union corpus (df derived at query time, stats summed)."""
    docs = _corpus(spark)
    first, rest = docs.where("doc_id <= 'd4'"), docs.where("doc_id > 'd4'")
    idx = build_text_index(first, str(tmp_path / "inc"), n_buckets=4)
    idx = text_index_add(spark, str(tmp_path / "inc"), rest)
    full = build_text_index(docs, str(tmp_path / "full"), n_buckets=4)
    assert (idx.n_docs, idx.sum_dl) == (full.n_docs, full.sum_dl)
    for q in ["hash join", "window partition sort", "spark"]:
        got = bm25_topk_indexed(idx, q, k=10).collect()
        want = bm25_topk_indexed(full, q, k=10).collect()
        scan = bm25_topk(docs, q, k=10).collect()
        assert got == want == scan


def test_declared_schema_plans_like_inferred(spark, tmp_path):
    """A load reads the postings with the schema the manifest's params
    declare: the optimized BM25 plan equals the plan over the same
    directories read by ``spark.read.parquet``, which infers it."""
    import dataclasses
    import re
    from functools import reduce

    docs = _corpus(spark)
    path = str(tmp_path / "ix")
    build_text_index(docs.where("doc_id <= 'd3'"), path, n_buckets=4)
    declared = text_index_add(spark, path, docs.where("doc_id > 'd3'"))
    dirs = sm.split_dirs(sm.read_manifest(path, {})["postings"])
    assert len(dirs) == 2
    inferred = dataclasses.replace(declared, postings=reduce(
        lambda a, b: a.unionByName(b),
        [spark.read.parquet(f"{path}/{d}") for d in dirs],
    ))
    assert inferred.postings.schema == declared.postings.schema

    def plan(idx, q):
        text = bm25_topk_indexed(idx, q, k=5)._jdf.queryExecution()
        # expression ids and lambda variable ids are per-plan counters
        return re.sub(r"(?<=[#_])\d+L?", "", text.optimizedPlan().toString())

    for q in ("hash join", "window partition sort", "pasta"):
        assert plan(declared, q) == plan(inferred, q)
