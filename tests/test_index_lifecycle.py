"""Index lifecycle: deletion + compaction for the persisted text and IVF
stores, and the atomic generation-manifest protocol behind them.

The done-criterion pattern is the suite's cheapest strong oracle — "same
result as a from-scratch rebuild on the filtered corpus": tombstoned and
compacted indexes must be INVISIBLE in query results."""

import os

import pytest
from pyspark.sql import functions as F

from window_aggregation_spark.operators import similarity as sim
from window_aggregation_spark.operators.search import (
    bm25_topk,
    bm25_topk_indexed,
    build_text_index,
    load_text_index,
    text_index_add,
    text_index_compact,
    text_index_delete,
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
        ("d7", ""),  # zero tokens: no postings, but counts in N
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def _ids(spark, *vals):
    return spark.createDataFrame([(v,) for v in vals], "doc_id string")


QUERIES = ["hash join", "window partition sort", "spark", "pasta"]


def _scores(idx, q):
    return [(r.doc_id, r.score) for r in bm25_topk_indexed(idx, q, k=10).collect()]


def test_delete_serves_like_filtered_rebuild(spark, tmp_path):
    """Tombstoned-but-not-compacted index == rebuild on surviving docs,
    bit-for-bit, for every query — including N/avgdl effects (d1 and d4
    carry 'join'/'spark' mass, so idf and avgdl both move)."""
    docs = _corpus(spark)
    path = str(tmp_path / "ix")
    build_text_index(docs, path, n_buckets=4)
    idx = text_index_delete(spark, path, _ids(spark, "d1", "d4"))
    kept = docs.where(~F.col("doc_id").isin("d1", "d4"))
    want = build_text_index(kept, str(tmp_path / "rebuilt"), n_buckets=4)
    assert (idx.n_docs, idx.sum_dl) == (want.n_docs, want.sum_dl)
    for q in QUERIES:
        assert _scores(idx, q) == _scores(want, q)
        # and == the plain full-scan operator on the filtered corpus
        assert _scores(idx, q) == [
            (r.doc_id, r.score) for r in bm25_topk(kept, q, k=10).collect()
        ]


def test_delete_zero_token_doc_adjusts_n(spark, tmp_path):
    """d7 has no posting rows; only the doclens sidecar knows it exists.
    Deleting it must still decrement N (idf shifts for every term)."""
    docs = _corpus(spark)
    path = str(tmp_path / "ix")
    built = build_text_index(docs, path, n_buckets=4)
    idx = text_index_delete(spark, path, _ids(spark, "d7"))
    assert idx.n_docs == built.n_docs - 1
    assert idx.sum_dl == built.sum_dl
    want = build_text_index(
        docs.where("doc_id <> 'd7'"), str(tmp_path / "rb"), n_buckets=4
    )
    for q in QUERIES:
        assert _scores(idx, q) == _scores(want, q)


def test_delete_is_idempotent(spark, tmp_path):
    """Replayed delete batches (and ids absent from the index) must not
    double-subtract stats."""
    docs = _corpus(spark)
    path = str(tmp_path / "ix")
    build_text_index(docs, path, n_buckets=4)
    a = text_index_delete(spark, path, _ids(spark, "d2", "nope"))
    b = text_index_delete(spark, path, _ids(spark, "d2"))
    assert (a.n_docs, a.sum_dl) == (b.n_docs, b.sum_dl)
    assert b.n_docs == 6


def test_compact_clears_tombstones_same_scores(spark, tmp_path):
    docs = _corpus(spark)
    path = str(tmp_path / "ix")
    build_text_index(docs, path, n_buckets=4)
    idx = text_index_delete(spark, path, _ids(spark, "d1", "d7"))
    before = {q: _scores(idx, q) for q in QUERIES}
    compacted = text_index_compact(spark, path, sweep=True)
    assert compacted.tombstones is None
    assert (compacted.n_docs, compacted.sum_dl) == (idx.n_docs, idx.sum_dl)
    for q in QUERIES:
        assert _scores(compacted, q) == before[q]
    # physically gone: no d1 postings in the compacted layout
    assert compacted.postings.where("doc_id = 'd1'").count() == 0
    # stale generation dirs swept, manifest points at the new ones
    m = sm.read_manifest(path, {})
    assert m["postings"].startswith("postings_v")
    assert not os.path.exists(f"{path}/postings")
    # compacting again is a no-op
    again = text_index_compact(spark, path)
    assert (again.n_docs, again.sum_dl) == (compacted.n_docs, compacted.sum_dl)


def test_compact_default_keeps_old_generation_readable(spark, tmp_path):
    """sweep defaults OFF: a reader that resolved the pre-compact
    manifest (or holds the old postings DataFrame) must still find its
    directories after the flip — that is the atomicity contract."""
    docs = _corpus(spark)
    path = str(tmp_path / "ix")
    build_text_index(docs, path, n_buckets=4)
    old = load_text_index(spark, path)
    old_postings = old.postings.count()
    text_index_delete(spark, path, _ids(spark, "d1"))
    text_index_compact(spark, path)  # no sweep
    # the OLD generation's directory is still there and still readable
    assert os.path.exists(f"{path}/postings")
    assert old.postings.count() == old_postings


def test_rebuild_resets_manifest_and_tombstones(spark, tmp_path):
    """build_text_index(mode='overwrite') over a generation-managed
    store must clear the old MANIFEST (else loads resolve to generation
    dirs the rebuild never writes and serve the OLD data) and stale
    tombstones (else they filter the fresh corpus)."""
    docs = _corpus(spark)
    path = str(tmp_path / "ix")
    build_text_index(docs, path, n_buckets=4)
    text_index_delete(spark, path, _ids(spark, "d1", "d4"))
    text_index_compact(spark, path)          # manifest -> *_v1 dirs
    text_index_delete(spark, path, _ids(spark, "d2"))  # pending tombstone
    rebuilt = build_text_index(docs, path, n_buckets=4)  # full corpus again
    assert rebuilt.tombstones is None
    assert rebuilt.n_docs == 7  # d1/d4/d2 all back
    fresh = build_text_index(docs, str(tmp_path / "fresh"), n_buckets=4)
    for q in QUERIES:
        assert _scores(rebuilt, q) == _scores(fresh, q)


def test_ivf_rebuild_resets_tombstones(spark, tmp_path):
    corpus = _vectors(spark, 30).where("vec_id >= 8")
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(corpus, path, n_centroids=4)
    sim.ivf_index_delete(
        spark, path, spark.createDataFrame([(9,), (10,)], "vec_id long")
    )
    sim.ivf_index_compact(spark, path)
    sim.ivf_index_delete(
        spark, path, spark.createDataFrame([(11,)], "vec_id long")
    )
    rebuilt = sim.build_ivf_index(corpus, path, n_centroids=4)
    ids = {r.id for r in rebuilt.lists.select("id").collect()}
    assert {9, 10, 11} <= ids


def test_add_after_compact_and_versioned_stats(spark, tmp_path):
    """The full lifecycle: build -> delete -> compact -> add. Each
    mutation publishes its stats in the manifest flip that publishes its
    directories (never an in-place overwrite), and scoring equals a
    rebuild on the final corpus."""
    docs = _corpus(spark)
    path = str(tmp_path / "ix")

    def stats():
        return sm.meta(sm.read_manifest(path, {}))["stats"]

    build_text_index(docs.where("doc_id <= 'd5'"), path, n_buckets=4)
    built = stats()
    text_index_delete(spark, path, _ids(spark, "d2"))
    assert stats() == built  # a delete publishes nothing
    text_index_compact(spark, path)
    compacted = stats()
    idx = text_index_add(spark, path, docs.where("doc_id > 'd5'"))
    final = docs.where("doc_id <> 'd2'")
    want = build_text_index(final, str(tmp_path / "rb"), n_buckets=4)
    assert (idx.n_docs, idx.sum_dl) == (want.n_docs, want.sum_dl)
    for q in QUERIES:
        assert _scores(idx, q) == _scores(want, q)
    # the stats advanced with each published generation, and the last
    # ones are the served index's
    assert built["n_docs"] - 1 == compacted["n_docs"] < stats()["n_docs"]
    assert stats() == {"n_docs": idx.n_docs, "sum_dl": idx.sum_dl}
    assert "stats" not in sm.read_manifest(path, {})


def test_delete_rejects_pre_doclens_store(spark, tmp_path):
    import shutil

    path = str(tmp_path / "ix")
    build_text_index(_corpus(spark), path, n_buckets=4)
    shutil.rmtree(f"{path}/doclens")
    with pytest.raises(ValueError, match="doclens"):
        text_index_delete(spark, path, _ids(spark, "d1"))


def test_manifest_roundtrip_and_scheme_guard(tmp_path):
    path = str(tmp_path / "store")
    os.makedirs(path)
    with pytest.raises(sm.StoreFormatError, match="no readable numbered"):
        sm.read_manifest(path, {"a": "a"})
    sm.write_manifest(path, {"a": "a_v3"})
    assert sm.read_manifest(path, {"a": "a", "b": "b"}) == {"a": "a_v3"}
    os.makedirs(f"{path}/a_v4")  # crashed, never-published generation
    assert sm.next_version(path, "a", "a_v3") == "a_v5"
    # round 8: scheme:// paths DISPATCH (Hadoop connector / numbered
    # protocol) instead of being rejected; without an active session to
    # reach the connector, the guard raises the actionable error
    mp = pytest.MonkeyPatch()
    try:
        from pyspark.sql import SparkSession

        mp.setattr(
            SparkSession, "getActiveSession", classmethod(lambda cls: None)
        )
        with pytest.raises(RuntimeError, match="URI scheme"):
            sm.check_store_path("s3://bucket/ix")
    finally:
        mp.undo()
    # plain paths resolve to PosixFS; registered prefixes win
    assert isinstance(sm._fs_for(path), sm.PosixFS)
    shim = sm.PosixFS()
    sm.register_fs_prefix(path, shim)
    try:
        assert sm._fs_for(path) is shim
    finally:
        sm.unregister_fs_prefix(path)


# ---------------------------------------------------------------------------
# IVF store
# ---------------------------------------------------------------------------


def _vectors(spark, n=40, dim=8, exclude=()):
    import math

    rows = [
        (i, [math.sin((i + 1) * (j + 1) * 0.7) for j in range(dim)])
        for i in range(n)
        if i not in exclude
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _topk_rows(idx, queries, k=5, nprobe=4):
    return sorted(
        (r.query_id, r.neighbor_id, r.cos_sim, r.nn_rank)
        for r in sim.ivf_topk_index(queries, idx, k=k, nprobe=nprobe).collect()
    )


def test_ivf_delete_equals_filtered_rebuild(spark, tmp_path):
    corpus = _vectors(spark).where("vec_id >= 8")
    queries = _vectors(spark).where("vec_id < 8")
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(corpus, path, n_centroids=4)
    gone = [9, 17, 25]
    idx = sim.ivf_index_delete(
        spark, path, spark.createDataFrame([(i,) for i in gone], "vec_id long")
    )
    # same frozen centroids, lists filtered -> same assignment for the
    # survivors; a rebuild would re-pick centroids, so the honest twin is
    # the same index with the rows physically absent (compact) — and both
    # must simply never return the deleted ids
    got = _topk_rows(idx, queries)
    assert all(nid not in gone for (_, nid, _, _) in got)
    compacted = sim.ivf_index_compact(spark, path)
    assert _topk_rows(compacted, queries) == got
    assert compacted.lists.where(F.col("id").isin(gone)).count() == 0
    # compacted store has no tombstone anti-join in the lists plan
    assert "Join" not in compacted.lists._jdf.queryExecution().executedPlan().toString()


def test_ivf_delete_then_add_roundtrip(spark, tmp_path):
    corpus = _vectors(spark).where("vec_id >= 8 and vec_id < 30")
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(corpus, path, n_centroids=4)
    sim.ivf_index_delete(
        spark, path, spark.createDataFrame([(10,)], "vec_id long")
    )
    sim.ivf_index_compact(spark, path)
    idx = sim.ivf_index_add(
        spark, path, _vectors(spark).where("vec_id >= 30")
    )
    ids = {r.id for r in idx.lists.select("id").collect()}
    assert 10 not in ids and 30 in ids and 39 in ids


def test_ivf_id_type_validated_at_boundary(spark, tmp_path):
    strs = spark.createDataFrame(
        [("a", [0.1] * 8)], "vec_id string, embedding array<float>"
    )
    with pytest.raises(ValueError, match="integral id"):
        sim.build_ivf_index(strs, str(tmp_path / "x"), n_centroids=2)
    corpus = _vectors(spark).where("vec_id >= 8")
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(corpus, path, n_centroids=4)
    with pytest.raises(ValueError, match="integral id"):
        sim.ivf_index_add(spark, path, strs)
    with pytest.raises(ValueError, match="integral id"):
        sim.ivf_index_delete(
            spark, path, spark.createDataFrame([("a",)], "vec_id string")
        )


# ---------------------------------------------------------------------------
# Signature store (dedup)
# ---------------------------------------------------------------------------


from window_aggregation_spark.operators import dedup as dd  # noqa: E402


def _sig_corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river"),
        (2, "the quick brown fox jumps over the lazy dog near the creek"),
        (3, "completely different text about spark shuffle partitions"),
        (4, "the quick brown fox jumps over the lazy dog near the river bank"),
        (5, "another unrelated document mentioning window aggregation"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_sig_delete_equals_filtered_rebuild(spark, tmp_path):
    docs = _sig_corpus(spark)
    path = str(tmp_path / "store")
    dd.build_signature_store(docs, "doc_id", path)
    store = dd.signature_store_delete(
        spark, path, spark.createDataFrame([(2,)], "doc_id long")
    )
    kept = docs.where("doc_id <> 2")
    rebuilt = dd.build_signature_store(kept, "doc_id", str(tmp_path / "rb"))
    got = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in dd.minhash_dedup_pairs(
            kept, "doc_id", threshold=0.3, signatures=store
        ).collect()
    )
    want = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in dd.minhash_dedup_pairs(
            kept, "doc_id", threshold=0.3, signatures=rebuilt
        ).collect()
    )
    assert got == want
    assert all(2 not in (a, b) for a, b, _ in got)
    # 1~4 survive as a pair (2 was the third member of the cluster)
    assert any((a, b) == (1, 4) for a, b, _ in got)


def test_sig_fold_replay_replaces_its_rows(spark, tmp_path):
    """signature_store_fold writes one overwrite-per-epoch partition with
    the store's own ngram and hash count: a replayed batch_id replaces
    that epoch's rows instead of appending to them, and the folded
    signatures equal those of a store built over the same documents."""
    docs = _sig_corpus(spark)
    path = str(tmp_path / "store")
    dd.build_signature_store(
        docs.where("doc_id <= 3"), "doc_id", path, num_hashes=32
    )

    def rows(p, **kw):
        return sorted(
            tuple(r) for r in dd.load_signature_store(spark, p, **kw)
            .sigs.collect()
        )

    dd.signature_store_fold(docs.where("doc_id = 4"), "doc_id", path,
                            batch_id=0)
    # the epoch replays with other survivors: its first rows are gone
    for _ in range(2):
        dd.signature_store_fold(docs.where("doc_id = 5"), "doc_id", path,
                                batch_id=0)
        assert [r[0] for r in rows(path)] == [1, 2, 3, 5]
    assert [r[0] for r in rows(path, exclude_folds_from=0)] == [1, 2, 3]
    want = str(tmp_path / "want")
    dd.build_signature_store(
        docs.where("doc_id <> 4"), "doc_id", want, num_hashes=32
    )
    assert rows(path) == rows(want)


def test_sig_compact_merges_folds_and_drops_tombstones(spark, tmp_path):
    docs = _sig_corpus(spark)
    path = str(tmp_path / "store")
    dd.build_signature_store(docs.where("doc_id <= 3"), "doc_id", path)
    # simulate a streamed fold partition for docs 4-5
    dd.minhash_signatures(
        docs.where("doc_id > 3"), "doc_id"
    ).write.mode("overwrite").parquet(f"{path}/sigs_folds/batch_id=0")
    dd.signature_store_delete(
        spark, path, spark.createDataFrame([(2,)], "doc_id long")
    )
    before = dd.load_signature_store(spark, path)
    ids_before = sorted(r.doc_id for r in before.sigs.select("doc_id").collect())
    assert ids_before == [1, 3, 4, 5]
    compacted = dd.signature_store_compact(spark, path, sweep=True)
    ids_after = sorted(
        r.doc_id for r in compacted.sigs.select("doc_id").collect()
    )
    assert ids_after == [1, 3, 4, 5]
    # physically one base generation: no folds/tombstones dirs remain
    assert not os.path.exists(f"{path}/sigs_folds")
    assert not os.path.exists(f"{path}/tombstones")
    m = sm.read_manifest(path, {})
    assert m["sigs"].startswith("sigs_v")
    # compacting again is a no-op
    again = dd.signature_store_compact(spark, path)
    assert sorted(
        r.doc_id for r in again.sigs.select("doc_id").collect()
    ) == ids_after


def test_sig_delete_is_idempotent_and_rebuild_resets(spark, tmp_path):
    docs = _sig_corpus(spark)
    path = str(tmp_path / "store")
    dd.build_signature_store(docs, "doc_id", path)
    dd.signature_store_delete(
        spark, path, spark.createDataFrame([(1,), (99,)], "doc_id long")
    )
    s2 = dd.signature_store_delete(
        spark, path, spark.createDataFrame([(1,)], "doc_id long")
    )
    assert s2.sigs.where("doc_id = 1").count() == 0
    assert s2.sigs.count() == 4
    # rebuild clears manifest + tombstones: doc 1 is back
    dd.signature_store_compact(spark, path, sweep=True)
    rebuilt = dd.build_signature_store(docs, "doc_id", path)
    assert rebuilt.sigs.count() == 5
    assert rebuilt.sigs.where("doc_id = 1").count() == 1


def test_sig_tombstone_watermark_allows_reingestion(spark, tmp_path):
    """A tombstone must suppress only signatures that existed at delete
    time: re-ingesting the same id through a LATER fold makes the doc
    matchable again (stable ids — url hashes, content ids — get deleted
    and legitimately resubmitted), and compaction must preserve the
    fresh signature rather than destroy it."""
    docs = _sig_corpus(spark)
    path = str(tmp_path / "store")
    dd.build_signature_store(docs, "doc_id", path)
    dd.signature_store_delete(
        spark, path, spark.createDataFrame([(2,)], "doc_id long")
    )
    assert dd.load_signature_store(spark, path).sigs.where(
        "doc_id = 2").count() == 0
    # re-ingest doc 2 via a fold epoch AFTER the delete
    dd.minhash_signatures(
        docs.where("doc_id = 2"), "doc_id"
    ).write.mode("overwrite").parquet(f"{path}/sigs_folds/batch_id=0")
    assert dd.load_signature_store(spark, path).sigs.where(
        "doc_id = 2").count() == 1
    compacted = dd.signature_store_compact(spark, path, sweep=True)
    assert compacted.sigs.where("doc_id = 2").count() == 1
    # deleting AGAIN removes the re-ingested signature (newer watermark)
    after = dd.signature_store_delete(
        spark, path, spark.createDataFrame([(2,)], "doc_id long")
    )
    assert after.sigs.where("doc_id = 2").count() == 0


def test_sig_delete_rejects_type_mismatch(spark, tmp_path):
    path = str(tmp_path / "store")
    dd.build_signature_store(_sig_corpus(spark), "doc_id", path)
    with pytest.raises(ValueError, match="type"):
        dd.signature_store_delete(
            spark, path, spark.createDataFrame([("2",)], "doc_id string")
        )
    with pytest.raises(ValueError, match="never by"):
        dd.build_signature_store(
            _sig_corpus(spark), "doc_id", path, mode="append"
        )


def test_text_delete_rejects_type_mismatch(spark, tmp_path):
    path = str(tmp_path / "ix")
    build_text_index(_corpus(spark), path, n_buckets=4)
    with pytest.raises(ValueError, match="type"):
        text_index_delete(
            spark, path, spark.createDataFrame([(1,)], "doc_id long")
        )


def test_rebuild_clears_stale_folds(spark, tmp_path):
    """reset_generations must remove the folds dir (whose NAME differs
    from its manifest key) — a rebuild that left it behind would union
    the previous corpus's fold signatures into the fresh store."""
    docs = _sig_corpus(spark)
    path = str(tmp_path / "store")
    dd.build_signature_store(docs.where("doc_id <= 3"), "doc_id", path)
    dd.minhash_signatures(
        docs.where("doc_id > 3"), "doc_id"
    ).write.mode("overwrite").parquet(f"{path}/sigs_folds/batch_id=0")
    rebuilt = dd.build_signature_store(
        docs.where("doc_id <= 2"), "doc_id", path
    )
    assert not os.path.exists(f"{path}/sigs_folds")
    assert sorted(
        r.doc_id for r in rebuilt.sigs.select("doc_id").collect()
    ) == [1, 2]


def test_rebuild_empties_an_old_layout(spark, tmp_path):
    """An overwrite build replaces the store directory the way Spark's
    overwrite replaces a path: an older layout's leftovers (``params`` and
    ``stats`` directories, no manifest) do not survive beside the new
    build, and a stale file inside a reused component name is gone too."""
    docs = _corpus(spark)
    path = tmp_path / "ix"
    for d in ("doclens", "params", "postings", "stats"):
        (path / d).mkdir(parents=True)
        (path / d / "part-00000-old.parquet").write_bytes(b"old")
    build_text_index(docs, str(path), n_buckets=4)
    fresh = tmp_path / "fresh"
    build_text_index(docs, str(fresh), n_buckets=4)
    assert sorted(os.listdir(path)) == sorted(os.listdir(fresh))
    assert not any(
        "old" in name for _, _, names in os.walk(path) for name in names
    )
    assert load_text_index(spark, str(path)).n_docs == 7


def test_store_gc_removes_only_unreferenced_generations(spark, tmp_path):
    """gc_store deletes superseded generations, keeps the manifest's
    current ones, and never cross-collects a component whose name shares
    another's prefix (sigs vs sigs_folds)."""
    from window_aggregation_spark.operators.search import text_index_gc

    docs = _corpus(spark)
    path = str(tmp_path / "ix")
    build_text_index(docs, path, n_buckets=4)
    text_index_delete(spark, path, _ids(spark, "d1"))
    text_index_compact(spark, path)  # no sweep: legacy dirs linger
    assert os.path.exists(f"{path}/postings")
    removed = text_index_gc(path, grace_seconds=0)
    assert "postings" in removed and "postings" in removed["postings"]
    assert not os.path.exists(f"{path}/postings")
    m = sm.read_manifest(path, {})
    assert os.path.exists(f"{path}/{m['postings']}")  # current kept
    # queries still serve identically after gc
    idx = load_text_index(spark, path)
    assert idx.n_docs == 6
    # idempotent
    assert text_index_gc(path, grace_seconds=0) == {}


def test_sig_store_gc_spares_folds(spark, tmp_path):
    """gc must collect the POST-COMPACT sigs_folds dir under its own
    'folds' component (its rows were merged into the new base — it is
    superseded garbage) while never cross-collecting it under the
    prefix-neighbor 'sigs' component; the current compacted generation
    survives and the store keeps serving the merged view."""
    docs = _sig_corpus(spark)
    path = str(tmp_path / "store")
    dd.build_signature_store(docs.where("doc_id <= 3"), "doc_id", path)
    dd.minhash_signatures(
        docs.where("doc_id > 3"), "doc_id"
    ).write.mode("overwrite").parquet(f"{path}/sigs_folds/batch_id=0")
    dd.signature_store_delete(
        spark, path, spark.createDataFrame([(2,)], "doc_id long")
    )
    dd.signature_store_compact(spark, path)  # no sweep
    removed = dd.signature_store_gc(path, grace_seconds=0)
    assert "sigs" in removed
    m = sm.read_manifest(path, {})
    # current (compacted) generation intact, old base + folds + tombs gone
    assert os.path.exists(f"{path}/{m['sigs']}")
    assert not os.path.exists(f"{path}/sigs")
    assert not os.path.exists(f"{path}/sigs_folds")
    ids = sorted(r.doc_id for r in dd.load_signature_store(
        spark, path).sigs.select("doc_id").collect())
    assert ids == [1, 3, 4, 5]


def test_add_is_atomic_under_crash(spark, tmp_path):
    """A text_index_add that dies at ANY point before the manifest flip
    must leave the store serving exactly the pre-add index (its batch
    dirs are unreferenced garbage, collectable by gc) — simulated by
    writing the batch generations WITHOUT flipping the manifest."""
    from window_aggregation_spark.operators.search import (
        _postings_frame, text_index_gc, tokens as _tokens,
    )
    from pyspark.sql import functions as F

    docs = _corpus(spark)
    path = str(tmp_path / "ix")
    build_text_index(docs.where("doc_id <= 'd4'"), path, n_buckets=4)
    before = load_text_index(spark, path)
    scores_before = {q: _scores(before, q) for q in QUERIES}
    # simulate the torn add: batch postings+doclens dirs written, no
    # manifest flip (the stats ride in the flip)
    batch = docs.where("doc_id > 'd4'").select(
        "doc_id", _tokens(F.col("text")).alias("toks")
    )
    _postings_frame(batch, "doc_id", 4).write.partitionBy(
        "term_bucket"
    ).parquet(f"{path}/postings_v1")
    batch.select("doc_id", F.size("toks").alias("dl")).write.parquet(
        f"{path}/doclens_v1"
    )
    after_crash = load_text_index(spark, path)
    assert (after_crash.n_docs, after_crash.sum_dl) == (
        before.n_docs, before.sum_dl)
    for q in QUERIES:
        assert _scores(after_crash, q) == scores_before[q]
    # the garbage is collectable, and a real add then succeeds
    removed = text_index_gc(path, grace_seconds=0)
    assert removed  # the orphaned _v1 dirs went away
    idx = text_index_add(spark, path, docs.where("doc_id > 'd4'"))
    want = build_text_index(docs, str(tmp_path / "rb"), n_buckets=4)
    assert (idx.n_docs, idx.sum_dl) == (want.n_docs, want.sum_dl)
    for q in QUERIES:
        assert _scores(idx, q) == _scores(want, q)


def test_multiple_adds_then_delete_and_compact(spark, tmp_path):
    """Two atomic adds leave a 3-directory postings list; scoring,
    deletion, and compaction must treat the union as one index and
    compaction collapses it back to one directory."""
    docs = _corpus(spark)
    path = str(tmp_path / "ix")
    build_text_index(docs.where("doc_id <= 'd2'"), path, n_buckets=4)
    text_index_add(spark, path, docs.where("doc_id in ('d3','d4')"))
    idx = text_index_add(spark, path, docs.where("doc_id > 'd4'"))
    m = sm.read_manifest(path, {})
    assert len(sm.split_dirs(m["postings"])) == 3
    want = build_text_index(docs, str(tmp_path / "rb"), n_buckets=4)
    for q in QUERIES:
        assert _scores(idx, q) == _scores(want, q)
    text_index_delete(spark, path, _ids(spark, "d1", "d7"))
    compacted = text_index_compact(spark, path, sweep=True)
    m2 = sm.read_manifest(path, {})
    assert len(sm.split_dirs(m2["postings"])) == 1
    want2 = build_text_index(
        docs.where("doc_id not in ('d1','d7')"),
        str(tmp_path / "rb2"), n_buckets=4,
    )
    assert (compacted.n_docs, compacted.sum_dl) == (
        want2.n_docs, want2.sum_dl)
    for q in QUERIES:
        assert _scores(compacted, q) == _scores(want2, q)


def test_add_tolerates_empty_and_tokenless_batches(spark, tmp_path):
    """An empty batch is a published no-op; a batch of zero-token docs
    counts in N (via doclens and the manifest's stats) but must NOT
    publish an empty partitioned postings dir (unreadable: _SUCCESS-only,
    no schema)."""
    docs = _corpus(spark)
    path = str(tmp_path / "ix")
    build_text_index(docs.where("doc_id <= 'd5'"), path, n_buckets=4)
    empty = docs.where("doc_id = 'zzz'")
    idx0 = text_index_add(spark, path, empty)
    assert idx0.n_docs == 5
    tokenless = spark.createDataFrame(
        [("d8", ""), ("d9", "!!!")], "doc_id string, text string"
    )
    idx1 = text_index_add(spark, path, tokenless)
    assert (idx1.n_docs, idx1.sum_dl) == (7, idx0.sum_dl)
    # store still fully functional: queries + another real add
    idx2 = text_index_add(spark, path, docs.where("doc_id = 'd6'"))
    want = build_text_index(
        docs.where("doc_id <= 'd6'").unionByName(tokenless),
        str(tmp_path / "rb"), n_buckets=4,
    )
    for q in QUERIES:
        assert _scores(idx2, q) == _scores(want, q)


def test_concurrent_writer_lost_update_detected(spark, tmp_path):
    """A writer whose manifest snapshot went stale (another add flipped
    in between) must raise instead of silently erasing the other
    writer's published generation."""
    path = str(tmp_path / "store")
    os.makedirs(path)
    sm.write_manifest(path, {"a": "a_v1"})
    snapshot = sm.read_manifest(path, {"a": "a"})
    sm.write_manifest(path, {"a": "a_v2"})  # the other writer
    with pytest.raises(RuntimeError, match="single-writer"):
        sm.write_manifest(path, {"a": "a_v3"}, expected=snapshot)


# ---------------------------------------------------------------------------
# Verified-pair cache (round 8): the CC family's steady-state accelerator
# ---------------------------------------------------------------------------


def _pairs_set(df):
    return sorted((r.id_a, r.id_b, r.jaccard) for r in df.collect())


def test_pair_cache_roundtrip_equals_recompute(spark, tmp_path):
    """Cached verified pairs == the live LSH+verify pipeline, and
    minhash_components(pairs=cache) == the full recompute."""
    docs = _sig_corpus(spark)
    path = str(tmp_path / "store")
    store = dd.build_signature_store(docs, "doc_id", path)
    built = dd.signature_store_build_pairs(docs, "doc_id", path, threshold=0.3)
    live = dd.minhash_dedup_pairs(
        docs, "doc_id", threshold=0.3, signatures=store
    )
    assert _pairs_set(built) == _pairs_set(live)
    cached = dd.load_pair_cache(spark, path, threshold=0.3)
    assert cached is not None
    assert _pairs_set(cached) == _pairs_set(live)
    via_cache = dd.minhash_components(docs, "doc_id", pairs=cached)
    full = dd.minhash_components(docs, "doc_id", threshold=0.3)
    assert sorted(map(tuple, via_cache.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_pair_cache_param_mismatch_returns_none(spark, tmp_path):
    docs = _sig_corpus(spark)
    path = str(tmp_path / "store")
    dd.build_signature_store(docs, "doc_id", path)
    dd.signature_store_build_pairs(docs, "doc_id", path, threshold=0.3)
    assert dd.load_pair_cache(spark, path, threshold=0.5) is None
    assert dd.load_pair_cache(spark, path, threshold=0.3, bands=8) is None
    assert dd.load_pair_cache(spark, path, threshold=0.3) is not None


def test_pair_cache_stale_after_delete_fold_compact_rebuild(spark, tmp_path):
    """EVERY store mutation must drop the cache: tombstone appends and
    streamed folds mutate dirs WITHOUT a manifest flip (only the content
    fingerprint can see them), compaction rotates generations, and a
    rebuild resets everything."""
    docs = _sig_corpus(spark)
    path = str(tmp_path / "store")
    dd.build_signature_store(docs, "doc_id", path)
    dd.signature_store_build_pairs(docs, "doc_id", path, threshold=0.3)
    assert dd.load_pair_cache(spark, path, threshold=0.3) is not None

    # 1. delete (tombstone append, no manifest flip)
    dd.signature_store_delete(
        spark, path, spark.createDataFrame([(2,)], "doc_id long")
    )
    assert dd.load_pair_cache(spark, path, threshold=0.3) is None

    # rebuild the cache over the tombstoned view, then 2. fold a batch
    kept = docs.where("doc_id <> 2")
    dd.signature_store_build_pairs(kept, "doc_id", path, threshold=0.3)
    assert dd.load_pair_cache(spark, path, threshold=0.3) is not None
    dd.minhash_signatures(
        docs.where("doc_id = 2"), "doc_id"
    ).write.mode("overwrite").parquet(f"{path}/sigs_folds/batch_id=0")
    assert dd.load_pair_cache(spark, path, threshold=0.3) is None

    # 3. compaction rotates the manifest's pairs reference away
    dd.signature_store_build_pairs(docs, "doc_id", path, threshold=0.3)
    dd.signature_store_compact(spark, path)
    assert dd.load_pair_cache(spark, path, threshold=0.3) is None

    # 4. rebuild wipes pair generations with everything else
    dd.signature_store_build_pairs(docs, "doc_id", path, threshold=0.3)
    dd.build_signature_store(docs, "doc_id", path)
    assert dd.load_pair_cache(spark, path, threshold=0.3) is None
    assert not any(
        n == "pairs" or n.startswith("pairs_v") for n in os.listdir(path)
    )


def test_pair_cache_survives_store_copy(spark, tmp_path):
    """The fingerprint is content-based (names+sizes, no mtimes): copying
    a store byte-for-byte must keep its pair cache valid."""
    import shutil

    docs = _sig_corpus(spark)
    path = str(tmp_path / "store")
    dd.build_signature_store(docs, "doc_id", path)
    dd.signature_store_build_pairs(docs, "doc_id", path, threshold=0.3)
    copy = str(tmp_path / "copy")
    shutil.copytree(path, copy)
    cached = dd.load_pair_cache(spark, copy, threshold=0.3)
    assert cached is not None and cached.count() > 0


# ---------------------------------------------------------------------------
# gc_store grace period + compact concurrent-writer guard (round 8)
# ---------------------------------------------------------------------------


def test_gc_grace_period_spares_fresh_generations(spark, tmp_path):
    """A fully-written-but-not-yet-flipped generation (an in-flight add)
    must survive gc_store under the default grace period, so the
    subsequent manifest flip never publishes a deleted directory."""
    from window_aggregation_spark.operators.search import text_index_gc

    docs = _corpus(spark)
    path = str(tmp_path / "ix")
    build_text_index(docs, path, n_buckets=4)
    text_index_delete(spark, path, _ids(spark, "d1"))
    text_index_compact(spark, path)  # superseded dirs linger (no sweep)
    # a just-staged, unreferenced generation = mid-publish state
    os.makedirs(f"{path}/postings_v9")
    open(f"{path}/postings_v9/part-0", "w").write("x")
    removed = text_index_gc(path)  # default grace: everything is fresh
    assert removed == {}
    assert os.path.exists(f"{path}/postings_v9")
    # age the staged generation artificially -> now collectable
    old = 1_000_000_000
    os.utime(f"{path}/postings_v9", (old, old))
    os.utime(f"{path}/postings_v9/part-0", (old, old))
    for name in os.listdir(path):
        full = os.path.join(path, name)
        if os.path.isdir(full):
            for root, _, files in os.walk(full):
                os.utime(root, (old, old))
                for fn in files:
                    os.utime(os.path.join(root, fn), (old, old))
    removed = text_index_gc(path)
    assert "postings" in removed and "postings_v9" in removed["postings"]


def _text_add(spark, tmp_path):
    path = str(tmp_path / "ix")
    docs = _corpus(spark)
    build_text_index(docs.where("doc_id <= 'd4'"), path, n_buckets=4)
    return path, lambda: text_index_add(
        spark, path, docs.where("doc_id > 'd4'")
    )


def _text_compact(spark, tmp_path):
    path = str(tmp_path / "ix")
    build_text_index(_corpus(spark), path, n_buckets=4)
    text_index_delete(spark, path, _ids(spark, "d1"))
    return path, lambda: text_index_compact(spark, path)


def _ivf_add(spark, tmp_path):
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(_vectors(spark, 24), path, n_centroids=4)
    return path, lambda: sim.ivf_index_add(
        spark, path, _vectors(spark, 32).where("vec_id >= 24")
    )


def _ivf_compact(spark, tmp_path):
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(_vectors(spark, 24), path, n_centroids=4)
    sim.ivf_index_delete(
        spark, path, spark.createDataFrame([(3,)], "vec_id long")
    )
    return path, lambda: sim.ivf_index_compact(spark, path)


def _signature_compact(spark, tmp_path):
    path = str(tmp_path / "store")
    dd.build_signature_store(_sig_corpus(spark), "doc_id", path)
    dd.signature_store_delete(
        spark, path, spark.createDataFrame([(2,)], "doc_id long")
    )
    return path, lambda: dd.signature_store_compact(spark, path)


def _signature_build_pairs(spark, tmp_path):
    path = str(tmp_path / "store")
    docs = _sig_corpus(spark)
    dd.build_signature_store(docs, "doc_id", path)
    return path, lambda: dd.signature_store_build_pairs(
        docs, "doc_id", path, threshold=0.3
    )


def _span_compact(spark, tmp_path):
    path = str(tmp_path / "spans")
    docs = spark.createDataFrame(
        [
            (1, "Corpus doc opens. And more here. Also this one."),
            (2, "Batch text arrives. With new words. Exactly so."),
        ],
        "doc_id long, text string",
    )
    dd.build_sentence_hash_store(docs.where("doc_id = 1"), "doc_id", path)
    dd.sentence_hash_store_add(
        docs.where("doc_id = 2"), "doc_id", path, batch_id=0, reload=False
    )
    return path, lambda: dd.sentence_hash_store_compact(spark, path)


_PUBLISHING_MUTATIONS = {
    "text_add": _text_add,
    "text_compact": _text_compact,
    "ivf_add": _ivf_add,
    "ivf_compact": _ivf_compact,
    "signature_compact": _signature_compact,
    "signature_build_pairs": _signature_build_pairs,
    "span_compact": _span_compact,
}


@pytest.mark.parametrize("mutation", sorted(_PUBLISHING_MUTATIONS))
def test_compact_raises_on_concurrent_manifest_flip(spark, tmp_path, mutation):
    """The expected= guard on EVERY publishing mutation: a writer that
    flips the manifest between the mutation's read and its publish must
    make the mutation raise, not silently erase the other writer's
    generation."""
    path, mutate = _PUBLISHING_MUTATIONS[mutation](spark, tmp_path)
    real_write = sm.write_manifest
    calls = {}

    def hijack(p, mapping, expected=None):
        # simulate the concurrent writer ONCE, just before the flip
        if not calls:
            calls["x"] = 1
            real_write(p, {**sm.read_manifest(p, {}), "intruder": "g1"})
        return real_write(p, mapping, expected=expected)

    # every store publishes through store_manifest.publish, which looks
    # write_manifest up on the module, so patching the attribute is seen
    sm_patched = pytest.MonkeyPatch()
    sm_patched.setattr(sm, "write_manifest", hijack)
    try:
        with pytest.raises(RuntimeError, match="another.*writer|changed"):
            mutate()
    finally:
        sm_patched.undo()
    # the intruder's generation survived
    assert sm.read_manifest(path, {})["intruder"] == "g1"


def test_ivf_build_rejects_append(spark, tmp_path):
    """build_ivf_index refuses mode='append' like the other builders: an
    append build stacked a second codebook and a second copy of every
    list row next to the first."""
    corpus = _vectors(spark).where("vec_id >= 8")
    path = str(tmp_path / "ivf")
    built = sim.build_ivf_index(corpus, path, n_centroids=4)
    with pytest.raises(ValueError, match="ivf_index_add"):
        sim.build_ivf_index(corpus, path, n_centroids=4, mode="append")
    idx = sim.load_ivf_index(spark, path)
    assert idx.centroids.shape == built.centroids.shape == (4, 8)
    assert idx.lists.count() == corpus.count()


def test_ivf_add_is_atomic_under_crash(spark, tmp_path):
    """The IVF twin of test_add_is_atomic_under_crash: an ivf_index_add
    that dies after writing its batch directory but before the manifest
    flip leaves the store serving exactly the pre-add index; the orphaned
    lists_v1 is collectable garbage, and a real add afterwards equals a
    one-shot build with the same codebook."""
    vectors = _vectors(spark)
    queries = vectors.where("vec_id < 8")
    first = vectors.where("vec_id >= 8 and vec_id < 24")
    second = vectors.where("vec_id >= 24")
    path = str(tmp_path / "ivf")
    before = sim.build_ivf_index(first, path, n_centroids=4)
    rows_before = _topk_rows(before, queries)

    def crash(*args, **kwargs):
        raise RuntimeError("crashed before the flip")

    mp = pytest.MonkeyPatch()
    mp.setattr(sm, "publish", crash)
    try:
        with pytest.raises(RuntimeError, match="crashed"):
            sim.ivf_index_add(spark, path, second)
    finally:
        mp.undo()
    assert os.path.isdir(f"{path}/lists_v1")
    after_crash = sim.load_ivf_index(spark, path)
    assert after_crash.lists.count() == first.count()
    assert _topk_rows(after_crash, queries) == rows_before
    assert sim.ivf_index_gc(path, grace_seconds=0) == {"lists": ["lists_v1"]}
    # an empty batch publishes nothing
    empty = sim.ivf_index_add(spark, path, second.where("vec_id < 0"))
    assert empty.lists.count() == first.count()
    assert sm.read_manifest(path, sim._IVF_COMPONENTS)["lists"] == "lists"
    # a real add is one flip onto a ";"-joined list; compact collapses it
    idx = sim.ivf_index_add(spark, path, second)
    assert len(sm.split_dirs(sm.read_manifest(path, {})["lists"])) == 2
    want = sim.build_ivf_index(
        vectors.where("vec_id >= 8"), str(tmp_path / "rb"), n_centroids=4
    )
    assert _topk_rows(idx, queries) == _topk_rows(want, queries)
    compacted = sim.ivf_index_compact(spark, path)
    assert len(sm.split_dirs(sm.read_manifest(path, {})["lists"])) == 1
    assert _topk_rows(compacted, queries) == _topk_rows(want, queries)


def test_add_only_index_compacts_to_one_directory(spark, tmp_path):
    """Three adds and no delete leave four postings and doclens
    directories; a compaction collapses each list to one directory, and
    the compacted index still scores like DuckDB's BM25 over its docs."""
    import duckdb

    from window_aggregation_spark.operators.search import bm25_topk_oracle_sql

    docs = _corpus(spark)
    path = str(tmp_path / "ix")
    build_text_index(docs.where("doc_id <= 'd3'"), path, n_buckets=4)
    for batch in ("doc_id = 'd4'", "doc_id = 'd5'", "doc_id > 'd5'"):
        text_index_add(spark, path, docs.where(batch))
    m = sm.read_manifest(path, {})
    assert [len(sm.split_dirs(m[k])) for k in ("postings", "doclens")] == [4, 4]
    idx = text_index_compact(spark, path)
    m = sm.read_manifest(path, {})
    assert [len(sm.split_dirs(m[k])) for k in ("postings", "doclens")] == [1, 1]
    assert idx.tombstones is None
    assert load_text_index(spark, path).n_docs == idx.n_docs == 7
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE docs (doc_id VARCHAR, text VARCHAR)")
        con.executemany(
            "INSERT INTO docs VALUES (?, ?)",
            [(r.doc_id, r.text) for r in docs.collect()],
        )
        for q in QUERIES:
            want = con.execute(
                bm25_topk_oracle_sql(q, k=10, table="docs")
            ).fetchall()
            assert _scores(idx, q) == [(a, float(b)) for a, b in want]
    finally:
        con.close()
