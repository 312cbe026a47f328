"""Streaming corpus ingestion with near-dup filtering: the estimate-mode
verifier must equal its from-signatures definition, and the stream must
equal the sequential batch model — including a batch-2 doc being dropped
because it duplicates a doc ACCEPTED in batch 1 (the signature fold)."""

from __future__ import annotations

import glob
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from window_aggregation_spark.operators import dedup as dd
from window_aggregation_spark.sources.io import read_table
from window_aggregation_spark.streaming.ingest_dedup import (
    ingest_dedup_batch,
    streaming_ingest_dedup,
)

THRESHOLD = 0.3


def test_estimate_verify_equals_signature_agreement(spark, sf_dir):
    """verify='estimate' must emit exactly the pairs whose fraction of
    agreeing minhash components is >= threshold — recomputed here from
    the raw signatures, independent of the operator's join plan."""
    docs = read_table(spark, sf_dir, "documents")
    new = docs.where("doc_id % 7 = 3")
    corpus = docs.where("doc_id % 7 <> 3")
    got = {
        (r["new_id"], r["corpus_id"]): r["jaccard"]
        for r in dd.minhash_dedup_against(
            new, corpus, "doc_id", threshold=THRESHOLD, verify="estimate"
        ).collect()
    }
    nsig = {
        r["doc_id"]: [r[f"m{i}"] for i in range(64)]
        for r in dd.minhash_signatures(new, "doc_id").collect()
    }
    csig = {
        r["doc_id"]: [r[f"m{i}"] for i in range(64)]
        for r in dd.minhash_signatures(corpus, "doc_id").collect()
    }
    expected = {}
    for nid, ns in nsig.items():
        for cid, cs in csig.items():
            # unrounded: the operator rounds half-up (Spark), Python
            # rounds half-even — compare with a tolerance far below the
            # estimator's 1/64 granularity instead of re-rounding
            est = sum(a == b for a, b in zip(ns, cs)) / 64
            if est >= THRESHOLD:
                expected[(nid, cid)] = est
    # the operator only sees band-collision candidates; at 16 bands of 4
    # rows a pair at est >= 0.3 colliding nowhere is possible in theory,
    # so assert operator ⊆ brute force with equal values, plus that the
    # high-agreement pairs (>= 0.5: collision odds ~1) are all found
    assert got and set(got) <= set(expected)
    for k, v in got.items():
        assert expected[k] == pytest.approx(v, abs=1e-4)
    assert {k for k, v in expected.items() if v >= 0.75} <= set(got)


def test_estimate_verify_never_touches_corpus_text(spark, sf_dir):
    """With a signature store and verify='estimate', corpus text must never
    be evaluated — the zero-corpus-bytes serving property the module
    promises. Pinned by poisoning the corpus text column with raise_error:
    estimate mode evaluates fine, exact mode (which re-shingles candidate
    corpus text) blows up on the same inputs."""
    docs = read_table(spark, sf_dir, "documents")
    new = docs.where("doc_id % 7 = 3")
    corpus = docs.where("doc_id % 7 <> 3")
    sigs = dd.minhash_signatures(corpus, "doc_id")
    poisoned = corpus.withColumn(
        "text", F.raise_error(F.lit("corpus text read")).cast("string")
    )
    n = dd.minhash_dedup_against(
        new, poisoned, "doc_id",
        threshold=THRESHOLD, corpus_signatures=sigs, verify="estimate",
    ).count()
    assert n > 0
    with pytest.raises(Exception, match="corpus text read"):
        dd.minhash_dedup_against(
            new, poisoned, "doc_id",
            threshold=THRESHOLD, corpus_signatures=sigs, verify="exact",
        ).count()


@pytest.fixture()
def staged_ingest(spark, sf_dir, tmp_path):
    """Corpus + 3 time-ordered 'new batch' files, where file 2 contains a
    byte-identical copy (fresh id) of a doc arriving in file 0 — droppable
    ONLY if batch-0 survivors' signatures were folded into the store."""
    docs = read_table(spark, sf_dir, "documents")
    corpus = docs.where("doc_id % 7 <> 3")
    new = docs.where("doc_id % 7 = 3")
    ids = sorted(r["doc_id"] for r in new.select("doc_id").collect())
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    part0 = new.where(F.col("doc_id") < cuts[0])
    # the dup source must be a doc batch 0 actually ACCEPTS (not itself a
    # corpus near-dup, not shadowed by a smaller in-batch cluster member),
    # so run the batch step once here to pick one deterministically
    src_id = min(
        r["doc_id"]
        for r in ingest_dedup_batch(
            part0, corpus, "doc_id", threshold=THRESHOLD, verify="estimate"
        ).select("doc_id").collect()
    )
    dup = docs.where(F.col("doc_id") == src_id).withColumn(
        "doc_id", F.lit(10**9).cast("long")
    )
    parts = [
        part0,
        new.where(
            (F.col("doc_id") >= cuts[0]) & (F.col("doc_id") < cuts[1])
        ),
        new.where(F.col("doc_id") >= cuts[1]).unionByName(dup),
    ]
    stream_dir = tmp_path / "incoming"
    stream_dir.mkdir()
    for i, part in enumerate(parts):
        w = str(tmp_path / f"w{i}")
        part.coalesce(1).write.parquet(w)
        src = glob.glob(f"{w}/part-*.parquet")[0]
        dst = stream_dir / f"part-{i}.parquet"
        shutil.move(src, dst)
        mtime = time.time() - 300 + i * 10
        os.utime(dst, (mtime, mtime))
    store = dd.build_signature_store(
        corpus, "doc_id", str(tmp_path / "store")
    )
    return corpus, parts, str(stream_dir), str(tmp_path / "store"), store, src_id


def test_streaming_ingest_equals_sequential_batch_model(
    spark, tmp_path, staged_ingest
):
    corpus, parts, stream_dir, store_path, store, src_id = staged_ingest
    n_sigs_before = store.sigs.count()

    # sequential batch model: every accepted doc joins the corpus the
    # next batch is checked against (signatures recomputed from text —
    # identical by construction to the store + folds)
    accepted = corpus
    expected: set[int] = set()
    per_batch: list[set[int]] = []
    for part in parts:
        surv = ingest_dedup_batch(
            part, accepted, "doc_id",
            threshold=THRESHOLD, verify="estimate",
        )
        ids = {r["doc_id"] for r in surv.select("doc_id").collect()}
        per_batch.append(ids)
        expected |= ids
        # checkpoint the growing corpus: each surv is a full dedup-plan
        # subtree, so the lazy union nests 64-aggregate signature plans
        # one level deeper per batch and batch 2's model re-plans and
        # re-executes the whole history (measured: this one test took
        # 255 s isolated; the value-identical checkpoint cuts it to
        # 92 s — pure test-infrastructure cost, assertions unchanged)
        accepted = accepted.unionByName(surv).localCheckpoint()

    # the synthetic copy's source doc is accepted in batch 0, so the copy
    # itself must be dropped in batch 2 — the cross-batch fold under test
    assert src_id in per_batch[0]
    assert 10**9 not in expected

    schema = spark.read.parquet(stream_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    out_path = str(tmp_path / "clean")
    q = streaming_ingest_dedup(
        stream, corpus, "doc_id",
        store_path=store_path,
        out_path=out_path,
        checkpoint_dir=str(tmp_path / "ckpt"),
        threshold=THRESHOLD,
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got_rows = spark.read.parquet(out_path).collect()
    # per-batch attribution via the partition column must match the
    # sequential model batch by batch, not just in aggregate
    by_batch: dict[int, set[int]] = {}
    for r in got_rows:
        by_batch.setdefault(int(r["batch_id"]), set()).add(r["doc_id"])
    model = {i: ids for i, ids in enumerate(per_batch) if ids}
    assert by_batch == model
    # folded signatures are readable as one coherent (grown) store: the
    # originals plus one signature row per accepted doc that has shingles
    survivors = accepted.join(
        corpus.select("doc_id"), on="doc_id", how="left_anti"
    )
    n_new_sigs = dd.minhash_signatures(survivors, "doc_id").count()
    grown = dd.load_signature_store(spark, store_path)
    assert grown.sigs.count() == n_sigs_before + n_new_sigs


def test_exact_verify_with_fold_is_rejected(spark, sf_dir, tmp_path):
    """verify='exact' + fold_signatures=True would silently skip folded
    survivors during verification (their text is not in `corpus`) —
    disabling the cross-batch dedup the fold exists for. The writer must
    refuse the combination up front."""
    docs = read_table(spark, sf_dir, "documents")
    stream = (
        spark.readStream.schema(docs.schema)
        .parquet(str(tmp_path))  # never started; construction-time check
    )
    with pytest.raises(ValueError, match="folded"):
        streaming_ingest_dedup(
            stream, docs, "doc_id",
            store_path=str(tmp_path / "s"),
            out_path=str(tmp_path / "o"),
            checkpoint_dir=str(tmp_path / "c"),
            verify="exact",
        )
    # exact against a frozen corpus stays allowed
    streaming_ingest_dedup(
        stream, docs, "doc_id",
        store_path=str(tmp_path / "s"),
        out_path=str(tmp_path / "o"),
        checkpoint_dir=str(tmp_path / "c"),
        verify="exact", fold_signatures=False,
    )


def test_replayed_epochs_are_idempotent(spark, tmp_path, staged_ingest):
    """A micro-batch replayed AFTER its signature fold (retry before the
    checkpoint commit, or a lost checkpoint) must reproduce its original
    survivors and store rows exactly: the per-epoch fold partition is
    overwritten (not re-appended), and the epoch's dedup excludes its OWN
    folded signatures — otherwise every doc would band-match itself in
    the store and the replay would overwrite the output partition as
    empty (silent data loss)."""
    corpus, parts, stream_dir, store_path, _store, _src = staged_ingest

    schema = spark.read.parquet(stream_dir).schema
    out_path = str(tmp_path / "clean")

    def run(ckpt: str) -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        q = streaming_ingest_dedup(
            stream, corpus, "doc_id",
            store_path=store_path,
            out_path=out_path,
            checkpoint_dir=ckpt,
            threshold=THRESHOLD,
        ).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run(str(tmp_path / "ckpt1"))
    first_out = sorted(
        (int(r["batch_id"]), r["doc_id"])
        for r in spark.read.parquet(out_path).collect()
    )
    first_sigs = dd.load_signature_store(spark, store_path).sigs.count()
    assert first_out, "first run must accept documents"

    # fresh checkpoint => the SAME files replay as the same epoch ids,
    # now with every epoch's fold already present in the store
    run(str(tmp_path / "ckpt2"))
    replay_out = sorted(
        (int(r["batch_id"]), r["doc_id"])
        for r in spark.read.parquet(out_path).collect()
    )
    replay_sigs = dd.load_signature_store(spark, store_path).sigs.count()
    assert replay_out == first_out
    assert replay_sigs == first_sigs


def test_exclude_fold_epoch_reconstructs_prefold_state(spark, sf_dir, tmp_path):
    docs = read_table(spark, sf_dir, "documents").limit(40)
    store_path = str(tmp_path / "store")
    dd.build_signature_store(docs.where("doc_id % 2 = 0"), "doc_id", store_path)
    batch = docs.where("doc_id % 2 = 1")
    dd.minhash_signatures(batch, "doc_id").write.mode("overwrite").parquet(
        f"{store_path}/sigs_folds/batch_id=4"
    )
    full = dd.load_signature_store(spark, store_path)
    without = dd.load_signature_store(spark, store_path, exclude_folds_from=4)
    assert full.sigs.count() == without.sigs.count() + batch.count()


def test_epoch_checkpoint_blocks_freed_across_epochs(
    spark, tmp_path, staged_ingest
):
    """The dedup stream's twin of ingest_spans'
    ``test_epoch_checkpoint_blocks_freed_across_serves``: each epoch pins
    its cleaned batch (two writes read it) and, with ``intra_batch=True``,
    the CC loop's final round (the cleaned batch's lazy plan reads it).
    Once both writes land the epoch must free both, or a long-running
    stream pins them for every epoch. Every staged batch gains two
    copies of a text of its own (an intra-batch duplicate pair, so the CC
    edge set is not empty); the batches arrive one file per epoch, and
    after every epoch no storage block the stream created may be left."""
    corpus, parts, _stream_dir, store_path, _store, _src = staged_ingest
    live = tmp_path / "live"
    live.mkdir()
    twin_ids = []
    for epoch, part in enumerate(parts):
        twin_id = 2_000_000_000 + 10 * epoch
        twin_ids.append(twin_id)
        twins = (
            part.orderBy("doc_id").limit(1)
            .crossJoin(spark.range(2).withColumnRenamed("id", "__k"))
            .withColumn("doc_id", F.lit(twin_id) + F.col("__k"))
            .withColumn("text", F.lit(
                " ".join(f"epoch{epoch} word{k}" for k in range(30))
            ))
            .drop("__k")
        )
        w = str(tmp_path / f"twins{epoch}")
        part.unionByName(twins).coalesce(1).write.parquet(w)
        shutil.move(
            glob.glob(f"{w}/part-*.parquet")[0],
            tmp_path / f"epoch-{epoch}.parquet",
        )

    def stored_ids() -> set[int]:
        # ids, not a count: the ContextCleaner may drop earlier tests'
        # blocks at any moment, which only shrinks the set
        return {
            int(i.id())
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    out_path = str(tmp_path / "clean")
    stream = spark.readStream.schema(
        spark.read.parquet(str(tmp_path / "epoch-0.parquet")).schema
    ).parquet(str(live))
    q = streaming_ingest_dedup(
        stream, corpus, "doc_id",
        store_path=store_path,
        out_path=out_path,
        checkpoint_dir=str(tmp_path / "ckpt"),
        threshold=THRESHOLD,
        intra_batch=True,
    ).start()
    try:
        base = stored_ids()
        for epoch in range(len(parts)):
            name = f"epoch-{epoch}.parquet"
            shutil.move(tmp_path / name, live / name)
            q.processAllAvailable()
            leaked = stored_ids() - base
            assert not leaked, (
                f"epoch {epoch} left blocks pinned: {sorted(leaked)}"
            )
        assert q.lastProgress["batchId"] == len(parts) - 1
    finally:
        q.stop()
    # each epoch's duplicate pair collapsed to its lower id in the CC step
    got = {r["doc_id"] for r in spark.read.parquet(out_path).collect()}
    for twin_id in twin_ids:
        assert twin_id in got and twin_id + 1 not in got, twin_id
