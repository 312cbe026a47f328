"""Streaming corpus ingestion with near-dup filtering against a persisted
signature store — the serving loop of a training-data pipeline.

A 100 TB corpus is not deduplicated once; it is deduplicated FOREVER: every
arriving batch must be checked against everything already accepted, and
what survives becomes part of what the next batch is checked against. This
module wires that loop out of the batch operators:

- the static corpus's minhash signatures live in a write-once
  :class:`..operators.dedup.SignatureStore` (``build_signature_store``) —
  a few hundred bytes/doc, ~1000x smaller than text;
- each micro-batch is filtered by
  :func:`..operators.dedup.dedup_new_against_corpus` with
  ``verify="estimate"`` (signature-agreement MinHash estimator), so
  ingestion touches ZERO corpus text bytes — cost is O(batch) + the
  candidate join against the store;
- survivors are optionally self-deduplicated within the batch
  (``minhash_dedup_cc`` — transitive clusters, min-id representative);
- survivors are written to ``out_path/batch_id=N`` (overwrite-per-batch,
  so a replayed/retried micro-batch is idempotent), and their signatures
  are FOLDED back into the store, which is what makes batch N+1 dedup
  against batch N.

The reference engine has no streaming surface; this is extension scope
(SURVEY §2.5), composing the batch dedup family with Structured Streaming's
``foreachBatch`` exactly like ``streaming/upsert.py`` composes MERGE.

Both sinks are idempotent under micro-batch replay: survivors overwrite
``out_path/batch_id=N``, and the signature fold overwrites
``{store_path}/sigs_folds/batch_id=N`` — a batch retried after the fold
but before the checkpoint commit REPLACES its signature rows instead of
appending duplicates, so the store never accumulates replay-inflated
candidate fan-out. ``load_signature_store`` unions the fold partitions
with the build-time base signatures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from window_aggregation_spark.operators.dedup import (
    SignatureStore,
    dedup_new_against_corpus,
    load_signature_store,
    minhash_dedup_cc,
    signature_store_fold,
)
from window_aggregation_spark.session import checkpoint, scope


def ingest_dedup_batch(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    corpus_signatures: "SignatureStore | DataFrame | None" = None,
    threshold: float = 0.5,
    verify: str = "estimate",
    intra_batch: bool = True,
    ngram: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """One ingestion step, as a plain batch transform (unit-testable, and
    exactly what the stream runs per micro-batch): drop every ``batch`` doc
    that near-duplicates the corpus, then (``intra_batch=True``) keep one
    representative per within-batch duplicate cluster."""
    survivors = dedup_new_against_corpus(
        batch,
        corpus,
        id_col,
        text_col,
        corpus_signatures=corpus_signatures,
        threshold=threshold,
        verify=verify,
        ngram=ngram,
        num_hashes=num_hashes,
        bands=bands,
    )
    if intra_batch:
        survivors = minhash_dedup_cc(
            survivors,
            id_col,
            text_col,
            threshold=threshold,
            ngram=ngram,
            num_hashes=num_hashes,
            bands=bands,
        )
    return survivors


def streaming_ingest_dedup(
    new_stream: DataFrame,
    corpus: DataFrame,
    id_col: str,
    *,
    store_path: str,
    out_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    threshold: float = 0.5,
    verify: str = "estimate",
    intra_batch: bool = True,
    fold_signatures: bool = True,
):
    """Return a started-ready ``DataStreamWriter`` that runs the ingestion
    loop: each micro-batch of ``new_stream`` is filtered against the
    signature store at ``store_path`` (built ONCE over ``corpus`` with
    :func:`..operators.dedup.build_signature_store`), survivors land under
    ``out_path/batch_id=N`` (read the whole sink with
    ``spark.read.parquet(out_path)`` — partition discovery reassembles it),
    and with ``fold_signatures=True`` the survivors' signatures append to
    the store so LATER batches dedup against them too.

    The store is re-loaded per batch on purpose: the fold writes parquet
    under ``{store_path}/sigs_folds/batch_id=N`` (overwrite-per-epoch, so
    replays are idempotent), and a fresh load is what unions them in. ``corpus`` itself is only consulted when ``verify="exact"``
    (text verification of candidates); the default estimator never reads
    it, so the static side of every batch plan is the store's signatures.
    Caller starts it: ``streaming_ingest_dedup(...).start()``.

    ``verify="exact"`` is rejected when ``fold_signatures=True``: exact
    verification joins candidate pairs against ``corpus`` TEXT, and folded
    survivors exist only in the signature store — their candidates would
    silently drop in that join, disabling exactly the cross-batch dedup
    the fold is for. Use the estimator with folding (the serving shape),
    or exact verification against a frozen corpus with ``fold_signatures=
    False``."""
    if verify == "exact" and fold_signatures:
        raise ValueError(
            "verify='exact' cannot confirm candidates against folded "
            "survivors (their text is not in `corpus`) — use "
            "verify='estimate' with fold_signatures=True, or "
            "fold_signatures=False for exact verification against a "
            "frozen corpus"
        )

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.head(1):
            return
        spark = batch_df.sparkSession
        # the scope frees every frame the epoch pinned once both writes
        # have landed: the cleaned batch and the intra-batch CC loop's
        # final round, which its lazy result reads until then — without
        # it a long-running stream pins both for every epoch
        with scope():
            # exclude THIS epoch's fold partition AND every later one
            # (r13, >= semantics): a replayed batch must dedup against
            # the store state it saw the first time — its own folded
            # signatures would drop every doc as a self-duplicate and
            # empty the output partition, and under a fresh-checkpoint
            # multi-epoch replay an EARLY epoch seeing a LATER epoch's
            # folds would drop documents the first run admitted
            store = load_signature_store(
                spark, store_path, exclude_folds_from=int(epoch_id)
            )
            clean = checkpoint(  # computed once, consumed by two writes
                ingest_dedup_batch(
                    batch_df,
                    corpus,
                    id_col,
                    text_col,
                    corpus_signatures=store,
                    threshold=threshold,
                    verify=verify,
                    intra_batch=intra_batch,
                    ngram=store.ngram,
                    num_hashes=store.num_hashes,
                ),
                eager=True,
            )
            clean.write.mode("overwrite").parquet(
                f"{out_path}/batch_id={int(epoch_id)}"
            )
            if not fold_signatures:
                return
            # overwrites THIS epoch's fold partition: replayed batches
            # replace their own rows (idempotent). It follows
            # signature_store_compact generations (run compaction only
            # between streaming runs — see its doc)
            signature_store_fold(
                clean, id_col, store_path, text_col, batch_id=int(epoch_id)
            )

    return (
        new_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
