"""BM25 full-text relevance search over a document corpus.

Keyword retrieval is the standard lexical complement to the embedding-ANN
operators in ``operators/similarity.py`` (hybrid retrieval pipelines score
candidates under both). This module implements Okapi BM25 (Lucene's
variant: ``idf = ln((N - df + 0.5)/(df + 0.5) + 1)``, saturation
``tf*(k1+1)/(tf + k1*(1 - b + b*dl/avgdl))``) with built-in Catalyst
expressions only — no UDFs, no inverted index to maintain.

- :func:`bm25_topk` — one literal query. Two corpus passes: a 1-row
  stats aggregate (N, avgdl, per-term document frequencies — all map-side
  combined, broadcast back), then a scan-and-score pass where each
  term's tf is a ``size(filter(tokens, = term))`` projection (the query
  terms are literals, so there is NO explode and NO join on the corpus)
  feeding ``TakeOrderedAndProject`` — the top-k never shuffles the
  corpus.
- :func:`bm25_topk_batch` — a batch of queries as a DataFrame (the scale
  path for query logs). The corpus token stream is filtered to the union
  of query terms BEFORE its one aggregation shuffle, per-term statistics
  join the query plan broadcast, and per-(query, doc) scores fold in
  term-sorted order so the DuckDB oracle reproduces the double bit-for-bit.

Cross-engine determinism: idf values round to 9 decimals before use,
final scores to 6; ties break on doc_id in both engines.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from window_aggregation_spark.operators.lm import sorted_fold_sum
from window_aggregation_spark.operators.text import TOKEN_RE, tokens
from window_aggregation_spark.session import checkpoint
from window_aggregation_spark.sources import store_manifest as sm

# Component -> directory names of a freshly built index. Its params and
# stats (N, sum of lengths) live in the manifest.
_IDX_COMPONENTS = {
    "postings": "postings",
    "doclens": "doclens",
    "tombstones": "tombstones",
}

_IDF_SCALE = 9
_SCORE_SCALE = 6
_TOK = re.compile(TOKEN_RE)


def query_terms(query: str) -> list[str]:
    """Sorted distinct alnum tokens of a query string (duplicates in the
    query do not re-weight BM25)."""
    return sorted(set(_TOK.findall(query.lower())))


def _idf(n_docs, df_col):
    return F.round(
        F.log((n_docs - df_col + F.lit(0.5)) / (df_col + F.lit(0.5))
              + F.lit(1.0)),
        _IDF_SCALE,
    )


def bm25_topk(
    df: DataFrame,
    query: str,
    k: int = 10,
    *,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Top-``k`` documents for one query under BM25.

    Returns ``id_col`` + ``keep_cols`` + ``score`` (rounded to 6),
    descending, ties broken by ``id_col``; documents matching no query
    term (score 0) are excluded. The per-term tf is a literal-folded
    projection, so the scoring pass is one whole-stage-codegen scan and
    the top-k is a ``TakeOrderedAndProject`` (no corpus shuffle at all —
    the only exchanged bytes are the 1-row stats broadcast).
    """
    terms = query_terms(query)
    if not terms:
        raise ValueError("query contains no indexable terms")

    toks = tokens(F.col(text_col))
    dl = F.size(toks)

    stats = df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks)).alias("sum_dl"),
        *[
            F.sum(F.array_contains(toks, t).cast("long")).alias(f"df_{i}")
            for i, t in enumerate(terms)
        ],
    )

    scored = df.crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl") / F.col("n_docs")
    norm = F.lit(1.0) - F.lit(b) + F.lit(b) * dl / avgdl

    def term_score(i: int, t: str):
        tf = F.size(F.filter(toks, lambda x: x == F.lit(t))).cast("double")
        idf = _idf(F.col("n_docs"), F.col(f"df_{i}"))
        return idf * (tf * F.lit(k1 + 1.0)) / (tf + F.lit(k1) * norm)

    score = F.round(
        reduce(lambda a, c: a + c,
               [term_score(i, t) for i, t in enumerate(terms)]),
        _SCORE_SCALE,
    )
    return (
        scored.select(id_col, *keep_cols, score.alias("score"))
        .where(F.col("score") > 0)
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def bm25_topk_batch(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
) -> DataFrame:
    """Top-``k`` per query for a batch of queries (``query_id``,
    ``query_text``) — the query-log scale path.

    The corpus explodes to (doc, token) pairs but is filtered to the
    union of query terms via a broadcast semi-join BEFORE its one
    aggregation shuffle, so shuffle volume is bounded by matches, not
    corpus tokens. Scores fold in term-sorted order per (query, doc);
    output adds ``rn`` (1-based rank, ties broken by doc id).

    Contract difference from :func:`bm25_topk`: a query whose text
    tokenizes to nothing simply produces no output rows (the plan is
    declarative — there is no place to raise per-row), the same
    signature as a query matching no documents. Callers who must
    distinguish should anti-join the result's query ids against the
    input.
    """
    q_terms = (
        queries.select(
            query_id_col,
            F.explode(tokens(F.col(query_text_col))).alias("token"),
        )
        .dropDuplicates([query_id_col, "token"])
    )
    all_terms = q_terms.select("token").distinct()

    toks = tokens(F.col(text_col))
    base = df.select(id_col, toks.alias("toks"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("toks")).alias("sum_dl"),
    )

    doc_tok = base.select(
        id_col, F.size("toks").alias("dl"), F.explode("toks").alias("token")
    ).join(F.broadcast(all_terms), "token", "left_semi")
    doc_tf = doc_tok.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )
    # consumed by the per-term statistics AND the scoring join; pinned so
    # the filtered-explode pipeline runs once (same rationale as
    # operators/lm.py — AQE exchange reuse does not dedupe the branches)
    doc_tf = checkpoint(doc_tf)

    term_df = doc_tf.groupBy("token").agg(
        F.count(F.lit(1)).alias("df_t")
    )
    term_idf = term_df.crossJoin(F.broadcast(stats)).select(
        "token", _idf(F.col("n_docs"), F.col("df_t")).alias("idf"),
        "n_docs", "sum_dl",
    )

    avgdl = F.col("sum_dl") / F.col("n_docs")
    norm = F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / avgdl
    tf = F.col("tf").cast("double")
    contrib = (
        doc_tf.join(F.broadcast(term_idf), "token")
        .join(F.broadcast(q_terms), "token")
        .select(
            query_id_col,
            id_col,
            "token",
            (F.col("idf") * (tf * F.lit(k1 + 1.0))
             / (tf + F.lit(k1) * norm)).alias("term_score"),
        )
    )
    scored = contrib.groupBy(query_id_col, id_col).agg(
        F.round(
            sorted_fold_sum(F.col("token"), F.col("term_score")),
            _SCORE_SCALE,
        ).alias("score")
    ).where(F.col("score") > 0)

    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .where(F.col("rn") <= k)
    )


def tfidf_keywords(
    df: DataFrame,
    m: int = 5,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``m`` characteristic terms per document by tf-idf (keyword
    extraction / doc summarization for corpus exploration).

    ``score = tf * round(ln(N / (1 + df_t)) + 1, 9)`` rounded to 6; output
    is exploded ``(id, token, score, rank)`` rows with rank ties broken by
    token. One corpus-side exchange (the same repartition-before-explode
    shape as ``operators/lm.py``) — the per-document ranking window reuses
    that partitioning, so the ranking adds NO shuffle; document
    frequencies aggregate from the per-doc counts and broadcast back.
    """
    base = df.select(id_col, tokens(F.col(text_col)).alias("toks"))
    base = base.repartition(id_col)
    doc_tf = (
        base.select(id_col, F.explode("toks").alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    doc_tf = checkpoint(doc_tf)

    # count the RAW input (map-side combined, no exchange) — counting
    # through `base` would inherit the doc-id repartition shuffle just to
    # produce one row
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    term_df = doc_tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_t"))
    idf = term_df.crossJoin(F.broadcast(n_docs)).select(
        "token",
        F.round(
            F.log(F.col("n_docs") / (F.lit(1) + F.col("df_t"))) + F.lit(1.0),
            _IDF_SCALE,
        ).alias("idf"),
    )

    scored = doc_tf.join(F.broadcast(idf), "token").select(
        id_col,
        "token",
        F.round(F.col("tf") * F.col("idf"), _SCORE_SCALE).alias("score"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= m)
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval (reciprocal-rank fusion)
# ---------------------------------------------------------------------------


def rrf_fuse(
    ranked: list[DataFrame],
    *,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 10,
    k_rrf: int = 60,
) -> DataFrame:
    """Fuse N ranked candidate lists by reciprocal-rank fusion:
    ``score(d) = Σ_i 1/(k_rrf + rank_i(d))``, absent-from-a-list
    contributing 0 (Cormack et al.'s standard formulation — rank-based,
    so lexical and vector scores need no calibration against each other).

    Each input carries ``(id_col, rank_col)``; output is ``id_col``,
    ``rank_1..rank_N`` (nullable int, input order), and ``rrf_score``
    (rounded to 6, summed in input order so cross-engine oracles can
    reproduce the double exactly). Top-``k`` by score, ties broken by id.

    Candidate lists are k-bounded BY CONSTRUCTION (they come out of
    top-k operators), so the outer-join chain is over tiny inputs —
    scale lives in the retrievers, not the fusion.
    """
    if not ranked:
        raise ValueError("ranked must contain at least one DataFrame")
    out = None
    for i, df in enumerate(ranked, 1):
        cur = df.select(
            F.col(id_col),
            F.col(rank_col).cast("int").alias(f"rank_{i}"),
        )
        out = cur if out is None else out.join(cur, id_col, "full_outer")
    score = reduce(
        lambda a, c: a + c,
        [
            F.coalesce(
                F.lit(1.0) / (F.lit(k_rrf) + F.col(f"rank_{i}")),
                F.lit(0.0),
            )
            for i in range(1, len(ranked) + 1)
        ],
    )
    return (
        out.withColumn("rrf_score", F.round(score, _SCORE_SCALE))
        .orderBy(F.col("rrf_score").desc(), F.col(id_col))
        .limit(k)
    )


def hybrid_topk_rrf(
    docs: DataFrame,
    vectors: DataFrame,
    query_text: str,
    query_vectors: DataFrame,
    *,
    k: int = 10,
    n_candidates: int = 50,
    k_rrf: int = 60,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Hybrid retrieval for ONE query: BM25 candidates and exact-cosine
    candidates (``query_vectors`` = a 1-row (id, vector) frame) fused by
    :func:`rrf_fuse`. Output: ``(id, rank_1 lexical, rank_2 semantic,
    rrf_score)``.

    This is the composition seam, not the scale limit: swap
    ``cosine_topk`` for ``ivf_topk_index`` and ``bm25_topk`` for
    ``bm25_topk_indexed`` at serving scale — any ranked list feeds
    :func:`rrf_fuse` unchanged. The lexical rank window is
    single-partition over the ``n_candidates`` surviving rows only
    (bounded by construction).
    """
    from window_aggregation_spark.operators.similarity import cosine_topk

    lex = bm25_topk(
        docs, query_text, k=n_candidates, k1=k1, b=b,
        text_col=text_col, id_col=id_col,
    )
    wl = Window.orderBy(F.col("score").desc(), F.col(id_col))
    lex_ranked = lex.select(
        id_col, F.row_number().over(wl).alias("rank")
    )
    sem_ranked = cosine_topk(
        query_vectors, vectors, k=n_candidates,
        query_id=vec_id, corpus_id=vec_id, vec_col=vec_col,
    ).select(F.col("neighbor_id").alias(id_col), F.col("nn_rank").alias("rank"))
    return rrf_fuse(
        [lex_ranked, sem_ranked],
        id_col=id_col, rank_col="rank", k=k, k_rrf=k_rrf,
    )


# ---------------------------------------------------------------------------
# Persisted inverted index
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class TextIndex:
    """A persisted inverted index: lazy ``postings`` scan plus the two
    corpus scalars every BM25 score needs. Only the manifest (params and
    stats included) and, when deletions are pending, the one tombstone
    delta row ever reach the driver.

    ``n_docs`` / ``sum_dl`` are EFFECTIVE values: raw build/add stats
    minus the pending tombstones' exact (count, Σdl) — so a deleted-but-
    not-yet-compacted index scores queries exactly like a rebuild over
    the surviving corpus. ``tombstones`` (ids only) is anti-joined by
    the serving path; ``None`` when no deletions are pending."""

    path: str
    n_buckets: int
    id_col: str
    n_docs: int
    sum_dl: int
    postings: DataFrame  # token, <id_col>, tf, dl, term_bucket
    tombstones: DataFrame | None = None  # <id_col> of deleted docs


def term_bucket(token: str, n_buckets: int) -> int:
    """Driver-side mirror of the index's bucket assignment
    (``portable_hash64 % n_buckets`` — first 15 hex digits of md5), so a
    query plans its partition filter without touching the index."""
    return int(hashlib.md5(token.encode()).hexdigest()[:15], 16) % n_buckets


def _postings_frame(base: DataFrame, id_col: str, n_buckets: int) -> DataFrame:
    """(token, id, tf, dl, term_bucket) postings from a ``(id, toks)``
    frame — the ONE definition of the index's physical layout, shared by
    :func:`build_text_index` and :func:`text_index_add` so the append
    path can never drift from the build path."""
    from window_aggregation_spark.operators.dedup import portable_hash64

    postings = (
        base.select(
            id_col,
            F.size("toks").alias("dl"),
            F.explode("toks").alias("token"),
        )
        .groupBy("token", id_col)
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
        .withColumn(
            "term_bucket",
            F.pmod(portable_hash64(F.col("token")), F.lit(n_buckets))
            .cast("int"),
        )
    )
    return _bucketed(postings, id_col, n_buckets)


def _bucketed(postings: DataFrame, id_col: str, n_buckets: int) -> DataFrame:
    """``postings`` laid out for the ``partitionBy("term_bucket")`` write
    of a build, add or compact: one file per bucket, sorted by token.

    The repartition names its partition count,
    ``min(n_buckets, spark.sql.shuffle.partitions)``. Without one, AQE
    coalesces a small postings shuffle into ONE task, which then writes
    every bucket file in turn: a 132-doc batch's 64 bucket files took
    1.17 s that way against 0.88 s from four tasks (medians of 5
    interleaved warm pairs, 4 vCPUs). A bucket still hashes to one
    partition, so it is still one file."""
    spark = postings.sparkSession
    n = min(n_buckets, int(spark.conf.get("spark.sql.shuffle.partitions")))
    return (
        postings.repartition(n, "term_bucket")
        # led by the partition column, the sort is the one the bucketed
        # write needs; a sort without it gets replaced by the writer's
        # own sort on term_bucket alone, losing the token order
        .sortWithinPartitions("term_bucket", "token", id_col)
    )


def _observing_stats(lens: DataFrame, obs: Observation) -> DataFrame:
    """``(id, dl)`` doclens rows whose write also fills ``obs`` with
    their ``n_docs`` and ``sum_dl``: the stats come from the write's own
    job, not a pass of their own."""
    return lens.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).alias("sum_dl"),
    )


def _schemas(m: dict):
    """Declared read schemas of the postings and of the doclens and
    tombstone rows, from the id type the manifest's params record."""
    p = sm.meta(m)["params"]
    idc = (p["id_col"], p["id_type"])
    return (
        sm.schema([
            ("token", "string"), idc, ("tf", "long"), ("dl", "integer"),
            ("term_bucket", "integer"),
        ]),
        sm.schema([idc, ("dl", "integer")]),
    )


def build_text_index(
    df: DataFrame,
    path: str,
    *,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "overwrite",
) -> TextIndex:
    """Tokenize the corpus ONCE and persist term-bucketed posting lists —
    the lexical twin of :func:`~.similarity.build_ivf_index`.

    :func:`bm25_topk` re-scans and re-tokenizes the full corpus per
    query; right for one-shot jobs, wrong for a serving index over
    100 TB. This pays the tokenize+aggregate cost once:

    - ``postings/`` — parquet PARTITIONED BY ``term_bucket``
      (``portable_hash64(token) % n_buckets``): a query touching t terms
      scans at most t directories, and rows are sorted by ``token``
      within each bucket so parquet row-group stats prune inside the
      bucket too. Each posting row is ``(token, id, tf, dl)`` — document
      frequency is NOT stored; it aggregates at query time from the
      (already pruned) probed postings, so incremental appends never
      invalidate a global statistic.
    - ``doclens/`` — ``(id, dl)`` for every document, zero-token ones
      included: the exact per-doc lengths a delete subtracts.

    The stats (N, Σdl) and params (layout, the id column's type) are in
    the manifest the build publishes, which is where every later op
    reads them.

    The bucket count bounds skew: a hot term's postings share a
    directory with ~1/n_buckets of the vocabulary, but scoring
    aggregates per (token, doc) — there is no per-bucket reduce to melt.

    ``mode`` is restricted to overwrite/error semantics: ``append``
    would write past the manifest's stats and silently corrupt loads —
    growing an index is :func:`text_index_add`.
    """
    sm.guard_build(
        path, mode,
        "to grow an existing index use text_index_add",
    )
    spark = df.sparkSession
    base = df.select(id_col, tokens(F.col(text_col)).alias("toks"))
    # doclens sidecar: (id, dl) for EVERY doc, including zero-token ones
    # (which have no posting rows) — the exact-stats source for
    # text_index_delete / text_index_compact.
    obs = Observation()
    _observing_stats(
        base.select(id_col, F.size("toks").alias("dl")), obs
    ).write.mode(mode).parquet(f"{path}/doclens")
    stats = obs.get
    _postings_frame(base, id_col, n_buckets).write.mode(mode).partitionBy(
        "term_bucket"
    ).parquet(f"{path}/postings")
    params = {
        "n_buckets": n_buckets, "id_col": id_col,
        "id_type": sm.type_value(df, id_col),
    }
    m = sm.publish_build(path, _IDX_COMPONENTS, params, stats)
    return _open_text_index(
        spark, path, m, params, stats["n_docs"], stats["sum_dl"]
    )


def text_index_add(
    spark,
    path: str,
    new_docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str | None = None,
) -> TextIndex:
    """Append a document batch to a persisted :class:`TextIndex` without
    a rebuild — the lexical twin of ``ivf_index_add``.

    New postings are bucketed with the index's FROZEN ``n_buckets``.
    Because document frequency is derived at query time from postings,
    an appended index scores queries EXACTLY like a from-scratch rebuild
    over the union corpus (pinned in tests) — there is no stale-df decay.

    The add is ATOMIC: the batch's postings and doclens are written as
    FRESH generation directories (never appended into live ones), and
    one manifest flip publishes both with the summed stats. A job dying
    at ANY point before the flip leaves only unreferenced directories
    (garbage for :func:`text_index_gc`), never a torn store — concurrent
    loaders see the pre-add index complete, then the post-add index
    complete. The postings manifest entry becomes a ";"-joined directory
    list; loads union the per-directory scans (bucket pruning works per
    branch) and :func:`text_index_compact` collapses the list back to
    one directory.

    Ids are NOT deduplicated against existing postings (upstream
    ingestion filter's job); re-adding a document double-counts its tf
    AND its stats. The flip claims the next numbered manifest with
    create-if-absent, on every filesystem — see
    ``sources/store_manifest.py``.

    One read of the store per add: the params and raw stats come from the
    manifest, the batch's stats from its doclens write, and the returned
    index is built from the manifest this add published. An empty batch
    publishes nothing (its doclens directory is unreferenced garbage).
    """
    m = sm.snapshot(path, _IDX_COMPONENTS, "text index")
    p, n_docs, sum_dl = _index_rows(m)
    id_c, n_buckets = p["id_col"], int(p["n_buckets"])
    base = new_docs.select(
        F.col(id_col or id_c).alias(id_c), tokens(F.col(text_col)).alias("toks")
    )
    new = sm.new_generation(path, m, _IDX_COMPONENTS, ("doclens", "postings"))
    obs = Observation()
    _observing_stats(
        base.select(id_c, F.size("toks").alias("dl")), obs
    ).write.parquet(f"{path}/{new['doclens']}")
    batch = obs.get
    if batch["n_docs"] == 0:
        return _open_text_index(spark, path, m, p, n_docs, sum_dl)
    # postings only when the batch has tokens: a zero-row partitionBy
    # write produces a _SUCCESS-only directory, which an inferred read
    # cannot load. A batch of zero-token docs has no postings — it still
    # counts in N via its doclens and the published stats.
    if batch["sum_dl"] > 0:
        _postings_frame(base, id_c, n_buckets).write.partitionBy(
            "term_bucket"
        ).parquet(f"{path}/{new['postings']}")
    else:
        del new["postings"]
    n_docs += batch["n_docs"]
    sum_dl += batch["sum_dl"]
    m = sm.publish(
        path, m, new, _IDX_COMPONENTS, append=("postings", "doclens"),
        stats={"n_docs": n_docs, "sum_dl": sum_dl},
    )
    return _open_text_index(spark, path, m, p, n_docs, sum_dl)


def text_index_delete(spark, path: str, ids: DataFrame) -> TextIndex:
    """Tombstone a batch of documents in a persisted :class:`TextIndex`
    WITHOUT rewriting postings — the delete half of the index lifecycle
    (build → add → delete → :func:`text_index_compact`).

    ``ids`` is a one-column DataFrame of document ids (any column name;
    it is renamed to the index's id column). The matching ``(id, dl)``
    rows from the doclens sidecar are appended under ``tombstones/``:
    carrying ``dl`` lets every later load derive the EXACT effective
    (N, Σdl) by subtraction, so a tombstoned index scores queries
    bit-identically to a rebuild over the surviving corpus — including
    zero-token documents, which have no posting rows but do count in N.

    Idempotent: ids already tombstoned (or absent from the index) are
    skipped via anti-join, so a retried delete batch cannot
    double-subtract stats. Query-time cost until compaction: one small
    broadcast anti-join against the tombstone ids.

    Raises when the doclens sidecar is missing: deletion needs the
    exact per-doc lengths; rebuild the index to heal."""
    m = sm.snapshot(path, _IDX_COMPONENTS, "text index")
    p, n_raw, sum_raw = _index_rows(m)
    id_c = p["id_col"]
    _, lens_schema = _schemas(m)
    # only a missing sidecar directory (AnalysisException) means the
    # lengths are gone; anything else (FS hiccup, permissions, corrupt
    # file) must propagate — misdiagnosing a transient failure as
    # "rebuild the index" steers users toward a destructive full rebuild
    from pyspark.errors import AnalysisException

    try:
        doclens = sm.read_dirs(spark, path, m["doclens"], schema=lens_schema)
    except AnalysisException as e:
        raise ValueError(
            f"text index at {path!r} has no doclens sidecar (adds are "
            "published atomically, so a torn add cannot cause this). "
            "Exact deletion needs the per-doc lengths — rebuild the index "
            "with build_text_index(mode='overwrite') to heal"
        ) from e
    sm.check_id_type(ids, doclens, id_c, "text_index_delete")
    batch = sm.drop_tombstoned(
        ids.toDF(id_c).dropDuplicates(),
        sm.read_optional(spark, path, m["tombstones"], schema=lens_schema),
        id_c,
    )
    matched = doclens.join(F.broadcast(batch), id_c)
    matched.select(id_c, "dl").write.mode("append").parquet(
        f"{path}/{m['tombstones']}"
    )
    # same generation, one more tombstone batch: re-derive the delta only
    return _open_text_index(spark, path, m, p, n_raw, sum_raw)


def text_index_compact(spark, path: str, *, sweep: bool = False) -> TextIndex:
    """Fold pending tombstones and the directory lists adds left behind
    into the physical layout: rewrite postings/doclens as one directory
    each without the deleted docs, publish their stats, and reset the
    tombstone set — all as ONE new store generation flipped in with a
    single atomic manifest write.

    A loader running concurrently (or a crash at any point before the
    flip) sees the previous generation fully intact; a crash after the
    flip only leaves unreferenced stale directories. Scores are
    unchanged by compaction — the tombstone anti-join already excluded
    these docs — it reclaims space and makes query plans cheaper (no
    anti-join, fewer posting rows, one scan per query instead of one per
    add). No-op when nothing is tombstoned and no add is pending.

    ``sweep`` (default OFF) deletes the superseded generation dirs right
    after the flip — ONLY safe with no concurrent readers: a reader that
    resolved the old manifest (or holds the old generation's DataFrames)
    would find its directories gone mid-job. Default keeps them; GC out
    of band when no readers are active."""
    m = sm.snapshot(path, _IDX_COMPONENTS, "text index")
    p, n_raw, sum_raw = _index_rows(m)
    id_c, n_buckets = p["id_col"], int(p["n_buckets"])
    postings_schema, lens_schema = _schemas(m)
    tomb = sm.read_optional(spark, path, m["tombstones"], schema=lens_schema)
    if tomb is None and all(
        len(sm.split_dirs(m[k])) == 1 for k in ("postings", "doclens")
    ):
        return _open_text_index(spark, path, m, p, n_raw, sum_raw)
    new = sm.new_generation(
        path, m, _IDX_COMPONENTS, ("postings", "doclens", "tombstones")
    )
    _bucketed(
        sm.drop_tombstoned(
            sm.read_dirs(spark, path, m["postings"], schema=postings_schema),
            tomb, id_c,
        ),
        id_c, n_buckets,
    ).write.partitionBy("term_bucket").parquet(f"{path}/{new['postings']}")
    obs = Observation()
    _observing_stats(
        sm.drop_tombstoned(
            sm.read_dirs(spark, path, m["doclens"], schema=lens_schema),
            tomb, id_c,
        ),
        obs,
    ).write.parquet(f"{path}/{new['doclens']}")
    stats = obs.get
    # tombstones reset by pointing at a not-yet-existing dir (reads as
    # none)
    m = sm.publish(
        path, m, new, _IDX_COMPONENTS, sweep=sweep, stats=stats
    )
    return _open_text_index(
        spark, path, m, p, stats["n_docs"], stats["sum_dl"]
    )


def text_index_gc(path: str, *, grace_seconds: float = 900.0) -> dict:
    """Out-of-band reclaim of superseded index generations (the
    ``sweep=False`` default keeps them for concurrent readers) — run
    from a quiet window; see ``sources/store_manifest.gc_store`` (incl.
    the ``grace_seconds`` mid-publish guard)."""
    return sm.gc_store(path, _IDX_COMPONENTS, grace_seconds=grace_seconds)

def load_text_index(spark, path: str) -> TextIndex:
    """Open the persisted index at ``path``: the manifest (params and raw
    stats included), the pending tombstones' (count, Σdl) delta, and a
    lazy scan per postings directory, read with its declared schema. The
    mutations build their result from the manifest they published
    instead of loading again (one load per add, delete or compact)."""
    m = sm.snapshot(path, _IDX_COMPONENTS, "text index")
    return _open_text_index(spark, path, m, *_index_rows(m))


def _index_rows(m: dict):
    """``(params, raw n_docs, raw sum_dl)`` of manifest ``m``."""
    md = sm.meta(m)
    s = md["stats"]
    return md["params"], int(s["n_docs"]), int(s["sum_dl"])


def _open_text_index(
    spark, path: str, m: dict, p, n_docs: int, sum_dl: int
) -> TextIndex:
    """The index of manifest ``m`` with params ``p`` and RAW stats
    ``n_docs``/``sum_dl``; the pending tombstones are subtracted here."""
    postings_schema, lens_schema = _schemas(m)
    tombstones = None
    tomb = sm.read_optional(spark, path, m["tombstones"], schema=lens_schema)
    if tomb is not None:
        d = tomb.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("dl"), F.lit(0)).alias("s"),
        ).first()
        if int(d["n"]):
            n_docs -= int(d["n"])
            sum_dl -= int(d["s"])
            tombstones = tomb.select(p["id_col"])
    return TextIndex(
        path=path,
        n_buckets=int(p["n_buckets"]),
        id_col=p["id_col"],
        n_docs=n_docs,
        sum_dl=sum_dl,
        postings=sm.read_dirs(
            spark, path, m["postings"], schema=postings_schema
        ),
        tombstones=tombstones,
    )


def bm25_topk_indexed(
    index: TextIndex,
    query: str,
    k: int = 10,
    *,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` for one query served from a :class:`TextIndex` —
    result-identical to :func:`bm25_topk` over the indexed corpus (the
    suite pins the two against the same oracle).

    The plan never sees corpus text: the probed terms' buckets are
    computed DRIVER-SIDE (:func:`term_bucket`) into a partition filter,
    so the scan reads ≤ ``len(terms)`` of the ``n_buckets`` posting
    directories; document frequencies aggregate from those pruned rows
    and broadcast back. Scores fold per document in term-sorted order
    (`sorted_fold_sum`), which equals the full-scan sum bit-for-bit:
    absent terms contribute an exact ``0.0``, and adding 0.0 is the
    floating-point identity on the nonnegative BM25 partials.
    """
    terms = query_terms(query)
    if not terms:
        raise ValueError("query contains no indexable terms")
    buckets = sorted({term_bucket(t, index.n_buckets) for t in terms})
    p = index.postings.where(
        F.col("term_bucket").isin(buckets) & F.col("token").isin(terms)
    )
    if index.tombstones is not None:
        # pending deletes: drop their postings AFTER the bucket/term
        # pruning (tiny broadcast anti-join); the index's effective
        # N/Σdl already exclude them, so scores equal a filtered rebuild
        # no broadcast hint: AQE broadcasts small tombstone sets from
        # runtime stats; a mass deletion must not be forced past the
        # broadcast budget
        p = p.join(index.tombstones, index.id_col, "left_anti")
    df_t = p.groupBy("token").agg(F.count(F.lit(1)).alias("df_t"))
    idf = _idf(F.lit(index.n_docs), F.col("df_t"))
    avgdl = F.lit(index.sum_dl) / F.lit(index.n_docs)
    norm = F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / avgdl
    tf = F.col("tf").cast("double")
    contrib = p.join(F.broadcast(df_t), "token").select(
        index.id_col,
        "token",
        (idf * (tf * F.lit(k1 + 1.0)) / (tf + F.lit(k1) * norm))
        .alias("term_score"),
    )
    return (
        contrib.groupBy(index.id_col)
        .agg(
            F.round(
                sorted_fold_sum(F.col("token"), F.col("term_score")),
                _SCORE_SCALE,
            ).alias("score")
        )
        .where(F.col("score") > 0)
        .orderBy(F.col("score").desc(), F.col(index.id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# DuckDB oracle mirrors
# ---------------------------------------------------------------------------


def tfidf_keywords_oracle_sql(
    m: int = 5,
    *,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB mirror of :func:`tfidf_keywords` (same rounding scales and
    token tiebreak)."""
    toks = f"regexp_extract_all(lower({text_col}), '{TOKEN_RE}')"
    return f"""
    WITH doc_tf AS (
      SELECT {id_col}, token, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT {id_col}, unnest({toks}) AS token FROM {table})
      GROUP BY 1, 2
    ),
    n AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs FROM {table}
    ),
    idf AS (
      SELECT token,
             round(ln(n_docs / (1 + df_t)) + 1.0, {_IDF_SCALE}) AS idf
      FROM (SELECT token, CAST(count(*) AS BIGINT) AS df_t
            FROM doc_tf GROUP BY 1) CROSS JOIN n
    )
    SELECT {id_col}, token, score, rank FROM (
      SELECT d.{id_col}, d.token,
             round(d.tf * i.idf, {_SCORE_SCALE}) AS score,
             CAST(row_number() OVER (PARTITION BY d.{id_col}
                    ORDER BY round(d.tf * i.idf, {_SCORE_SCALE}) DESC,
                             d.token) AS INT) AS rank
      FROM doc_tf d JOIN idf i USING (token)
    ) WHERE rank <= {m}
    """

def bm25_topk_oracle_sql(
    query: str,
    k: int = 10,
    *,
    k1: float = 1.2,
    b: float = 0.75,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
) -> str:
    """DuckDB mirror of :func:`bm25_topk` — identical literal term order,
    arithmetic shape, and rounding scales."""
    terms = query_terms(query)
    toks = f"regexp_extract_all(lower({text_col}), '{TOKEN_RE}')"
    keep = "".join(f", {c}" for c in keep_cols)
    df_aggs = ", ".join(
        f"CAST(sum(CASE WHEN list_contains({toks}, '{t}') THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS df_{i}"
        for i, t in enumerate(terms)
    )
    norm = f"(1.0 - {b!r} + {b!r} * len({toks}) / (sum_dl / n_docs))"

    def term_score(i: int, t: str) -> str:
        tf = f"CAST(len(list_filter({toks}, x -> x = '{t}')) AS DOUBLE)"
        idf = (
            f"round(ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0), "
            f"{_IDF_SCALE})"
        )
        return f"{idf} * ({tf} * {k1 + 1.0!r}) / ({tf} + {k1!r} * {norm})"

    score = " + ".join(term_score(i, t) for i, t in enumerate(terms))
    return f"""
    WITH stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len({toks})) AS BIGINT) AS sum_dl,
             {df_aggs}
      FROM {table}
    )
    SELECT {id_col}{keep}, score FROM (
      SELECT {id_col}{keep}, round({score}, {_SCORE_SCALE}) AS score
      FROM {table} CROSS JOIN stats
    ) WHERE score > 0
    ORDER BY score DESC, {id_col}
    LIMIT {k}
    """


def bm25_topk_batch_oracle_sql(
    queries: list[tuple[str, str]],
    k: int = 10,
    *,
    k1: float = 1.2,
    b: float = 0.75,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB mirror of :func:`bm25_topk_batch` for a literal query batch
    (same term-sorted fold order per (query, doc))."""
    toks = f"regexp_extract_all(lower({text_col}), '{TOKEN_RE}')"

    def q(s: str) -> str:  # SQL string literal, quotes doubled
        return "'" + s.replace("'", "''") + "'"

    qvals = ", ".join(
        f"({q(qid)}, {q(qtext)})" for qid, qtext in queries
    )
    return f"""
    WITH qraw(query_id, query_text) AS (VALUES {qvals}),
    q_terms AS (
      SELECT DISTINCT query_id, token FROM (
        SELECT query_id,
               unnest(regexp_extract_all(lower(query_text), '{TOKEN_RE}'))
                 AS token
        FROM qraw
      )
    ),
    base AS (
      SELECT {id_col}, {toks} AS toks FROM {table}
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(toks)) AS BIGINT) AS sum_dl
      FROM base
    ),
    doc_tok AS (
      SELECT {id_col}, len(toks) AS dl, unnest(toks) AS token FROM base
    ),
    doc_tf AS (
      SELECT {id_col}, token, CAST(count(*) AS BIGINT) AS tf,
             any_value(dl) AS dl
      FROM doc_tok
      WHERE token IN (SELECT token FROM q_terms)
      GROUP BY 1, 2
    ),
    term_idf AS (
      SELECT token,
             round(ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0),
                   {_IDF_SCALE}) AS idf,
             n_docs, sum_dl
      FROM (SELECT token, CAST(count(*) AS BIGINT) AS df_t
            FROM doc_tf GROUP BY 1) CROSS JOIN stats
    ),
    contrib AS (
      SELECT q.query_id, d.{id_col}, d.token,
             i.idf * (CAST(d.tf AS DOUBLE) * {k1 + 1.0!r})
               / (CAST(d.tf AS DOUBLE) + {k1!r} *
                  (1.0 - {b!r} + {b!r} * d.dl / (i.sum_dl / i.n_docs)))
               AS term_score
      FROM doc_tf d
      JOIN term_idf i USING (token)
      JOIN q_terms q USING (token)
    ),
    scored AS (
      SELECT query_id, {id_col},
             round(list_reduce(
               list_prepend(0.0, list(term_score ORDER BY token)),
               (acc, v) -> acc + v), {_SCORE_SCALE}) AS score
      FROM contrib GROUP BY 1, 2
    )
    SELECT query_id, {id_col}, score, rn FROM (
      SELECT query_id, {id_col}, score,
             CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY score DESC, {id_col}) AS INT) AS rn
      FROM scored WHERE score > 0
    ) WHERE rn <= {k}
    """
