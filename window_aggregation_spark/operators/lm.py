"""Statistical language-model perplexity scoring over a document corpus.

Perplexity filtering is a standard LLM training-data stage (CCNet-style:
train a cheap LM on a trusted corpus, score candidate documents, keep a
perplexity band). This module implements it Spark-first:

- :func:`unigram_counts` — train: token -> count over a corpus. One
  partial-aggregated ``groupBy`` (map-side combine), output is Zipf-small.
- :func:`perplexity_unigram` — score: per-document token count, average
  negative log-likelihood, and perplexity under an add-k-smoothed unigram
  LM. The LM may be self-trained on the scored corpus or passed in as a
  pretrained ``counts`` DataFrame (the realistic pipeline: train on clean
  text, score the crawl); out-of-vocabulary tokens get the smoothed
  floor probability ``k / (C + k*V)``.
- :func:`perplexity_band_filter` — the actual filter stage: keep documents
  whose perplexity lies in ``[lo, hi]`` (drops head boilerplate and tail
  gibberish in one pass).

Scale design (the 100 TB story):

- The corpus side pays ONE exchange: ``repartition(id_col)`` BEFORE the
  token explode (moving un-exploded rows, not the token stream). Both
  downstream aggregations — ``groupBy(id, token)`` and ``groupBy(id)`` —
  and the final left join back to the document spine are satisfied by that
  same hash partitioning (Spark's ClusteredDistribution subset rule), so
  Catalyst inserts no further corpus-side exchange.
- The vocabulary is aggregated from the per-document counts (already
  partially combined), so the token-level shuffle volume is bounded by
  corpus vocabulary size, not corpus token count; the log-probability
  table is broadcast back (``broadcast_vocab=False`` falls back to a
  shuffled join for corpora whose vocabulary genuinely exceeds driver
  memory).
- Everything is built-in Catalyst expressions — no Python UDFs.

Cross-engine determinism (the DuckDB oracle contract): per-token log
probabilities are rounded to 9 decimals, per-document sums fold in
token-sorted order (``sort_array`` + ``aggregate`` here, ``list(... ORDER
BY token)`` + ``list_reduce`` in the oracle), and the final metrics are
rounded to 6 decimals, so both engines add identical doubles in identical
order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from window_aggregation_spark.operators.text import TOKEN_RE, tokens
from window_aggregation_spark.session import checkpoint

_LNP_SCALE = 9   # decimals kept on per-token log probabilities
_OUT_SCALE = 6   # decimals kept on per-document metrics


def sorted_fold_sum(key, term) -> "F.Column":
    """THE determinism contract for cross-engine float sums: collect
    ``(key, term)`` structs, sort by key, fold ``acc + term`` from a 0.0
    seed — the DuckDB mirror is ``list_reduce(list_prepend(0.0,
    list(term ORDER BY key)), (acc, v) -> acc + v)``. Shared by the
    perplexity scorers and the batched BM25 path so the contract lives
    in exactly one place."""
    return F.aggregate(
        F.sort_array(F.collect_list(F.struct(key, term.alias("term")))),
        F.lit(0.0),
        lambda acc, s: acc + s["term"],
    )


def unigram_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Train a unigram LM: ``(token, cnt)`` over the corpus.

    One explode + one partially-aggregated ``groupBy`` — shuffle volume is
    the distinct-vocabulary size, not the token stream. Persist the result
    (it is Zipf-small) to reuse across scoring runs, same pattern as the
    minhash signature store.
    """
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _logprob_table(
    counts: DataFrame, add_k: float
) -> tuple[DataFrame, DataFrame]:
    """(token -> rounded ln p) plus a 1-row totals frame carrying the OOV
    floor ``ln(k / (C + k*V))`` (both rounded to ``_LNP_SCALE``)."""
    totals = counts.agg(
        F.sum("cnt").alias("corpus_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
    )
    denom = F.col("corpus_tokens") + F.lit(add_k) * F.col("vocab_size")
    oov = totals.select(
        F.round(F.log(F.lit(add_k) / denom), _LNP_SCALE).alias("oov_lnp")
    )
    lnp = counts.crossJoin(F.broadcast(totals)).select(
        "token",
        F.round(
            F.log((F.col("cnt") + F.lit(add_k)) / denom), _LNP_SCALE
        ).alias("lnp"),
    )
    return lnp, oov


def perplexity_unigram(
    df: DataFrame,
    *,
    counts: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
    add_k: float = 1.0,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Score each document under an add-k-smoothed unigram LM.

    Returns ``id_col`` + ``keep_cols`` + ``n_tokens`` (token count with
    repeats), ``avg_nll`` (average negative log-likelihood, rounded to 6)
    and ``perplexity`` (= exp(avg_nll), rounded to 6). Documents with zero
    tokens keep a row with NULL metrics (``n_tokens`` 0). ``id_col`` must
    be unique per document.

    When ``counts`` is None the LM is trained on ``df`` itself
    (self-perplexity — every token is in-vocabulary). A pretrained
    ``counts`` (from :func:`unigram_counts` on a reference corpus) scores
    out-of-vocabulary tokens at the smoothed floor ``k / (C + k*V)``.

    The per-document term-frequency table and the trained vocabulary are
    each consumed by two downstream branches, so both are pinned with
    :func:`..session.checkpoint` — without it Spark re-derives the whole
    explode+aggregate pipeline per branch (measured: 8 corpus scans in
    the AQE final plan vs 2 with materialization; exchange reuse does not
    dedupe across the differing projections). With a checkpoint dir set
    the pins are reliable checkpoints; free them by running the scoring
    inside a :func:`..session.scope`.
    """
    base = df.select(id_col, *keep_cols, tokens(F.col(text_col)).alias("toks"))
    # ONE corpus-side exchange, before the explode (moves documents, not
    # tokens); every aggregation/join below is keyed on a superset of
    # id_col, so this partitioning satisfies them all.
    base = base.repartition(id_col)

    exploded = base.select(id_col, F.explode("toks").alias("token"))
    doc_tf = exploded.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    doc_tf = checkpoint(doc_tf)

    if counts is None:
        counts = checkpoint(
            doc_tf.groupBy("token").agg(F.sum("tf").alias("cnt"))
        )
    lnp, oov = _logprob_table(counts, add_k)
    if broadcast_vocab:
        lnp = F.broadcast(lnp)

    contrib = (
        doc_tf.join(lnp, "token", "left")
        .crossJoin(F.broadcast(oov))
        .select(
            id_col,
            "token",
            "tf",
            F.coalesce("lnp", "oov_lnp").alias("lnp"),
        )
    )
    scored = contrib.groupBy(id_col).agg(
        F.sum("tf").alias("n_tokens"),
        sorted_fold_sum(
            F.col("token"), F.col("tf") * F.col("lnp")
        ).alias("ll_sum"),
    )

    spine = base.select(id_col, *keep_cols)
    out = spine.join(scored, id_col, "left")
    avg_nll = F.round(-F.col("ll_sum") / F.col("n_tokens"), _OUT_SCALE)
    return out.select(
        id_col,
        *keep_cols,
        F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
        avg_nll.alias("avg_nll"),
        F.round(F.exp(avg_nll), _OUT_SCALE).alias("perplexity"),
    )


def perplexity_band_filter(
    df: DataFrame,
    lo: float,
    hi: float,
    **kwargs,
) -> DataFrame:
    """Keep documents whose unigram perplexity lies in ``[lo, hi]`` — the
    CCNet-style band filter (head = boilerplate, tail = gibberish).
    Scoring columns are retained for audit."""
    scored = perplexity_unigram(df, **kwargs)
    return scored.where(
        F.col("perplexity").isNotNull()
        & (F.col("perplexity") >= F.lit(lo))
        & (F.col("perplexity") <= F.lit(hi))
    )


def _bigram_array(toks):
    """Adjacent-token bigrams ('a b') of a token array; empty below 2
    tokens (``slice`` rejects negative lengths, so guard explicitly)."""
    n = F.size(toks)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def bigram_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Train bigram transition counts: ``(bigram, cnt)`` where bigram is
    ``'w1 w2'`` — multiplicities preserved (these are transition counts,
    not shingle sets)."""
    return (
        df.select(
            F.explode(_bigram_array(tokens(F.col(text_col)))).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def perplexity_bigram(
    df: DataFrame,
    *,
    counts: tuple[DataFrame, DataFrame] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
    add_k: float = 1.0,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Contextual perplexity under an add-k bigram LM:
    ``p(w2 | w1) = (c(w1 w2) + k) / (c(w1) + k*V)`` with ``V`` the unigram
    vocabulary size. Only transitions are scored (``n_transitions`` =
    token count − 1); documents with fewer than 2 tokens keep a row with
    ``n_transitions`` 0 and NULL metrics.

    ``counts`` is an optional pretrained pair ``(bigram_counts,
    unigram_counts)``; unseen transitions fall back to
    ``(k) / (c(w1) + k*V)`` with ``c(w1)`` 0 when the prefix itself is
    out-of-vocabulary. Same plan shape as :func:`perplexity_unigram`:
    one corpus-side exchange, broadcast probability tables, token-sorted
    per-document folds, 9/6-decimal rounding for the cross-engine
    contract.
    """
    base = df.select(id_col, *keep_cols, tokens(F.col(text_col)).alias("toks"))
    base = base.repartition(id_col)

    exploded = base.select(
        id_col, F.explode(_bigram_array(F.col("toks"))).alias("bigram")
    )
    doc_bf = exploded.groupBy(id_col, "bigram").agg(
        F.count(F.lit(1)).alias("tf")
    )
    doc_bf = checkpoint(doc_bf)

    if counts is None:
        bi = checkpoint(doc_bf.groupBy("bigram").agg(F.sum("tf").alias("cnt")))
        uni = checkpoint(
            base.select(F.explode("toks").alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
    else:
        bi, uni = counts

    vsize = uni.agg(F.count(F.lit(1)).alias("vocab_size"))
    # prefix-count denominator table: token -> c(token) (+ V broadcast in)
    denom = uni.select(F.col("token").alias("prefix"),
                       F.col("cnt").alias("prefix_cnt"))
    if broadcast_vocab:
        denom = F.broadcast(denom)
    blnp = (
        bi.join(
            denom.withColumnRenamed("prefix", "bg_prefix"),
            F.split_part(F.col("bigram"), F.lit(" "), F.lit(1))
            == F.col("bg_prefix"),
            "left",
        )
        .crossJoin(F.broadcast(vsize))
        .select(
            "bigram",
            F.round(
                F.log(
                    (F.col("cnt") + F.lit(add_k))
                    / (F.coalesce("prefix_cnt", F.lit(0))
                       + F.lit(add_k) * F.col("vocab_size"))
                ),
                _LNP_SCALE,
            ).alias("lnp"),
        )
    )
    if broadcast_vocab:
        blnp = F.broadcast(blnp)

    contrib = (
        doc_bf.join(blnp, "bigram", "left")
        .join(
            denom,
            F.split_part(F.col("bigram"), F.lit(" "), F.lit(1))
            == F.col("prefix"),
            "left",
        )
        .crossJoin(F.broadcast(vsize))
        .select(
            id_col,
            "bigram",
            "tf",
            F.coalesce(
                "lnp",
                F.round(
                    F.log(
                        F.lit(add_k)
                        / (F.coalesce("prefix_cnt", F.lit(0))
                           + F.lit(add_k) * F.col("vocab_size"))
                    ),
                    _LNP_SCALE,
                ),
            ).alias("lnp"),
        )
    )
    scored = contrib.groupBy(id_col).agg(
        F.sum("tf").alias("n_transitions"),
        sorted_fold_sum(
            F.col("bigram"), F.col("tf") * F.col("lnp")
        ).alias("ll_sum"),
    )

    spine = base.select(id_col, *keep_cols)
    out = spine.join(scored, id_col, "left")
    avg_nll = F.round(-F.col("ll_sum") / F.col("n_transitions"), _OUT_SCALE)
    return out.select(
        id_col,
        *keep_cols,
        F.coalesce("n_transitions", F.lit(0).cast("long"))
        .alias("n_transitions"),
        avg_nll.alias("avg_nll"),
        F.round(F.exp(avg_nll), _OUT_SCALE).alias("perplexity"),
    )


# ---------------------------------------------------------------------------
# DuckDB oracle mirror
# ---------------------------------------------------------------------------

def perplexity_unigram_oracle_sql(
    *,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
    add_k: float = 1.0,
) -> str:
    """ANSI/DuckDB mirror of :func:`perplexity_unigram` (self-trained LM):
    identical rounding scales and an identical token-sorted fold order, so
    the doubles match bit-for-bit."""
    toks = f"regexp_extract_all(lower({text_col}), '{TOKEN_RE}')"
    keep = "".join(f", {c}" for c in keep_cols)
    k = repr(float(add_k))
    return f"""
    WITH base AS (
      SELECT {id_col}{keep}, {toks} AS toks FROM {table}
    ),
    tok AS (
      SELECT {id_col}, unnest(toks) AS token FROM base
    ),
    doc_tf AS (
      SELECT {id_col}, token, count(*) AS tf FROM tok GROUP BY 1, 2
    ),
    vocab AS (
      SELECT token, sum(tf) AS cnt FROM doc_tf GROUP BY 1
    ),
    tot AS (
      SELECT sum(cnt) AS corpus_tokens, count(*) AS vocab_size FROM vocab
    ),
    lnp AS (
      SELECT token,
             round(ln((cnt + {k}) /
                      (corpus_tokens + {k} * vocab_size)), {_LNP_SCALE})
               AS lnp
      FROM vocab CROSS JOIN tot
    ),
    scored AS (
      SELECT d.{id_col},
             CAST(sum(d.tf) AS BIGINT) AS n_tokens,
             list_reduce(
               list_prepend(0.0, list(d.tf * l.lnp ORDER BY d.token)),
               (acc, v) -> acc + v) AS ll_sum
      FROM doc_tf d JOIN lnp l USING (token)
      GROUP BY 1
    )
    SELECT b.{id_col}{keep},
           COALESCE(s.n_tokens, 0) AS n_tokens,
           round(-s.ll_sum / s.n_tokens, {_OUT_SCALE}) AS avg_nll,
           round(exp(round(-s.ll_sum / s.n_tokens, {_OUT_SCALE})),
                 {_OUT_SCALE}) AS perplexity
    FROM base b LEFT JOIN scored s USING ({id_col})
    """


def perplexity_bigram_oracle_sql(
    *,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
    add_k: float = 1.0,
) -> str:
    """DuckDB mirror of :func:`perplexity_bigram` (self-trained LM) —
    identical smoothing arithmetic, rounding scales, and bigram-sorted
    fold order."""
    toks = f"regexp_extract_all(lower({text_col}), '{TOKEN_RE}')"
    keep = "".join(f", {c}" for c in keep_cols)
    k = repr(float(add_k))
    return f"""
    WITH base AS (
      SELECT {id_col}{keep}, {toks} AS toks FROM {table}
    ),
    bg AS (
      SELECT {id_col},
             CASE WHEN len(toks) >= 2
                  THEN list_transform(
                         generate_series(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i + 1])
                  ELSE CAST([] AS VARCHAR[]) END AS bgs
      FROM base
    ),
    doc_bf AS (
      SELECT {id_col}, bigram, count(*) AS tf
      FROM (SELECT {id_col}, unnest(bgs) AS bigram FROM bg)
      GROUP BY 1, 2
    ),
    bi AS (
      SELECT bigram, sum(tf) AS cnt FROM doc_bf GROUP BY 1
    ),
    uni AS (
      SELECT token, count(*) AS cnt
      FROM (SELECT unnest(toks) AS token FROM base)
      GROUP BY 1
    ),
    vs AS (
      SELECT count(*) AS vocab_size FROM uni
    ),
    blnp AS (
      SELECT b.bigram,
             round(ln((b.cnt + {k}) /
                      (COALESCE(u.cnt, 0) + {k} * vocab_size)),
                   {_LNP_SCALE}) AS lnp
      FROM bi b
      LEFT JOIN uni u ON split_part(b.bigram, ' ', 1) = u.token
      CROSS JOIN vs
    ),
    scored AS (
      SELECT d.{id_col},
             CAST(sum(d.tf) AS BIGINT) AS n_transitions,
             list_reduce(
               list_prepend(0.0, list(d.tf * l.lnp ORDER BY d.bigram)),
               (acc, v) -> acc + v) AS ll_sum
      FROM doc_bf d JOIN blnp l USING (bigram)
      GROUP BY 1
    )
    SELECT b.{id_col}{keep},
           COALESCE(s.n_transitions, 0) AS n_transitions,
           round(-s.ll_sum / s.n_transitions, {_OUT_SCALE}) AS avg_nll,
           round(exp(round(-s.ll_sum / s.n_transitions, {_OUT_SCALE})),
                 {_OUT_SCALE}) AS perplexity
    FROM base b LEFT JOIN scored s USING ({id_col})
    """
