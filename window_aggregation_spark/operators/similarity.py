"""Similarity search over an embedding column (``array<float>``).

- :func:`cosine_topk` — exact brute-force top-k: broadcast the (small) query
  set against the corpus, cosine in double precision, per-query top-k via
  one window. The right baseline and the recall yardstick. Scale shape:
  corpus-side scan is embarrassingly parallel; the only shuffle is the
  final per-query top-k (tiny: k rows per query per partition after the
  window's partial rank pushdown).
- :func:`hyperplane_buckets` / :func:`ann_lsh_topk` — the 100 TB path:
  random-hyperplane LSH (sign bits of ``nbits`` fixed seeded projections)
  buckets the corpus once; queries probe only their own bucket. Approximate
  (recall measured in tests against brute force); candidate set per query is
  |corpus| / 2^nbits in expectation, and multi-probe (flip one bit) trades
  compute for recall.

All expression-level (zip_with / aggregate) — no UDFs, stays in codegen.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from window_aggregation_spark.operators.dedup import cosine
from window_aggregation_spark.session import checkpoint
from window_aggregation_spark.sources import store_manifest as sm

_PLANES_SEED = 42


def _planes(nbits: int, dim: int) -> list[list[float]]:
    rng = np.random.RandomState(_PLANES_SEED)
    return rng.standard_normal((nbits, dim)).round(6).tolist()


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k nearest corpus vectors per query vector by cosine.

    Returns (query_id, neighbor_id, cos_sim, nn_rank). Ties broken by
    neighbor id so results are deterministic.
    """
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    scored = F.broadcast(q).crossJoin(c).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("__qv"), F.col("__cv")), 4).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .where(F.col("nn_rank") <= k)
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    *,
    alias_q: str = "qvec",
    alias_scale: str = "qscale",
) -> DataFrame:
    """Append int8-range quantization of ``vec_col``: ``alias_q[i] =
    round(127 · x_i / max|x|)`` (an ``array<int>`` holding [-127, 127])
    and ``alias_scale = max|x| / 127`` so ``q · scale`` reconstructs the
    vector. The 4× storage/scan-bandwidth lever for embedding tables —
    at 100 TB the embedding column IS the table, and a quantized copy
    (written once, next to the float original) feeds every coarse scan.

    All expression-level; integer dot products of two quantized vectors
    are EXACT in any engine, which is what makes the coarse ranking
    oracle-checkable bit-for-bit (no float-sum drift until the final
    re-rank, which reuses the existing rounded cosine). An all-zero
    vector quantizes to zeros with scale 0.
    """
    v = F.col(vec_col)
    # max|x| is materialized as a column BEFORE the per-element lambda
    # references it: higher-order functions run interpreted, and a
    # non-column expression inside the lambda body is re-evaluated PER
    # ELEMENT — with array_max inlined, quantization cost O(dim²) per
    # row instead of O(dim) (the text.py gram-builder pitfall). A
    # column reference inside the lambda is a cheap attribute lookup.
    mx_col = f"__qmx_{alias_q}"
    mx = F.col(mx_col)
    with_mx = df.withColumn(
        mx_col,
        F.array_max(F.transform(v, lambda x: F.abs(x.cast("double")))),
    )
    q = F.when(
        mx > 0,
        F.transform(
            v,
            lambda x: F.round(F.lit(127.0) * x.cast("double") / mx).cast("int"),
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    scale = F.when(mx > 0, mx / F.lit(127.0)).otherwise(F.lit(0.0))
    return (
        with_mx.withColumn(alias_q, q)
        .withColumn(alias_scale, scale.cast("double"))
        .drop(mx_col)
    )


def _int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two int arrays (long accumulator)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def quantized_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    overfetch: int = 4,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    qvec_col: str | None = None,
    qscale_col: str | None = None,
) -> DataFrame:
    """Top-k by cosine with an int8 coarse scan + exact re-rank: score
    every pair with the EXACT integer dot of the quantized vectors
    (coarse ≈ cosine up to the per-vector scales; the corpus scale rides
    along as ``dot · scale_c``, the query scale is rank-invariant), keep
    ``k·overfetch`` candidates per query, then re-rank just those with
    the full-precision cosine. Same output shape as :func:`cosine_topk`.

    The coarse stage carries ONLY ``(query_id, neighbor_id, score)`` —
    no float vectors. The ``k·overfetch`` shortlist is then broadcast
    back into a second, id-pruned pass over the corpus to fetch
    full-precision vectors for just those rows, so the float column
    never rides through the cross-join or the top-k shuffle.

    Pass ``qvec_col``/``qscale_col`` (together) to read a pre-quantized
    corpus written at ingest via :func:`quantize_embeddings` — the
    coarse scan then reads the int8 columns instead of the float
    vectors, which is where the 4× bandwidth saving actually lands.
    Default (both ``None``) quantizes on the fly. The columns are named
    explicitly rather than sniffed so an unrelated ``qvec`` column can
    never be silently mis-scored.

    Scale story: full-precision arithmetic (and the float-vector scan,
    when pre-quantized) touches only ``k·overfetch`` rows per query
    instead of the corpus. Composes with the bucketed candidate
    generators (LSH/IVF) — here the coarse stage is exhaustive so recall
    loss comes only from quantization. MEASURED (the retired
    ``ann_recall_probe``, last numbers in OPTIMIZATION_r14.md "Retired
    probes"): recall@10 vs brute-force truth on the sf0.1 embeddings is
    0.99 at ``overfetch=1`` and 1.0 at ``overfetch>=2`` — int8 + re-rank
    is effectively exact, unlike the IVF pruning whose recall curve see
    :func:`ivf_topk`.

    Regime caveat (measured on the probe's planted-cluster corpus):
    int8 recall INVERTS on tightly clustered embeddings —
    0.32/0.50/0.73 at overfetch 1/2/4 — because within a tight cluster
    every candidate's cosine sits within the quantization error, so the
    coarse ordering is noise exactly where IVF shines. Use
    :func:`hybrid_topk` (this branch ∪ IVF, exact re-rank — recall
    ≥ max of both, measured on both regimes) unless compute-bound;
    reach for this single branch only when the budget cannot afford
    the extra nprobe/n_centroids float fraction AND the corpus is
    known unstructured.
    """
    if (qvec_col is None) != (qscale_col is None):
        raise ValueError("qvec_col and qscale_col must be given together")
    q_named = queries.select(
        F.col(query_id).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    shortlist = _quantized_shortlist(
        q_named, corpus, k=k, overfetch=overfetch, corpus_id=corpus_id,
        vec_col=vec_col, qvec_col=qvec_col, qscale_col=qscale_col,
    )
    rer = _exact_score_pairs(shortlist, q_named, corpus, corpus_id, vec_col)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return rer.withColumn("nn_rank", F.row_number().over(w)).where(
        F.col("nn_rank") <= k
    )


def _quantized_shortlist(
    q_named: DataFrame,
    corpus: DataFrame,
    *,
    k: int,
    overfetch: int,
    corpus_id: str,
    vec_col: str,
    qvec_col: str | None,
    qscale_col: str | None,
) -> DataFrame:
    """The int8 COARSE stage of :func:`quantized_topk` — ``(query_id,
    neighbor_id)`` for each query's ``k*overfetch`` best coarse scores.
    Split out (round 12) so :func:`hybrid_topk` can prune the shortlist
    against the IVF branch's already-exact-scored output BEFORE paying
    the full-precision fetch. ``q_named`` is ``(query_id, __qv)``."""
    q = quantize_embeddings(
        q_named, "__qv", alias_q="__qq", alias_scale="__qs"
    )
    if qvec_col is not None:
        c = corpus.select(
            F.col(corpus_id).alias("neighbor_id"),
            F.col(qvec_col).alias("__cq"),
            F.col(qscale_col).cast("double").alias("__cs"),
        )
    else:
        c = quantize_embeddings(
            corpus.select(
                F.col(corpus_id).alias("neighbor_id"),
                F.col(vec_col).alias("__cv"),
            ),
            "__cv",
            alias_q="__cq",
            alias_scale="__cs",
        ).select("neighbor_id", "__cq", "__cs")
    coarse = (
        F.broadcast(q.select("query_id", "__qq"))
        .crossJoin(c)
        .select(
            "query_id",
            "neighbor_id",
            (_int_dot(F.col("__qq"), F.col("__cq")) * F.col("__cs")).alias(
                "__coarse"
            ),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("__coarse").desc(), F.col("neighbor_id").asc()
    )
    return (
        coarse.withColumn("__crn", F.row_number().over(wc))
        .where(F.col("__crn") <= k * overfetch)
        .select("query_id", "neighbor_id")
    )


def _exact_score_pairs(
    pairs: DataFrame,
    q_named: DataFrame,
    corpus: DataFrame,
    corpus_id: str,
    vec_col: str,
) -> DataFrame:
    """Id-pruned full-precision scoring of candidate ``(query_id,
    neighbor_id)`` pairs: the tiny pair set is the broadcast build side,
    so the corpus float column is filtered at the probe and never
    shuffles; the query vectors rejoin via the (small, broadcast) query
    set. Returns ``(query_id, neighbor_id, cos_sim)`` with the shared
    exact ordering key (rounded cosine)."""
    corpus_vec = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    return (
        corpus_vec.join(F.broadcast(pairs), "neighbor_id")
        .join(F.broadcast(q_named), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("__qv"), F.col("__cv")), 4).alias("cos_sim"),
        )
    )


def hyperplane_buckets(
    *, vec_col: str = "embedding", nbits: int = 8, dim: int = 64
) -> Column:
    """LSH bucket id: sign bits of ``nbits`` fixed random projections.

    A wrong ``dim`` raises at runtime: zip_with null-padding would
    otherwise make every dot product null and silently funnel the whole
    corpus into bucket 0 — degrading ANN to a full cross join.
    """
    planes = _planes(nbits, dim)
    vec = F.col(vec_col)
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    vec,
                    F.array(*[F.lit(x) for x in plane]),
                    lambda a, b: a.cast("double") * b,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            > 0,
            F.lit(1 << i),
        ).otherwise(F.lit(0))
        for i, plane in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return (
        F.when(F.size(vec) == dim, out.cast("int"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"hyperplane_buckets: expected dim={dim}, got "),
                    F.size(vec).cast("string"),
                )
            ).cast("int")
        )
    )


def _assign_lists_fn(b_cents, top_n: int):
    """mapInPandas body: nearest-``top_n`` centroid ids per vector via one
    broadcast BLAS matmul per Arrow batch. Shared by list assignment and
    the k-means refinement iterations."""
    import pandas as pd

    def run(batches):
        c = b_cents.value
        for pdf in batches:
            q = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            q = q / np.linalg.norm(q, axis=1, keepdims=True)
            sims = q @ c.T
            order = np.argsort(-sims, axis=1)[:, :top_n]
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy().repeat(top_n),
                    "v": pdf["v"].to_numpy().repeat(top_n),
                    "list_id": order.ravel(),
                }
            )

    return run


def _sample_centroids(corpus: DataFrame, n_centroids: int) -> np.ndarray:
    """Deterministic seed: first ``n_centroids`` corpus vectors by id —
    one cheap bounded ``limit`` (columns pre-pruned to id+vector)."""
    cpdf = corpus.orderBy("id").limit(n_centroids).toPandas()
    cents = np.stack(cpdf["v"].to_numpy()).astype(np.float64)
    return cents / np.linalg.norm(cents, axis=1, keepdims=True)


def _kmeans_centroids(
    corpus: DataFrame, n_centroids: int, iters: int,
    max_centroid_cells: int = 2_000_000,
) -> np.ndarray:
    """Spherical Lloyd refinement of the deterministic-sample seed, fully
    distributed: each iteration assigns every corpus vector to its nearest
    centroid with the SAME broadcast matmul as list assignment (no
    shuffle), then recomputes means via posexplode -> groupBy(list, dim)
    — a shuffle that carries only per-task partial sums (map-side
    combine), with just n_centroids x dim tiny rows reaching the driver.
    Empty clusters keep their previous centroid. Assignment ties break by
    centroid index (argsort is stable), so the refinement is
    deterministic up to BLAS summation order.

    ``max_centroid_cells`` bounds the per-iteration driver collect
    (mirroring ``embedding_dup_pairs``'s ``max_broadcast_rows``): the
    stats come back as ``n_centroids × dim`` Rows at roughly 200 bytes
    each driver-side, so the default 2M cells is ~0.4 GB per iteration
    — safe on any driver. A production-scale codebook (65k centroids ×
    1k dims = 65M cells, ~13 GB of Rows per iteration) fails fast here
    instead of OOMing the driver mid-refinement; raise the budget on a
    big-memory driver, or shrink the codebook (IVF recall depends on
    nprobe/n_centroids RATIO more than on absolute codebook size)."""
    spark = corpus.sparkSession
    # budget check BEFORE the seed collect: _sample_centroids itself
    # brings n_centroids full vectors to the driver, which at the
    # failing codebook sizes is the same driver-memory shape the guard
    # exists to prevent — probe the dim via F.size over the first
    # NON-NULL vector (ADVICE r10: a NULL first row must not surface as
    # a bare TypeError, and the probe should ship one int, not a vector)
    probe = (
        corpus.select(F.size("v").alias("d"))
        .where(F.col("v").isNotNull())
        .first()
    )
    if probe is None:
        raise ValueError(
            "_kmeans_centroids: the corpus has no non-null vectors — "
            "cannot infer the embedding dimension (or seed a codebook)"
        )
    dim = probe["d"]
    cells = n_centroids * dim
    if cells > max_centroid_cells:
        raise ValueError(
            f"_kmeans_centroids: n_centroids×dim = {n_centroids}×{dim} = "
            f"{cells} stat cells per iteration, over the "
            f"max_centroid_cells={max_centroid_cells} budget — the "
            "per-iteration driver collect would not survive this codebook "
            "size. Raise the budget on a large-memory driver, or reduce "
            "n_centroids (recall tracks the nprobe/n_centroids ratio)"
        )
    cents = _sample_centroids(corpus, n_centroids)
    for _ in range(iters):
        b = spark.sparkContext.broadcast(cents)
        assigned = corpus.mapInPandas(
            _assign_lists_fn(b, 1), schema="id long, v array<float>, list_id int"
        )
        stats = (
            assigned.select(
                "list_id", F.posexplode(F.col("v")).alias("pos", "val")
            )
            .groupBy("list_id", "pos")
            .agg(F.sum(F.col("val").cast("double")).alias("s"),
                 F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = cents.copy()
        sums = np.zeros((n_centroids, dim))
        counts = np.zeros(n_centroids)
        for r in stats:
            sums[r["list_id"], r["pos"]] = r["s"]
            counts[r["list_id"]] = r["n"]
        nonempty = counts > 0
        means = sums[nonempty] / counts[nonempty, None]
        norms = np.linalg.norm(means, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        new[nonempty] = means / norms
        cents = new
        b.unpersist()
    return cents


def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    *,
    mode: str = "sample",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iters: int = 3,
    max_centroid_cells: int = 2_000_000,
) -> np.ndarray:
    """Compute an IVF codebook ONCE for reuse across several
    :func:`ivf_topk` calls (pass it as ``centroids=``). Two reasons to
    hoist it: (a) cost — k-means mode is ``kmeans_iters`` full corpus
    passes, which a recall sweep over nprobe values should not repeat
    per point; (b) comparability — the distributed k-means float sums
    are deterministic only up to BLAS summation order, so two calls can
    produce codebooks differing in the last ulps and a boundary vector
    can flip lists between them; sweeping nprobe against ONE codebook
    is what makes recall monotone in nprobe by construction."""
    if mode not in ("sample", "kmeans"):
        raise ValueError(f"unknown centroids mode: {mode!r}")
    c_base = corpus.select(
        F.col(corpus_id).alias("id"), F.col(vec_col).alias("v")
    )
    if mode == "kmeans":
        return _kmeans_centroids(
            c_base, n_centroids, kmeans_iters,
            max_centroid_cells=max_centroid_cells,
        )
    return _sample_centroids(c_base, n_centroids)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    assign: str = "numpy",
    centroids: str = "sample",
    kmeans_iters: int = 3,
    max_centroid_cells: int = 2_000_000,
) -> DataFrame:
    """IVF-style approximate top-k: partition the corpus into inverted lists
    by nearest centroid; each query scans only its ``nprobe`` closest lists.

    ``centroids`` picks the codebook: ``"sample"`` (default) is a
    deterministic sample of the corpus itself (first ``n_centroids`` by
    id — one cheap `limit`, reproducible, oracle-friendly);
    ``"kmeans"`` refines that seed with ``kmeans_iters`` distributed
    spherical Lloyd iterations (:func:`_kmeans_centroids`) — better
    recall at equal nprobe on clustered corpora, at the cost of
    ``kmeans_iters`` extra passes over the corpus (numpy assignment
    path only — refined centroids aren't SQL-reproducible). A
    PRECOMPUTED codebook (the array :func:`ivf_centroids` returns) is
    also accepted — hoist it when sweeping nprobe or serving many query
    batches, so the corpus passes happen once and every call probes the
    same lists (numpy assignment path only).

    ``assign`` picks the list-assignment implementation:

    - ``"numpy"`` (the 100 TB path): broadcast numpy matmuls inside
      ``mapInPandas`` (the block-matmul shape of ``embedding_dup_pairs``);
      the only shuffle is the list-id join. BLAS-fast, but matmul summation
      order is not reproducible in SQL, so results are checked by recall.
    - ``"expr"``: pure Catalyst expression assignment — a broadcast
      cross-join against the centroid set with the same left-to-right
      cosine fold the verification step uses. Slower per row (interpreted
      higher-order fold) but bit-reproducible in any SQL engine, which is
      what lets the driver hash-check IVF against a DuckDB oracle.

    Both assignments pick the same lists wherever the two cosine
    computations agree in sign/order (ties broken by centroid index in
    both). Candidate fraction ~= nprobe / n_centroids.

    MEASURED recall, BOTH regimes (the retired ``ann_recall_probe``,
    last numbers in OPTIMIZATION_r14.md "Retired probes"; the monotone
    curve and the exact end point are held by
    tests/test_ivf_index.py): recall@10 vs brute-force truth at
    sf0.1 (2000 x 64-dim, 16 centroids), ``nprobe`` 1/2/4/8 —

    - **unstructured** (the fixture embeddings — near IVF's WORST case,
      little cluster structure): 0.45/0.53/0.66/0.84 (sample),
      0.44/0.54/0.68/0.87 (k-means). Recall tracks the candidate
      fraction; IVF barely beats scanning that fraction at random, and
      k-means refinement buys nothing — there are no clusters to find.
    - **clustered** (same-size synthetic with 16 planted Gaussian
      clusters — the regime real encoder embeddings of topical corpora
      live in): 0.76/0.93/0.99/1.0 (sample), **0.96/1.0/1.0/1.0
      (k-means)** — recall ≫ candidate fraction (0.96 recall scanning
      6% of the corpus at nprobe=1), and the k-means codebook is worth
      +0.20 recall at nprobe=1 because it recovers the planted
      centroids where the deterministic sample misses ~1/3 of them.

    Tuning guidance: use :func:`hybrid_topk` (IVF ∪ int8 candidates,
    exact re-rank — recall ≥ max of both branches on every regime)
    unless compute-bound. When the budget forces a single branch: if
    your embeddings cluster (topical corpora, dedup-adjacent
    populations), build the codebook with ``centroids="kmeans"`` and
    start at nprobe ≈ 1-2; if a recall probe on YOUR data shows the
    unstructured shape (recall ≈ nprobe / n_centroids), IVF is not
    pruning for you — use :func:`quantized_topk` (int8 coarse + exact
    re-rank) or :func:`cosine_topk`. Always tune against a measured
    curve, not the candidate fraction alone.
    """
    precomputed = not isinstance(centroids, str)
    if not precomputed and centroids not in ("sample", "kmeans"):
        raise ValueError(f"unknown centroids mode: {centroids!r}")
    if assign == "expr":
        if precomputed or centroids != "sample":
            raise ValueError(
                "assign='expr' supports centroids='sample' only — k-means/"
                "precomputed centroid values are not reproducible in a SQL "
                "oracle"
            )
        return _ivf_topk_expr(
            queries, corpus, k=k, n_centroids=n_centroids, nprobe=nprobe,
            query_id=query_id, corpus_id=corpus_id, vec_col=vec_col,
        )
    c_base = corpus.select(
        F.col(corpus_id).alias("id"), F.col(vec_col).alias("v")
    )
    if precomputed:
        cents = np.asarray(centroids, dtype=np.float64)
        if cents.ndim != 2 or cents.shape[0] == 0:
            raise ValueError("precomputed centroids must be a non-empty "
                             "2-D array (n_centroids x dim)")
        # assignment ranks lists by raw dot against UNIT queries, so a
        # user codebook of raw cluster means (norms all over the place)
        # would skew every assignment toward large-norm centroids —
        # normalize here exactly like the built-in modes do
        norms = np.linalg.norm(cents, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        cents = cents / norms
    else:
        cents = ivf_centroids(
            corpus, n_centroids, mode=centroids, corpus_id=corpus_id,
            vec_col=vec_col, kmeans_iters=kmeans_iters,
            max_centroid_cells=max_centroid_cells,
        )
    if nprobe > cents.shape[0]:
        raise ValueError(
            f"nprobe={nprobe} exceeds the codebook's {cents.shape[0]} "
            "lists — it would crash in the executors with a shape "
            "mismatch; clamp it to the list count for an exhaustive scan"
        )
    spark = corpus.sparkSession
    b_cents = spark.sparkContext.broadcast(cents)

    c_lists = c_base.mapInPandas(
        _assign_lists_fn(b_cents, 1),
        schema="id long, v array<float>, list_id int",
    )
    q_lists = queries.select(
        F.col(query_id).alias("id"), F.col(vec_col).alias("v")
    ).mapInPandas(
        _assign_lists_fn(b_cents, nprobe),
        schema="id long, v array<float>, list_id int",
    )

    scored = (
        q_lists.alias("q")
        .join(c_lists.alias("c"), on="list_id")
        .select(
            F.col("q.id").alias("query_id"),
            F.col("c.id").alias("neighbor_id"),
            F.round(cosine(F.col("q.v"), F.col("c.v")), 4).alias("cos_sim"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .where(F.col("nn_rank") <= k)
    )


def _ivf_topk_expr(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int,
    n_centroids: int,
    nprobe: int,
    query_id: str,
    corpus_id: str,
    vec_col: str,
) -> DataFrame:
    """Expression-level IVF (see :func:`ivf_topk` ``assign="expr"``).

    List assignment is a PER-ROW expression: the (bounded,
    ``n_centroids × dim``) codebook is collected once and inlined as
    literal arrays, each row scores all centroids with the same
    left-to-right cosine fold the verify step uses, and the top-``n``
    lists fall out of one ``sort_array`` over ``(sim, -idx)`` structs —
    desc struct order gives "sim desc, centroid index asc", the exact
    tie-break the oracle reproduces. Zero shuffles and zero row
    explosion in assignment (the r4 shape cross-joined every row
    against the codebook and ranked through a per-id window — an
    O(n_centroids · |corpus|) exchange carrying float vectors)."""
    cent_rows = (
        corpus.select(F.col(corpus_id).alias("__cent_id"),
                      F.col(vec_col).alias("__cent_v"))
        .where(F.col("__cent_v").isNotNull())
        .orderBy("__cent_id")
        .limit(n_centroids)
        .collect()
    )
    if not cent_rows:
        # empty / all-null corpus: nothing to probe; an empty literal
        # array would be VOID-typed and fail analysis
        return queries.sparkSession.createDataFrame(
            [],
            "query_id long, neighbor_id long, cos_sim double, nn_rank int",
        )

    def assign_lists(df: DataFrame, id_alias: str, top_n: int) -> DataFrame:
        scored = F.array(*[
            F.struct(
                cosine(
                    F.col("__v"),
                    F.array(*[F.lit(float(x)) for x in r["__cent_v"]])
                    .cast("array<float>"),
                ).alias("s"),
                F.lit(-i).alias("negidx"),
            )
            for i, r in enumerate(cent_rows)
        ])
        top = F.slice(F.sort_array(scored, asc=False), 1, top_n)
        return df.select(
            id_alias,
            "__v",
            F.explode(
                F.transform(top, lambda t: -t["negidx"])
            ).alias("list_id"),
        )

    c_lists = assign_lists(
        corpus.select(F.col(corpus_id).alias("neighbor_id"),
                      F.col(vec_col).alias("__v")),
        "neighbor_id", 1,
    )
    q_lists = assign_lists(
        queries.select(F.col(query_id).alias("query_id"),
                       F.col(vec_col).alias("__v")),
        "query_id", nprobe,
    )
    scored = (
        q_lists.alias("q")
        .join(c_lists.alias("c"), on="list_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q.__v"), F.col("c.__v")), 4).alias("cos_sim"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .where(F.col("nn_rank") <= k)
    )


class IVFIndex:
    """A persisted-or-loaded IVF index: the normalized centroid codebook
    (tiny, driver-side) plus the inverted lists as a DataFrame. When the
    store has pending tombstones, ``lists`` is already the anti-joined
    survivor view — serving code never sees deleted vectors."""

    def __init__(self, centroids: np.ndarray, lists: DataFrame):
        self.centroids = centroids
        self.lists = lists  # id long, v array<float>, list_id int


# Component -> directory names of a freshly built IVF store; its params
# (quantized or not) live in the manifest.
_IVF_COMPONENTS = {
    "lists": "lists",
    "centroids": "centroids",
    "tombstones": "tombstones",
}
# The codebook parquet, written and read with this schema.
_CENTROIDS_SCHEMA = "list_id int, centroid array<double>"
# The lists' read schemas (partition column last, as a read appends it),
# picked by whether the manifest records the store as quantized; the
# tombstones' type never depended on the input.
_LISTS_SCHEMA = "id bigint, v array<float>, list_id int"
_QLISTS_SCHEMA = (
    "id bigint, v array<float>, qvec array<int>, qscale double, list_id int"
)
_TOMB_SCHEMA = "id bigint"

_LONG_ID_TYPES = ("byte", "short", "int", "integer", "bigint", "long")


def _require_long_id(df: DataFrame, col: str, where: str) -> None:
    """The IVF store's physical layout pins ids to ``long`` (the
    mapInPandas assignment schema); a string/decimal id would otherwise
    fail — or worse, silently coerce — deep inside Arrow conversion.
    Mirror of bloom_join's explicit key-type check: fail at the API
    boundary with the actual type in the message."""
    t = df.schema[col].dataType.simpleString()
    if t not in _LONG_ID_TYPES:
        raise ValueError(
            f"{where}: id column {col!r} has type {t}, but the IVF "
            "store's layout requires an integral id (stored as long) — "
            "map your ids to integers upstream"
        )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    *,
    n_centroids: int = 16,
    centroids: str = "sample",
    kmeans_iters: int = 3,
    max_centroid_cells: int = 2_000_000,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
    quantize: bool = False,
) -> IVFIndex:
    """Build an IVF index ONCE and persist it: at 100 TB you do not
    recompute centroids and list assignments per query batch —
    :func:`ivf_topk` recomputes both on every call, which is fine for
    one-shot jobs and wrong for a serving/refresh pipeline.

    Layout under ``path``:

    - ``centroids/`` — parquet, ``list_id int, centroid array<double>``
      (n_centroids tiny rows; loaded to the driver and broadcast at query
      time, exactly like the in-memory path);
    - ``lists/`` — parquet PARTITIONED BY ``list_id``: a query batch that
      probes ``nprobe`` lists scans only those directories (partition
      pruning), which is the point of an inverted-file layout on object
      storage.

    ``quantize=True`` additionally stores int8 ``qvec``/``qscale``
    columns (:func:`quantize_embeddings`) next to each list vector —
    written once at build, they let :func:`ivf_topk_index` run its
    coarse list scans over 4× fewer bytes (``coarse="quantized"``).

    ``mode`` is overwrite/error only, like every store builder: an
    ``append`` build would stack a second codebook next to the first —
    growing an index is :func:`ivf_index_add`.

    Returns the index with ``lists`` re-read from disk, so downstream
    plans run against exactly what was persisted.
    """
    spark = corpus.sparkSession
    _require_long_id(corpus, corpus_id, "build_ivf_index")
    sm.guard_build(
        path, mode,
        "to grow an existing index use ivf_index_add",
    )
    c_base = corpus.select(
        F.col(corpus_id).alias("id"), F.col(vec_col).alias("v")
    )
    if centroids == "kmeans":
        cents = _kmeans_centroids(
            c_base, n_centroids, kmeans_iters,
            max_centroid_cells=max_centroid_cells,
        )
    elif centroids == "sample":
        cents = _sample_centroids(c_base, n_centroids)
    else:
        raise ValueError(f"unknown centroids mode: {centroids!r}")
    b_cents = spark.sparkContext.broadcast(cents)
    c_lists = c_base.mapInPandas(
        _assign_lists_fn(b_cents, 1),
        schema="id long, v array<float>, list_id int",
    )
    if quantize:
        c_lists = quantize_embeddings(c_lists, "v")
    c_lists.write.mode(mode).partitionBy("list_id").parquet(f"{path}/lists")
    sm.write_rows(
        spark, [(i, [float(x) for x in row]) for i, row in enumerate(cents)],
        _CENTROIDS_SCHEMA, f"{path}/centroids", mode,
    )
    m = sm.publish_build(path, _IVF_COMPONENTS, {"quantized": quantize})
    # the codebook just written, as a load reads it back (doubles
    # round-trip exactly)
    return _open_ivf_index(spark, path, m, np.asarray(cents, dtype=np.float64))


def ivf_index_add(
    spark,
    path: str,
    new_vectors: DataFrame,
    *,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> IVFIndex:
    """Append a batch of vectors to a persisted IVF index WITHOUT a
    rebuild — the ANN twin of the dedup signature fold
    (``streaming/ingest_dedup.py``): a serving corpus is never static,
    and re-clustering 100 TB of embeddings per ingest batch is not a
    plan. New vectors are assigned against the index's FROZEN centroids
    (standard IVF serving: the codebook only moves on a periodic rebuild)
    into the same ``list_id=*/`` partition layout, so partition pruning
    keeps working and the next :func:`ivf_topk_index` call sees them with
    zero other changes.

    The add is ATOMIC, like ``text_index_add``: the batch is written as a
    FRESH ``lists_vN`` directory (never appended into live lists), and one
    expected-guarded manifest flip publishes it by appending it to the
    ";"-joined ``lists`` entry. A crash before the flip leaves only an
    unreferenced directory (garbage for :func:`ivf_index_gc`); a
    concurrent compaction makes the flip raise instead of losing the add.
    Loads union the per-directory scans; :func:`ivf_index_compact`
    collapses the list back to one directory. An empty batch publishes
    nothing.

    If the index was built with ``quantize=True`` the batch is quantized
    the same way (detected from the stored lists' schema) — appended rows
    always match the layout the coarse scans expect.

    Ids are NOT deduplicated against the existing lists (that's the
    ingestion filter's job, upstream); appending an id twice yields
    duplicate candidates. Returns the index of the published manifest,
    with the codebook read at entry."""
    _require_long_id(new_vectors, corpus_id, "ivf_index_add")
    m = sm.snapshot(path, _IVF_COMPONENTS, "IVF index")
    idx = _open_ivf_index(spark, path, m)
    n_base = new_vectors.select(
        F.col(corpus_id).alias("id"), F.col(vec_col).alias("v")
    )
    b_cents = spark.sparkContext.broadcast(idx.centroids)
    assigned = n_base.mapInPandas(
        _assign_lists_fn(b_cents, 1),
        schema="id long, v array<float>, list_id int",
    )
    if "qvec" in idx.lists.columns:
        assigned = quantize_embeddings(assigned, "v")
    new = sm.new_generation(path, m, _IVF_COMPONENTS, ("lists",))
    assigned.write.partitionBy("list_id").parquet(f"{path}/{new['lists']}")
    if not sm.has_data(path, new["lists"]):
        return idx  # empty batch: nothing to publish
    m = sm.publish(path, m, new, _IVF_COMPONENTS, append=("lists",))
    return _open_ivf_index(spark, path, m, idx.centroids)


def ivf_index_delete(spark, path: str, ids: DataFrame) -> IVFIndex:
    """Tombstone vectors in a persisted IVF index without touching the
    list layout — the ANN twin of :func:`..search.text_index_delete`.

    ``ids`` is a one-column DataFrame of vector ids. They are appended
    under ``tombstones/``; every load anti-joins the lists against the
    pending set, so deleted vectors stop appearing as candidates
    immediately (both coarse paths read ``index.lists``). The IVF store
    keeps no global statistics, so — unlike the text index — a replayed
    delete batch is harmless beyond duplicate tombstone rows; ids are
    still de-duplicated per batch to keep the set tidy. Reclaim space
    and drop the anti-join with :func:`ivf_index_compact`."""
    _require_long_id(ids, ids.columns[0], "ivf_index_delete")
    m = sm.snapshot(path, _IVF_COMPONENTS, "IVF index")
    ids.toDF("id").dropDuplicates().select(
        F.col("id").cast("long")
    ).write.mode("append").parquet(f"{path}/{m['tombstones']}")
    return _open_ivf_index(spark, path, m)


def ivf_index_compact(spark, path: str, *, sweep: bool = False) -> IVFIndex:
    """Rewrite the inverted lists without tombstoned vectors, as one
    directory, and reset the tombstone set, published as one new
    generation behind a single atomic manifest flip
    (``sources/store_manifest.py``): a concurrent loader — or a crash at
    any point before the flip — sees the previous generation fully
    intact. Results are unchanged (the anti-join already hid these
    vectors); compaction reclaims space, removes the per-query anti-join
    and collapses the directory list that adds left behind. No-op when
    nothing is tombstoned and no add is pending.

    ``sweep`` (default OFF) deletes the superseded generation right
    after the flip — only safe with no concurrent readers; default keeps
    it for out-of-band GC."""
    m = sm.snapshot(path, _IVF_COMPONENTS, "IVF index")
    tomb = sm.read_optional(spark, path, m["tombstones"], schema=_TOMB_SCHEMA)
    if tomb is None and len(sm.split_dirs(m["lists"])) == 1:
        return _open_ivf_index(spark, path, m)
    new = sm.new_generation(path, m, _IVF_COMPONENTS, ("lists", "tombstones"))
    sm.drop_tombstoned(
        sm.read_dirs(spark, path, m["lists"], schema=_lists_schema(m)),
        tomb, "id",
    ).write.partitionBy("list_id").parquet(f"{path}/{new['lists']}")
    m = sm.publish(path, m, new, _IVF_COMPONENTS, sweep=sweep)
    return _open_ivf_index(spark, path, m)



def ivf_index_gc(path: str, *, grace_seconds: float = 900.0) -> dict:
    """Out-of-band reclaim of superseded IVF generations — run from a
    quiet window; see ``sources/store_manifest.gc_store`` (incl. the
    ``grace_seconds`` mid-publish guard)."""
    return sm.gc_store(path, _IVF_COMPONENTS, grace_seconds=grace_seconds)

def load_ivf_index(spark, path: str) -> IVFIndex:
    """Load a persisted IVF index. Only ``n_centroids`` rows reach the
    driver (the load's one Spark job); the inverted lists stay a lazy
    partition-pruned scan (the ``list_id`` pruning filter pushes below
    the tombstone anti-join when deletions are pending)."""
    return _open_ivf_index(
        spark, path, sm.snapshot(path, _IVF_COMPONENTS, "IVF index")
    )


def _lists_schema(m: dict) -> str:
    """The lists' declared read schema: quantized or not, as the
    manifest's params record."""
    return _QLISTS_SCHEMA if sm.meta(m)["params"]["quantized"] else _LISTS_SCHEMA


def _open_ivf_index(
    spark, path: str, m: dict, centroids: np.ndarray | None = None
) -> IVFIndex:
    """The index of manifest ``m``; the codebook is read unless given."""
    if centroids is None:
        # sorted on the driver: an orderBy would add a sampling and a
        # shuffle job to the read of a few rows
        rows = spark.read.schema(_CENTROIDS_SCHEMA).parquet(
            f"{path}/{m['centroids']}"
        ).collect()
        centroids = np.stack([
            np.asarray(r["centroid"], dtype=np.float64)
            for r in sorted(rows, key=lambda r: r["list_id"])
        ])
    lists = sm.drop_tombstoned(
        sm.read_dirs(spark, path, m["lists"], schema=_lists_schema(m)),
        sm.read_optional(spark, path, m["tombstones"], schema=_TOMB_SCHEMA),
        "id",
    )
    return IVFIndex(centroids, lists)


def ivf_topk_index(
    queries: DataFrame,
    index: IVFIndex,
    *,
    k: int = 5,
    nprobe: int = 4,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    prune_lists: bool = True,
    coarse: str = "float",
    overfetch: int = 4,
) -> DataFrame:
    """:func:`ivf_topk` against a prebuilt :class:`IVFIndex` — identical
    results to the in-memory ``assign="numpy"`` path on the same corpus
    (pinned by test), without recomputing centroids or list assignments.

    ``prune_lists`` (default on) collects the DISTINCT probe list ids of
    this query batch — at most ``n_centroids`` small values, a bounded
    driver action — and pushes them as an ``isin`` filter on the
    partitioned scan, so only the probed ``lists/list_id=*/`` directories
    are read. The collect evaluates the query-side assignment once ahead
    of the join (a second pass over the QUERY batch only — the side that
    is small by construction; the corpus-side saving is what matters).
    Off, the equi-join still only MATCHES those lists but the scan reads
    all of them.

    ``coarse="quantized"`` (index built with ``quantize=True``) stacks
    the two ANN levers: the probed-list scan reads ONLY
    ``(id, qvec, qscale)`` — never the float vectors — scores candidates
    with the exact integer dot, keeps ``k·overfetch`` per query, and
    re-ranks just that shortlist with full-precision cosine fetched by
    an id-pruned broadcast join (same shape as :func:`quantized_topk`).
    Partition pruning cuts which lists are read; quantization cuts the
    bytes per list read — multiplicative at 100 TB. Recall loss vs
    ``coarse="float"`` comes only from int8 coarse ordering, bounded by
    ``overfetch`` (measured in tests)."""
    if coarse not in ("float", "quantized"):
        raise ValueError(f"coarse must be 'float' or 'quantized': {coarse!r}")
    spark = queries.sparkSession
    b_cents = spark.sparkContext.broadcast(index.centroids)
    q_lists = queries.select(
        F.col(query_id).alias("id"), F.col(vec_col).alias("v")
    ).mapInPandas(
        _assign_lists_fn(b_cents, nprobe),
        schema="id long, v array<float>, list_id int",
    )
    c_lists = index.lists
    if prune_lists:
        probed = sorted(
            r["list_id"] for r in q_lists.select("list_id").distinct().collect()
        )
        c_lists = c_lists.where(F.col("list_id").isin(probed))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    if coarse == "quantized":
        if not {"qvec", "qscale"} <= set(index.lists.columns):
            raise ValueError(
                "coarse='quantized' needs an index built with "
                "build_ivf_index(..., quantize=True)"
            )
        q_q = quantize_embeddings(q_lists, "v", alias_q="__qq",
                                  alias_scale="__qs")
        coarse_scored = (
            q_q.select("id", "list_id", "__qq")
            .alias("q")
            .join(
                c_lists.select(
                    "list_id",
                    F.col("id").alias("neighbor_id"),
                    F.col("qvec").alias("__cq"),
                    F.col("qscale").cast("double").alias("__cs"),
                ).alias("c"),
                on="list_id",
            )
            .select(
                F.col("q.id").alias("query_id"),
                "neighbor_id",
                (_int_dot(F.col("__qq"), F.col("__cq"))
                 * F.col("__cs")).alias("__coarse"),
            )
            .dropDuplicates(["query_id", "neighbor_id"])
        )
        wc = Window.partitionBy("query_id").orderBy(
            F.col("__coarse").desc(), F.col("neighbor_id").asc()
        )
        shortlist = (
            coarse_scored.withColumn("__crn", F.row_number().over(wc))
            .where(F.col("__crn") <= k * overfetch)
            .select("query_id", "neighbor_id")
        )
        # Re-rank fetch reads the PRUNED lists: shortlist neighbors are by
        # construction members of probed lists, so the float-vector scan
        # keeps the same partition pruning as the coarse stage (otherwise
        # prune_lists=True would still scan every list's float column here,
        # undercutting the "pruning x quantization multiplicative" claim).
        rer = (
            c_lists.select(
                F.col("id").alias("neighbor_id"), F.col("v").alias("__cv")
            )
            .join(F.broadcast(shortlist), "neighbor_id")
            .join(
                F.broadcast(
                    q_lists.select(
                        F.col("id").alias("query_id"), F.col("v").alias("__qv")
                    ).dropDuplicates(["query_id"])
                ),
                "query_id",
            )
            .select(
                "query_id",
                "neighbor_id",
                F.round(cosine(F.col("__qv"), F.col("__cv")), 4)
                .alias("cos_sim"),
            )
        )
        return rer.withColumn("nn_rank", F.row_number().over(w)).where(
            F.col("nn_rank") <= k
        )
    scored = (
        q_lists.alias("q")
        .join(c_lists.alias("c"), on="list_id")
        .select(
            F.col("q.id").alias("query_id"),
            F.col("c.id").alias("neighbor_id"),
            F.round(cosine(F.col("q.v"), F.col("c.v")), 4).alias("cos_sim"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .where(F.col("nn_rank") <= k)
    )


def ann_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    nbits: int = 8,
    dim: int = 64,
    multi_probe: bool = True,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: compare each query only against corpus vectors in
    the same hyperplane bucket. One shuffle on the bucket id; candidate
    count per query ~ |corpus| / 2^nbits.

    ``multi_probe`` additionally probes every bucket one bit-flip away
    (nbits+1 buckets per query) — the standard recall/compute trade: near
    neighbors that straddle a single hyperplane are recovered at the cost
    of scanning ~(nbits+1)/2^nbits of the corpus.
    """
    q_bucket = hyperplane_buckets(vec_col=vec_col, nbits=nbits, dim=dim)
    if multi_probe:
        probes = F.array(
            q_bucket, *[q_bucket.bitwiseXOR(F.lit(1 << i)) for i in range(nbits)]
        )
        bucket_col = F.explode(probes).alias("__bucket")
    else:
        bucket_col = q_bucket.alias("__bucket")
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        bucket_col,
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        hyperplane_buckets(vec_col=vec_col, nbits=nbits, dim=dim).alias(
            "__bucket"
        ),
    )
    scored = q.join(c, on="__bucket").select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("__qv"), F.col("__cv")), 4).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .where(F.col("nn_rank") <= k)
    )


def hybrid_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    overfetch: int = 4,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    assign: str = "numpy",
    centroids="sample",
    kmeans_iters: int = 3,
    max_centroid_cells: int = 2_000_000,
    qvec_col: str | None = None,
    qscale_col: str | None = None,
) -> DataFrame:
    """The regime-dominant ANN path (round 11 — VERDICT r10 next-round
    #4): union the IVF candidates (:func:`ivf_topk` — wins on clustered
    corpora) with the int8 coarse-scan candidates
    (:func:`quantized_topk` — wins on unstructured corpora), re-rank the
    union by the same exact float cosine, take k.

    Recall guarantee (pointwise, not just on average): both branches
    score candidates with the IDENTICAL exact ordering (rounded cosine
    desc, neighbor id asc), so any true top-k neighbor either branch
    surfaces can only be displaced from the union's top-k by candidates
    the exact ordering places above it — which, k at a time, would
    contradict its membership in the true top-k. Hence
    ``recall(hybrid) >= max(recall(ivf), recall(int8))`` at every
    (nprobe, overfetch) setting, on every corpus
    (tests/test_ivf_index.py holds it). MEASURED (the retired
    ``ann_recall_probe``, ``hybrid`` section, last numbers in
    OPTIMIZATION_r14.md "Retired probes"; sf0.1, 2000 ×
    64-dim, k-means codebook, overfetch=4): unstructured regime —
    recall@10 = 1.0 at EVERY nprobe (the int8 branch carries it where
    IVF alone starves at 0.44–0.87); clustered regime — 0.99/1.0/1.0/
    1.0 at nprobe 1/2/4/8 vs IVF-alone 0.96 at nprobe=1 and int8-alone
    0.73 (the inversion). One path now wins both regimes — use hybrid
    unless compute-bound. Cost (round 12, after the shortlist prune —
    :func:`_pruned_union_rank`): the int8 COARSE scan is still paid in
    full (it is the unstructured-regime recall source and cannot be
    skipped without losing the guarantee) and DOMINATES, so the
    structural savings — the float re-rank fetch touches only
    shortlist pairs the IVF branch did not already exact-score, the
    union needs no dedup exchange, and the IVF branch is guaranteed to
    execute once (lazy checkpoint; it is referenced twice) — read as
    cost ≈ sum-of-branches minus the overlap re-rank. The retired
    probes measured hybrid cost / sum of branches at 0.36–0.94 on 2,000
    vectors (``ann_recall_probe``) and 0.46–0.55 on 20,000 clustered
    ones (``hybrid_cost_probe``); the last numbers are in
    OPTIMIZATION_r14.md "Retired probes". When even the coarse-scan
    budget is tight, fall back to the single branch matching your
    measured regime.

    Both branches accept their usual knobs (``centroids=`` codebook /
    mode for IVF, pre-quantized ``qvec_col``/``qscale_col`` columns for
    the int8 scan). Output schema matches the other top-k operators:
    ``(query_id, neighbor_id, cos_sim, nn_rank)``.
    """
    ivf = ivf_topk(
        queries, corpus, k=k, n_centroids=n_centroids, nprobe=nprobe,
        query_id=query_id, corpus_id=corpus_id, vec_col=vec_col,
        assign=assign, centroids=centroids, kmeans_iters=kmeans_iters,
        max_centroid_cells=max_centroid_cells,
    )
    q_named = queries.select(
        F.col(query_id).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    shortlist = _quantized_shortlist(
        q_named, corpus, k=k, overfetch=overfetch, corpus_id=corpus_id,
        vec_col=vec_col, qvec_col=qvec_col, qscale_col=qscale_col,
    )
    return _pruned_union_rank(
        ivf, shortlist, q_named, corpus, corpus_id, vec_col, k
    )


def _pruned_union_rank(
    ivf: DataFrame,
    shortlist: DataFrame,
    q_named: DataFrame,
    corpus: DataFrame,
    corpus_id: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """The shared hybrid tail (round 12 — VERDICT r11 "what's wrong" #2):
    anti-join the int8 coarse shortlist against the IVF branch's
    already-exact-scored top-k output, full-precision-score only the
    REMAINDER, and rank the (disjoint by construction) union once.

    Versus the r11 shape (both branches fully re-rank, union,
    dropDuplicates, re-rank): the overlap pairs — most of the shortlist
    on clustered corpora, where both branches agree — skip the float
    fetch join entirely, and the dedup exchange disappears (nothing can
    repeat). Value-identity is the same total-order fact the recall
    proof rests on: under the shared exact ordering (rounded cosine
    desc, neighbor id asc), ``topk(A ∪ topk(B)) == topk(A ∪ B)`` and
    any shortlist pair pruned here is in the IVF output WITH its exact
    score — so the final top-k set is bit-identical to the r11 shape
    (pinned by the unchanged sim_topk_hybrid oracle, which still
    recomputes the un-pruned union). The pointwise
    ``recall >= max(branches)`` guarantee is untouched — it only needs
    the final exact re-rank over a superset of both branches'
    survivors."""
    cols = ["query_id", "neighbor_id", "cos_sim"]
    # lazily checkpoint the (tiny: k rows/query) scored IVF output: it
    # is referenced TWICE (union arm + anti-join build side), and
    # without truncation Spark executes the whole IVF branch — centroid
    # assignment passes included — once per reference (measured: the
    # clustered-regime hybrid read >1x the sum of its branches in the
    # first r12 recording, exactly the double-execution surcharge)
    ivf_out = checkpoint(ivf.select(*cols))
    # both sides are tiny (k and k*overfetch rows per query): broadcast
    # the scored IVF output as the anti-join's build side
    rest = shortlist.join(
        F.broadcast(ivf_out.select("query_id", "neighbor_id")),
        ["query_id", "neighbor_id"],
        "left_anti",
    )
    q8 = _exact_score_pairs(rest, q_named, corpus, corpus_id, vec_col)
    union = ivf_out.unionByName(q8.select(*cols))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return union.withColumn("nn_rank", F.row_number().over(w)).where(
        F.col("nn_rank") <= k
    )


def hybrid_topk_index(
    queries: DataFrame,
    index: "IVFIndex",
    *,
    k: int = 5,
    nprobe: int = 4,
    overfetch: int = 4,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    prune_lists: bool = True,
) -> DataFrame:
    """:func:`hybrid_topk` served from a persisted :class:`IVFIndex` —
    the steady-state shape: the IVF branch probes only the ``nprobe``
    pruned list partitions (float scoring), the int8 branch coarse-scans
    the index's PRE-QUANTIZED columns when the index was built with
    ``quantize=True`` (falling back to on-the-fly quantization of the
    stored float vectors otherwise), and one exact re-rank unions them.
    Same pointwise guarantee as :func:`hybrid_topk`
    (``recall >= max(ivf, int8)``); identical results to the in-memory
    hybrid on the same corpus + codebook (pinned in
    ``tests/test_ivf_index.py``). Cost shape at 100 TB: the float
    column is read only for the probed lists plus the int8 shortlist
    re-rank; the full corpus pass touches int8 bytes only."""
    ivf = ivf_topk_index(
        queries, index, k=k, nprobe=nprobe, query_id=query_id,
        vec_col=vec_col, prune_lists=prune_lists, coarse="float",
    )
    has_q = {"qvec", "qscale"} <= set(index.lists.columns)
    extras = ["qvec", "qscale"] if has_q else []
    corp = index.lists.select(
        F.col("id").alias("__idx_id"), F.col("v").alias(vec_col), *extras
    )
    q_named = queries.select(
        F.col(query_id).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    shortlist = _quantized_shortlist(
        q_named, corp, k=k, overfetch=overfetch, corpus_id="__idx_id",
        vec_col=vec_col,
        qvec_col="qvec" if has_q else None,
        qscale_col="qscale" if has_q else None,
    )
    return _pruned_union_rank(
        ivf, shortlist, q_named, corp, "__idx_id", vec_col, k
    )
