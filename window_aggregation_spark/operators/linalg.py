"""Distributed linear algebra over embedding columns: covariance and PCA.

PCA is the standard preconditioning step before quantization/IVF at scale
(decorrelate + reduce dimension, THEN build the index — the projected
vectors make int8 quantization and hyperplane bucketing measurably
tighter). The heavy pass is the Gram matrix X'X, accumulated with BLAS:

- :func:`gram_moments` — one Arrow-batched ``mapInPandas`` pass emitting a
  partial ``(n, sum_x[d], gram[d*d])`` row per pandas batch (``X.T @ X``
  per batch — the classic map-side combine: shuffle volume is
  ``partitions x d^2`` doubles, never ``rows``), then a tiny element-wise
  reduce. No driver collection.
- :func:`covariance_cells` — exploded ``(i, j, cov)`` covariance cells
  from the moments (population covariance, rounded for the cross-engine
  contract).
- :func:`pca_components` — eigendecomposition of the (bounded, d x d)
  covariance on the driver via numpy, sign-normalized so results are
  deterministic; returns the top-k components as plain rows.
- :func:`pca_project` — projects vectors onto literal component arrays
  with ``zip_with`` + ``aggregate`` expression folds (pure codegen, no
  Python in the projection path).

Float determinism: partial Gram sums are added in partition order, so the
exact double depends on the physical split — unlike the token folds in
``operators/lm.py`` there is no cross-engine bit contract possible for a
distributed float sum. The suite oracle therefore compares covariance
ROUNDED to 4 decimals: the order-dependent error of a ~n-term float64 sum
is ~1e-13 relative, nine orders of magnitude below the comparison grid.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from window_aggregation_spark.session import checkpoint

_COV_SCALE = 4


def gram_moments(df: DataFrame, vec_col: str = "embedding",
                 dim: int | None = None) -> DataFrame:
    """Partial first/second moments: one row ``(n, s, g)`` per Arrow
    batch, where ``s[i] = sum x_i`` and ``g[i*d+j] = sum x_i*x_j``
    (float64 BLAS ``X.T @ X`` per batch). ``dim`` is validated against
    the data when given; mixed dimensions raise inside the pass."""
    import numpy as np

    expected = dim

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.array([np.asarray(v, dtype=np.float64)
                            for v in pdf[vec_col]])
            if mat.ndim != 2:
                raise ValueError("mixed embedding dimensions in batch")
            if expected is not None and mat.shape[1] != expected:
                raise ValueError(
                    f"embedding dim {mat.shape[1]} != declared {expected}"
                )
            g = mat.T @ mat
            yield pd.DataFrame({
                "n": [len(mat)],
                "s": [mat.sum(axis=0).tolist()],
                "g": [g.reshape(-1).tolist()],
            })

    return df.select(vec_col).mapInPandas(
        part, schema="n long, s array<double>, g array<double>"
    )


def covariance_cells(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int | None = None,
    *,
    scale: int = _COV_SCALE,
) -> DataFrame:
    """Population covariance matrix as exploded ``(i, j, cov)`` rows
    (0-based, all d^2 cells), ``cov = E[x_i x_j] - E[x_i] E[x_j]``
    rounded to ``scale``. The reduce side is ``partitions x d^2`` rows —
    element-wise sums via posexplode + groupBy, then two broadcast joins
    of d-row mean tables onto the d^2 cells."""
    parts = gram_moments(df, vec_col, dim)
    # one row per pandas batch from here on — pinned EAGERLY so the four
    # consuming branches (total, s_sum, g_sum, d_row) run the BLAS corpus
    # pass ONCE, in one job of its own (the lm.py lesson: AQE exchange
    # reuse does not dedupe mapInPandas branches). A lazy pin is computed
    # by whichever of the branches' concurrently submitted stages gets
    # there first, so a failing pass (a dim mismatch) failed up to four
    # jobs at once and could surface as AQE's
    # STAGE_MATERIALIZATION_MULTIPLE_FAILURES instead of the worker's
    # error
    parts = checkpoint(parts, eager=True)
    total = parts.agg(F.sum("n").alias("n"))
    s_sum = (
        parts.select(F.posexplode("s").alias("i", "v"))
        .groupBy("i").agg(F.sum("v").alias("s_i"))
    )
    g_sum = (
        parts.select(F.posexplode("g").alias("idx", "v"))
        .groupBy("idx").agg(F.sum("v").alias("g_ij"))
    )
    d_col = F.sqrt(F.count(F.lit(1)).cast("double")).cast("long")
    d_row = g_sum.agg(d_col.alias("d"))
    cells = (
        g_sum.crossJoin(F.broadcast(d_row))
        .crossJoin(F.broadcast(total))
        .select(
            (F.col("idx") / F.col("d")).cast("long").alias("i"),
            (F.col("idx") % F.col("d")).alias("j"),
            "g_ij", "n",
        )
        .join(F.broadcast(s_sum), "i")
        .join(
            F.broadcast(
                s_sum.select(F.col("i").alias("j"),
                             F.col("s_i").alias("s_j"))
            ),
            "j",
        )
    )
    cov = (
        F.col("g_ij") / F.col("n")
        - (F.col("s_i") / F.col("n")) * (F.col("s_j") / F.col("n"))
    )
    # + 0.0 canonicalizes -0.0 (a near-zero cell's sign depends on the
    # float summation order, so the two engines can disagree on WHICH
    # zero they round to; str(-0.0) != str(0.0) under the driver's hash)
    return cells.select(
        F.col("i").cast("int").alias("i"),
        F.col("j").cast("int").alias("j"),
        (F.round(cov, scale) + F.lit(0.0)).alias("cov"),
    )


def pca_components(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    dim: int | None = None,
) -> list[tuple[float, list[float]]]:
    """Top-``k`` principal components of the embedding column:
    ``[(eigenvalue, component[d]), ...]`` eigenvalue-descending.

    The distributed work is :func:`covariance_cells` (unrounded); only
    the bounded d x d matrix is collected for the numpy ``eigh`` — the
    same driver-side-codebook pattern as the IVF k-means. Component signs
    are normalized (largest-|entry| coordinate positive) so repeated runs
    and platforms agree."""
    import numpy as np

    rows = covariance_cells(df, vec_col, dim, scale=12).collect()
    if not rows:
        raise ValueError("cannot compute PCA components of an empty corpus")
    d = dim if dim is not None else max(r["i"] for r in rows) + 1
    if k > d:
        raise ValueError(f"k={k} exceeds embedding dimension d={d}")
    cov = np.zeros((d, d))
    for r in rows:
        cov[r["i"], r["j"]] = r["cov"]
    vals, vecs = np.linalg.eigh(cov)  # ascending
    out = []
    for idx in range(d - 1, d - 1 - k, -1):
        v = vecs[:, idx]
        pivot = int(np.argmax(np.abs(v)))
        if v[pivot] < 0:
            v = -v
        out.append((float(vals[idx]), v.tolist()))
    return out


def pca_project(
    df: DataFrame,
    components: list[tuple[float, list[float]]],
    vec_col: str = "embedding",
    out_col: str = "projected",
) -> DataFrame:
    """Append ``out_col`` = the vector projected onto the given
    components (array<double>, length k). Pure expression folds over
    literal component arrays — ``zip_with`` + ``aggregate`` per
    component, no Python in the projection path (same dot-product shape
    as the similarity operators)."""
    vec = F.col(vec_col)

    def dot(comp: list[float]):
        lit = F.array(*[F.lit(float(c)) for c in comp])
        return F.aggregate(
            F.zip_with(vec, lit, lambda a, b: a.cast("double") * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    return df.withColumn(
        out_col, F.array(*[dot(comp) for _, comp in components])
    )


# ---------------------------------------------------------------------------
# DuckDB oracle mirror
# ---------------------------------------------------------------------------

def covariance_cells_oracle_sql(
    *,
    table: str = "embeddings",
    vec_col: str = "embedding",
    scale: int = _COV_SCALE,
) -> str:
    """DuckDB mirror of :func:`covariance_cells`: unnest twice to (i, j)
    cells and aggregate — order-independent up to float rounding, which
    the shared ``round(..., 4)`` grid absorbs (module docstring)."""
    return f"""
    WITH x AS (
      SELECT ROW_NUMBER() OVER () AS rid, {vec_col} AS v FROM {table}
    ),
    cell AS (
      SELECT i.i, j.j,
             CAST(i.xi AS DOUBLE) * CAST(j.xj AS DOUBLE) AS prod,
             CAST(i.xi AS DOUBLE) AS xi, CAST(j.xj AS DOUBLE) AS xj
      FROM (SELECT rid, generate_subscripts(v, 1) - 1 AS i,
                   unnest(v) AS xi FROM x) i
      JOIN (SELECT rid, generate_subscripts(v, 1) - 1 AS j,
                   unnest(v) AS xj FROM x) j
      USING (rid)
    )
    SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
           round(sum(prod) / count(*) -
                 (sum(xi) / count(*)) * (sum(xj) / count(*)),
                 {scale}) + 0.0 AS cov
    FROM cell GROUP BY 1, 2
    """
