"""Distributed PCA / whitening over embedding columns.

The missing sibling of the embedding dedup/ANN family: training-data
pipelines whiten or dimension-reduce embeddings before indexing
(IVF/OPQ preprocessing, redundancy pruning, drift monitoring). The
scalable shape is the textbook two-phase reduction:

  1. per-partition sufficient statistics — each Arrow batch contributes
     its Gram matrix ``X^T X`` (one numpy matmul per batch), column sum,
     and count; a partition emits ONE row of d*(d+1)/2 + d + 1 doubles,
     so the shuffle carries O(partitions * d^2) — independent of row
     count;
  2. element-wise aggregation of those rows to the full covariance, a
     d x d eigendecomposition ON THE DRIVER (d is 64-3072: trivially
     driver-sized even when the corpus is 100 TB), and a broadcast of
     the top-k component matrix back into a JVM-side projection
     (k dot products per row — codegen, no Python in the projection
     pass).

This is exactly how MLlib's RowMatrix.computePrincipalComponents is
built (treeAggregate of Gram matrices + local eigensolve), re-expressed
on the DataFrame/Arrow stack so it composes with the rest of the
engine's operators.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import as_double_sql, dot, doubles_sql


_SUFFSTATS_SCHEMA = "n long, colsum array<double>, gram array<double>"


def suffstats_rows(df: DataFrame, dim: int = 64) -> DataFrame:
    """Per-partition PCA sufficient statistics of ``embedding``: each
    partition emits ONE row (n, colsum, gram) of d*(d+1) + 1 doubles —
    the mergeable state everything else in this module (and
    operators/incremental_pca.py's persisted epochs) is built from. Raises on vectors whose length
    differs from ``dim`` — silent zero-padding would corrupt the
    moments."""

    def _partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = 0
        s = np.zeros(dim)
        g = np.zeros((dim, dim))
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            if x.shape[1] != dim:
                raise ValueError(
                    f"covariance_stats: embedding dim {x.shape[1]} != {dim}"
                )
            n += x.shape[0]
            s += x.sum(axis=0)
            g += x.T @ x
        if n:
            yield pd.DataFrame(
                {"n": [n], "colsum": [s.tolist()], "gram": [g.ravel().tolist()]}
            )

    return df.select("embedding").mapInPandas(_partial, schema=_SUFFSTATS_SCHEMA)


def covariance_stats(df: DataFrame, dim: int = 64):
    """(count, mean vector, covariance matrix) of the ``embedding`` column.

    Returns plain numpy objects (the d x d matrix is driver-sized by
    design)."""
    parts = suffstats_rows(df, dim)
    # element-wise array sums across the (one-row-per-partition) stats:
    # explode to (idx, value) and sum per idx — thousands of rows total,
    # one tiny shuffle regardless of corpus size
    agg = parts.select(
        F.col("n"),
        F.posexplode(F.concat(F.col("colsum"), F.col("gram"))).alias("i", "v"),
    )
    summed = (
        agg.groupBy("i").agg(F.sum("v").alias("v"), F.sum("n").alias("nn"))
        .orderBy("i")
        .collect()
    )
    if not summed:
        raise ValueError(
            "covariance_stats: no embedding rows (empty input frame)"
        )
    n_total = int(summed[0].nn)  # sum of per-partition counts
    flat = np.array([r.v for r in summed])
    colsum, gram = flat[:dim], flat[dim:].reshape(dim, dim)
    mean = colsum / n_total
    cov = gram / n_total - np.outer(mean, mean)
    return n_total, mean, cov


def fit_pca(df: DataFrame, k: int, dim: int = 64) -> dict:
    """Top-k principal components, deterministic: eigenvectors of the
    covariance, descending eigenvalue order, sign fixed so each
    component's largest-magnitude coordinate is positive (eigenvectors
    are sign-ambiguous; an unfixed sign flips between runs/platforms)."""
    n, mean, cov = covariance_stats(df, dim)
    return fit_pca_from_moments(n, mean, cov, k)


def fit_pca_from_moments(n: int, mean, cov, k: int) -> dict:
    """The driver-side half of :func:`fit_pca`, split out so a model can
    be fitted from PERSISTED moments (operators/incremental_pca.py)
    without re-scanning any corpus. Same determinism contract."""
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T  # k x d
    for i in range(comps.shape[0]):
        j = int(np.abs(comps[i]).argmax())
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return {
        "n": n,
        "mean": mean,
        "eigenvalues": vals[order],
        "components": comps,
        # trace of the covariance (= total variance = sum of ALL
        # eigenvalues) — carried so callers can bound the top-k
        # explained variance without a second stats pass
        "total_variance": float(np.trace(cov)),
    }


def project(
    df: DataFrame,
    model: dict,
    out_col: str = "pca",
    whiten: bool = False,
) -> DataFrame:
    """Map-side projection onto the fitted components — the component
    matrix rides into the plan as k literal arrays (same flat-literal
    shape as the LSH hyperplanes, O(1) plan size in row count), and each
    output coordinate is one codegen dot product. ``whiten`` scales each
    coordinate by 1/sqrt(eigenvalue) (unit variance per component)."""
    centered = (
        f"zip_with({as_double_sql('embedding')}, {doubles_sql(model['mean'])}, "
        "(x, m) -> x - m)"
    )
    coords: list[Column] = []
    for i, comp in enumerate(model["components"]):
        c = dot(centered, doubles_sql(comp))
        if whiten:
            ev = float(model["eigenvalues"][i])
            c = c / float(np.sqrt(ev)) if ev > 0 else F.lit(0.0)
        coords.append(c)
    return df.withColumn(out_col, F.array(*coords))
