"""Distributed PCA: sufficient-statistics reduction must equal the
single-machine numpy computation, projection must be deterministic and
variance-ordered, whitening must unit-scale."""

from __future__ import annotations

import numpy as np
import pytest

from stock_bars_data_engineering_project_spark.operators.pca import (
    covariance_stats,
    fit_pca,
    project,
)
from stock_bars_data_engineering_project_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"
DIM = 64


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").repartition(8)


def _local(emb):
    x = np.stack([r.embedding for r in emb.collect()]).astype(np.float64)
    return x


def test_covariance_matches_numpy(spark, emb):
    n, mean, cov = covariance_stats(emb, dim=DIM)
    x = _local(emb)
    assert n == x.shape[0]
    np.testing.assert_allclose(mean, x.mean(axis=0), rtol=1e-10)
    np.testing.assert_allclose(cov, np.cov(x, rowvar=False, bias=True), rtol=1e-8)


def test_projection_variance_is_eigen_ordered(spark, emb):
    model = fit_pca(emb, k=8, dim=DIM)
    out = project(emb, model, out_col="pca")
    coords = np.stack([r.pca for r in out.select("pca").collect()])
    var = coords.var(axis=0)
    # per-component variance equals the eigenvalue, in descending order
    np.testing.assert_allclose(var, model["eigenvalues"], rtol=1e-8)
    assert all(var[i] >= var[i + 1] - 1e-12 for i in range(len(var) - 1))


def test_whitening_unit_variance(spark, emb):
    model = fit_pca(emb, k=4, dim=DIM)
    out = project(emb, model, out_col="w", whiten=True)
    coords = np.stack([r.w for r in out.select("w").collect()])
    np.testing.assert_allclose(coords.var(axis=0), np.ones(4), rtol=1e-8)


def test_fit_is_partitioning_invariant(spark, emb):
    a = fit_pca(emb.repartition(3), k=3, dim=DIM)
    b = fit_pca(emb.repartition(17), k=3, dim=DIM)
    np.testing.assert_allclose(a["components"], b["components"], atol=1e-9)
    np.testing.assert_allclose(a["eigenvalues"], b["eigenvalues"], rtol=1e-10)


def test_dim_mismatch_fails_loudly(spark):
    bad = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="dim"):
        covariance_stats(bad, dim=DIM)
