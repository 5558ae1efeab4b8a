"""Incrementally maintained PCA moments (operators/incremental_pca.py):
two-batch ingest ≡ full-corpus covariance_stats (relative 1e-9 — double
moments accumulate with addition-order rounding, unlike the LM's exact
integer counts), redelivery idempotence is EXACT, the fitted model from
persisted state matches the one-shot fit, and the loud guards fire."""

from __future__ import annotations

import contextlib
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from stock_bars_data_engineering_project_spark.functions.hashing import content_epoch
from stock_bars_data_engineering_project_spark.operators.incremental_pca import (
    ingest_pca_batch,
    pca_moments_state,
)
from stock_bars_data_engineering_project_spark.operators.pca import (
    covariance_stats,
    fit_pca,
    fit_pca_from_moments,
)
from stock_bars_data_engineering_project_spark.sinks.warehouse import (
    ParquetWarehouse,
)
from stock_bars_data_engineering_project_spark.sources.readers import load_table

DIM = 64


@pytest.fixture()
def emb(spark):
    return load_table(spark, "/root/testdata/sf0.001", "embeddings")


def _rel_close(a, b, tol=1e-9):
    return np.max(np.abs(a - b)) <= tol * (1.0 + np.max(np.abs(b)))


def test_two_batch_ingest_equals_full_recount(spark, emb, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "pca_wh"))
    half = emb.agg(F.expr("percentile(vec_id, 0.5D)")).first()[0]
    e1 = ingest_pca_batch(wh, emb.filter(F.col("vec_id") <= half), dim=DIM)
    e2 = ingest_pca_batch(wh, emb.filter(F.col("vec_id") > half), dim=DIM)
    assert e1 != e2  # different content -> different epochs
    n, mean, cov = pca_moments_state(wh, dim=DIM)
    fn, fmean, fcov = covariance_stats(emb, dim=DIM)
    assert n == fn  # counts are exact however the corpus was sliced
    assert _rel_close(mean, fmean)
    assert _rel_close(cov, fcov)

    # fitting from the persisted state matches the one-shot fit
    inc_model = fit_pca_from_moments(n, mean, cov, k=4)
    full_model = fit_pca(emb, k=4, dim=DIM)
    assert np.allclose(
        inc_model["eigenvalues"], full_model["eigenvalues"], rtol=1e-9
    )
    assert np.allclose(
        inc_model["components"], full_model["components"], atol=1e-9
    )


def test_redelivery_is_exactly_idempotent(spark, emb, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "pca_wh2"))
    batch = emb.filter(F.col("vec_id") % 2 == 0)
    e1 = ingest_pca_batch(wh, batch, dim=DIM)
    before = {r.i: r.v for r in wh.read("pca_moments").collect()}
    e2 = ingest_pca_batch(wh, batch, dim=DIM)  # redelivery
    after = {r.i: r.v for r in wh.read("pca_moments").collect()}
    assert e1 == e2
    assert before == after  # bit-identical, not merely close


@contextlib.contextmanager
def _job_group(sc, group: str):
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


def test_redelivery_runs_only_the_content_address(spark, emb, tmp_path):
    """A redelivered batch is recognized by a filesystem probe of its
    epoch partition: it submits exactly the jobs ``content_epoch``
    alone submits on that batch, and nothing is read or written."""
    wh = ParquetWarehouse(spark, str(tmp_path / "pca_wh_jobs"))
    batch = emb.filter(F.col("vec_id") % 3 == 0)
    ingest_pca_batch(wh, batch, dim=DIM)
    versions = wh.versions("pca_moments")

    sc = spark.sparkContext
    with _job_group(sc, "pca-epoch-only"):
        content_epoch(batch, "vec_id")
    with _job_group(sc, "pca-redelivery"):
        ingest_pca_batch(wh, batch, dim=DIM)
    # the status store is fed in event order: once the control job
    # shows, every earlier job shows too
    with _job_group(sc, "pca-control"):
        spark.range(1).collect()
    deadline = time.time() + 10
    while not sc.statusTracker().getJobIdsForGroup("pca-control"):
        assert time.time() < deadline, "the control job never reached the status store"
        time.sleep(0.05)
    alone = sc.statusTracker().getJobIdsForGroup("pca-epoch-only")
    redelivered = sc.statusTracker().getJobIdsForGroup("pca-redelivery")
    assert len(alone) >= 1
    assert len(redelivered) == len(alone)
    assert wh.versions("pca_moments") == versions


def test_guards(spark, emb, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "pca_wh3"))
    with pytest.raises(ValueError, match="empty batch"):
        ingest_pca_batch(wh, emb.filter(F.lit(False)), dim=DIM)
    with pytest.raises(ValueError, match="empty or lacks"):
        pca_moments_state(wh, dim=DIM)
    ingest_pca_batch(wh, emb.limit(10), dim=DIM)
    with pytest.raises(ValueError, match="wrong dim"):
        pca_moments_state(wh, dim=32)


def test_pca_ingest_stream_matches_recount(spark, emb, tmp_path):
    """The streaming drain (streaming/incremental.pca_ingest_stream):
    two parquet file waves through a real readStream + foreachBatch
    fold must produce a combined state satisfying the same recount
    laws as the batch path, however the trigger sliced the backlog."""
    import os

    from stock_bars_data_engineering_project_spark.streaming.incremental import (
        pca_ingest_stream,
    )

    wh = ParquetWarehouse(spark, str(tmp_path / "pca_swh"))
    src = os.path.join(str(tmp_path), "_src")
    ckpt = os.path.join(str(tmp_path), "_ckpt")
    sub = emb.select("vec_id", "embedding")
    half = emb.agg(F.expr("percentile(vec_id, 0.5D)")).first()[0]

    sub.filter(F.col("vec_id") <= half).write.mode("append").parquet(src)
    pca_ingest_stream(spark, src, sub.schema, wh, ckpt, dim=DIM)
    sub.filter(F.col("vec_id") > half).write.mode("append").parquet(src)
    pca_ingest_stream(spark, src, sub.schema, wh, ckpt, dim=DIM)

    n, mean, cov = pca_moments_state(wh, dim=DIM)
    fn, fmean, fcov = covariance_stats(emb, dim=DIM)
    assert n == fn
    assert _rel_close(mean, fmean)
    assert _rel_close(cov, fcov)

    # a third drain with no new files is a no-op (offset checkpoint)
    pca_ingest_stream(spark, src, sub.schema, wh, ckpt, dim=DIM)
    n2, mean2, cov2 = pca_moments_state(wh, dim=DIM)
    assert (n2, list(mean2)) == (n, list(mean))
