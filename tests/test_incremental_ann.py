"""Incremental IVF index maintenance (operators/incremental_ann.py):
build-then-ingest must answer queries exactly like a one-shot ivf_topk
over the full corpus with the same centroids; ingest must be
idempotent; the probe scan must partition-prune to the probed lists."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_bars_data_engineering_project_spark.operators import incremental_ann
from stock_bars_data_engineering_project_spark.operators.incremental_ann import (
    ann_query,
    build_ann_index,
    ingest_vectors,
)
from stock_bars_data_engineering_project_spark.operators.index_maint import (
    IVF,
    apply_deletes,
    delete_ids,
)
from stock_bars_data_engineering_project_spark.operators.similarity import ivf_topk
from stock_bars_data_engineering_project_spark.sinks.warehouse import ParquetWarehouse
from stock_bars_data_engineering_project_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").select("vec_id", "embedding")


@pytest.fixture(autouse=True)
def _small_quantizer(monkeypatch):
    # more, refined centroids than the registered row's, so the small
    # corpus spreads over many lists
    monkeypatch.setattr(incremental_ann, "CENTROID_STRIDE", 40)
    monkeypatch.setattr(incremental_ann, "REFINE_ITERS", 1)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_build_ingest_matches_oneshot(spark, emb, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)
    # centroids must be trained on the SAME data for equality, so build
    # trains on the full corpus's first half and the comparison ivf_topk
    # reuses the stored centroids — assignment is deterministic, so
    # one-shot vs build+ingest differ only in storage layout
    build_ann_index(wh, first, "idx")
    ingest_vectors(wh, second, "idx")
    queries = emb.filter(F.col("vec_id") < 5)
    got = ann_query(wh, queries, "idx")
    cent = wh.read("idx__centroids")
    want = ivf_topk(emb, queries, nprobe=3, centroids=cent)
    assert _rows(got) == _rows(want)


def test_ingest_idempotent(spark, emb, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)
    build_ann_index(wh, first, "idx")
    ingest_vectors(wh, second, "idx")
    before = _rows(wh.read("idx").select("vec_id", "cid"))
    ingest_vectors(wh, second, "idx")  # replay
    assert _rows(wh.read("idx").select("vec_id", "cid")) == before
    # every corpus vector is in exactly one list
    assert len(before) == len({vec_id for vec_id, _ in before}) == emb.count()


def test_tombstone_delete_and_apply(spark, emb, tmp_path):
    """delete_ids tombstones: queries immediately equal the
    one-shot ivf_topk over the surviving corpus with the same frozen
    centroids; deletion is idempotent; a tombstoned id is dead to
    re-ingest; apply_deletes folds the tombstones physically (cid hive
    layout preserved) with answers unchanged, after which the id may be
    re-ingested."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    build_ann_index(wh, emb.filter(F.col("vec_id") % 2 == 0), "idx")
    ingest_vectors(wh, emb.filter(F.col("vec_id") % 2 == 1), "idx")

    dead_ids = [r.vec_id for r in
                emb.filter(F.col("vec_id") % 10 == 3).limit(30).collect()]
    survivors = emb.filter(~F.col("vec_id").isin(dead_ids))
    delete_ids(wh, dead_ids, "idx", IVF)
    delete_ids(wh, dead_ids[:5], "idx", IVF)  # idempotent re-delete

    queries = emb.filter(F.col("vec_id") < 5)
    cent = wh.read("idx__centroids")
    want = _rows(ivf_topk(survivors, queries, nprobe=3, centroids=cent))
    assert _rows(ann_query(wh, queries, "idx")) == want

    # tombstoned ids are dead to re-ingest until physically applied
    n_before = wh.read("idx").count()
    ingest_vectors(wh, emb.filter(F.col("vec_id").isin(dead_ids[:3])), "idx")
    assert wh.read("idx").count() == n_before
    assert _rows(ann_query(wh, queries, "idx")) == want

    apply_deletes(wh, "idx", IVF)
    assert _rows(ann_query(wh, queries, "idx")) == want
    assert not wh.exists("idx__deleted")
    assert wh.read("idx").filter(F.col("vec_id").isin(dead_ids)).count() == 0
    # physical apply preserved the cid hive layout (static pruning path)
    plan = (
        wh.read("idx").filter(F.col("cid").isin([0]))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan
    # after apply, a deleted id re-ingests as a fresh vector
    ingest_vectors(wh, emb.filter(F.col("vec_id") == dead_ids[0]), "idx")
    assert wh.read("idx").filter(F.col("vec_id") == dead_ids[0]).count() == 1


def test_probe_scan_partition_prunes(spark, emb, tmp_path):
    """The literal IN probe filter must reach the scan as a partition
    filter on the cid-partitioned index (files outside the probed lists
    are never opened)."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    build_ann_index(wh, emb, "idx")
    probed = [r["cid"] for r in wh.read("idx").select("cid").distinct().limit(2).collect()]
    plan = (
        wh.read("idx")
        .filter(F.col("cid").isin(probed))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "cid" in plan.split("PartitionFilters")[1][:200]
