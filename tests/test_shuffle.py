"""Deterministic training-order shuffle: the (shard, order_key) pair
must replay one fixed global permutation — engine-portable (md5),
stable across runs/partitionings, reseedable per epoch, balanced across
shards, and NULL ids must fail loudly — and the layout materialized the
way shuffle_shards documents must stream back in exactly that order."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from stock_bars_data_engineering_project_spark.operators.sampling import (
    shuffle_shards,
)
from stock_bars_data_engineering_project_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"
N_SHARDS = 8


def _expected_order(ids, seed, n_shards=N_SHARDS):
    keyed = []
    for i in ids:
        k = hashlib.md5(f"shuffle:{seed}:{i}".encode()).hexdigest()
        keyed.append((int(k[:12], 16) % n_shards, k, i))
    return [i for _, _, i in sorted(keyed)]


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents")


def test_matches_reference_permutation(spark, docs):
    got = (
        shuffle_shards(docs, n_shards=N_SHARDS, seed="ep0")
        .orderBy("shard", "order_key")
        .select("doc_id")
        .collect()
    )
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    assert [r.doc_id for r in got] == _expected_order(ids, "ep0")


def test_stable_across_partitionings(spark, docs):
    a = shuffle_shards(docs, seed="s").select("doc_id", "shard", "order_key")
    b = shuffle_shards(docs.repartition(13), seed="s").select(
        "doc_id", "shard", "order_key"
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_reseed_gives_independent_permutation(spark, docs):
    e0 = [
        r.doc_id
        for r in shuffle_shards(docs, n_shards=N_SHARDS, seed="ep0")
        .orderBy("shard", "order_key")
        .select("doc_id")
        .collect()
    ]
    e1 = [
        r.doc_id
        for r in shuffle_shards(docs, n_shards=N_SHARDS, seed="ep1")
        .orderBy("shard", "order_key")
        .select("doc_id")
        .collect()
    ]
    assert sorted(e0) == sorted(e1)
    assert e0 != e1  # astronomically unlikely to collide if independent


def test_shards_are_balanced(spark, docs):
    n = docs.count()
    counts = [
        r["count"]
        for r in shuffle_shards(docs, n_shards=N_SHARDS)
        .groupBy("shard")
        .count()
        .collect()
    ]
    assert len(counts) == N_SHARDS
    # md5 is uniform: every shard within 3 sigma of n/N_SHARDS
    mean = n / N_SHARDS
    sigma = (mean * (1 - 1 / N_SHARDS)) ** 0.5
    assert all(abs(c - mean) < 5 * sigma for c in counts)


def test_write_shuffled_streams_in_order(spark, docs, tmp_path):
    path = str(tmp_path / "shuffled")
    (
        shuffle_shards(docs, n_shards=4, seed="ep0")
        .repartition(4, "shard")
        .sortWithinPartitions("shard", "order_key")
        .write.partitionBy("shard")
        .parquet(path)
    )
    streamed = []
    for s in range(4):
        part = spark.read.parquet(f"{path}/shard={s}")
        streamed.extend(r.doc_id for r in part.collect())
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    assert streamed == _expected_order(ids, "ep0", n_shards=4)


def test_guards(spark, docs):
    with pytest.raises(ValueError, match="n_shards"):
        shuffle_shards(docs, n_shards=0)
    with pytest.raises(ValueError, match="order_key"):
        shuffle_shards(docs.withColumn("order_key", F.lit(1)))
    null_df = spark.createDataFrame([(None,)], "doc_id long")
    with pytest.raises(Exception, match="NULL id"):
        shuffle_shards(null_df).collect()


def test_shard_alone_still_raises_on_null_id(spark):
    """The NULL-id guard must fire even when only `shard` is consumed
    (projection pruning would otherwise drop a guard that lived only in
    order_key, silently routing NULL ids to a NULL shard)."""
    import pytest

    from stock_bars_data_engineering_project_spark.operators.sampling import (
        shuffle_shards,
    )

    df = spark.createDataFrame([(1,), (None,)], "doc_id long")
    with pytest.raises(Exception, match="NULL id"):
        shuffle_shards(df).groupBy("shard").count().collect()
