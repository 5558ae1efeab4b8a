"""SCD Type-2 dimension merge (operators/merge.py scd2_init/scd2_merge):
hand-computed version histories, idempotence, delete detection, NULL-key
and NULL-value handling, the loud-guard contracts, and a warehouse
snapshot round-trip."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_bars_data_engineering_project_spark.operators import merge
from stock_bars_data_engineering_project_spark.operators.merge import (
    scd2_init,
    scd2_merge,
)

SCHEMA = "k long, status string, price double"


def _rows(df):
    return sorted(
        (
            (r.k, r.status, r.price, r.valid_from, r.valid_to, r.is_current)
            for r in df.collect()
        ),
        key=lambda t: tuple((v is not None, v) for v in t),
    )


@pytest.fixture()
def dim(spark):
    b1 = spark.createDataFrame(
        [(1, "A", 10.0), (2, "B", 20.0), (3, "C", 30.0)], SCHEMA
    )
    return scd2_init(b1, ("k",), 1)


@pytest.fixture()
def incremental(monkeypatch):
    """Incremental-batch sources: a key the batch lacks stays open."""
    monkeypatch.setattr(merge, "CLOSE_MISSING", False)


def test_init_opens_every_row(dim):
    assert _rows(dim) == [
        (1, "A", 10.0, 1, None, True),
        (2, "B", 20.0, 1, None, True),
        (3, "C", 30.0, 1, None, True),
    ]


def test_merge_classifies_all_four_cases(spark, dim):
    """k=1 unchanged, k=2 tracked-value change, k=3 absent (delete
    detection on), k=4 new."""
    b2 = spark.createDataFrame(
        [(1, "A", 10.0), (2, "B", 25.0), (4, "D", 40.0)], SCHEMA
    )
    out = scd2_merge(
        dim, b2, ("k",), ("status", "price"), 2
    )
    assert _rows(out) == [
        (1, "A", 10.0, 1, None, True),
        (2, "B", 20.0, 1, 2, False),
        (2, "B", 25.0, 2, None, True),
        (3, "C", 30.0, 1, 2, False),
        (4, "D", 40.0, 2, None, True),
    ]


def test_merge_same_snapshot_is_idempotent(spark, dim):
    b2 = spark.createDataFrame(
        [(1, "A", 10.0), (2, "B", 25.0), (4, "D", 40.0)], SCHEMA
    )
    once = scd2_merge(
        dim, b2, ("k",), ("status", "price"), 2
    )
    again = scd2_merge(
        once, b2, ("k",), ("status", "price"), 3
    )
    assert _rows(again) == _rows(once)


def test_incremental_batch_keeps_absent_keys_open(spark, dim, incremental):
    b2 = spark.createDataFrame([(2, "B", 25.0)], SCHEMA)
    out = scd2_merge(dim, b2, ("k",), ("status", "price"), 2)
    cur = {r.k for r in out.filter("is_current").collect()}
    assert cur == {1, 2, 3}
    assert out.filter("is_current").count() == 3  # one open row per key


def test_at_most_one_open_version_per_key_across_three_batches(spark, dim, incremental):
    state = dim
    for stamp, price in ((2, 21.0), (3, 22.0), (4, 23.0)):
        batch = spark.createDataFrame([(2, "B", price)], SCHEMA)
        state = scd2_merge(state, batch, ("k",), ("status", "price"), stamp)
    per_key = (
        state.filter("is_current")
        .groupBy("k")
        .count()
        .filter("count > 1")
        .count()
    )
    assert per_key == 0
    hist_2 = _rows(state.filter((F.col("k") == 2) & ~F.col("is_current")))
    assert hist_2 == [
        (2, "B", 20.0, 1, 2, False),
        (2, "B", 21.0, 2, 3, False),
        (2, "B", 22.0, 3, 4, False),
    ]


def test_null_key_and_null_tracked_values(spark):
    """NULL is a legal key (null-safe join) and a legal tracked value
    (NULL -> value is a change; NULL -> NULL is not)."""
    b1 = spark.createDataFrame([(None, None, 1.0), (1, "A", 2.0)], SCHEMA)
    dim = scd2_init(b1, ("k",), 1)
    b2 = spark.createDataFrame([(None, "X", 1.0), (1, "A", 2.0)], SCHEMA)
    out = scd2_merge(dim, b2, ("k",), ("status", "price"), 2)
    assert _rows(out) == [
        (None, None, 1.0, 1, 2, False),
        (None, "X", 1.0, 2, None, True),
        (1, "A", 2.0, 1, None, True),
    ]
    # NULL -> NULL: no new version
    out2 = scd2_merge(dim, b1, ("k",), ("status", "price"), 2)
    assert _rows(out2) == _rows(dim)


def test_source_batch_is_key_deduped(spark, dim):
    dup = spark.createDataFrame([(4, "D", 1.0), (4, "D", 1.0)], SCHEMA)
    out = scd2_merge(dim, dup, ("k",), ("status", "price"), 2)
    assert out.filter("k = 4").count() == 1


def test_guards_refuse_malformed_inputs(spark, dim):
    plain = spark.createDataFrame([(1, "A", 10.0)], SCHEMA)
    with pytest.raises(ValueError, match="lacks SCD2 column"):
        scd2_merge(plain, plain, ("k",), ("status",), 2)
    with pytest.raises(ValueError, match="must not carry"):
        scd2_merge(dim, dim, ("k",), ("status",), 2)
    with pytest.raises(ValueError, match="writes column"):
        scd2_init(dim, ("k",), 2)


def test_warehouse_snapshot_roundtrip(spark, tmp_path, dim, incremental):
    """The dimension survives a warehouse write/read cycle and the next
    merge applies cleanly on the read-back frame."""
    from stock_bars_data_engineering_project_spark.sinks.warehouse import (
        ParquetWarehouse,
    )

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.overwrite(dim, "dim_scd2")
    b2 = spark.createDataFrame([(2, "B", 25.0)], SCHEMA)
    merged = scd2_merge(
        wh.read("dim_scd2"), b2, ("k",), ("status", "price"), 2
    )
    wh.overwrite(merged, "dim_scd2")
    assert _rows(wh.read("dim_scd2")) == [
        (1, "A", 10.0, 1, None, True),
        (2, "B", 20.0, 1, 2, False),
        (2, "B", 25.0, 2, None, True),
        (3, "C", 30.0, 1, None, True),
    ]
