"""Range join: inclusive bounds, multi-bucket intervals, no dup matches."""

from __future__ import annotations

from datetime import datetime

from stock_bars_data_engineering_project_spark.operators.rangejoin import range_join


def _dt(h, m=0, s=0):
    return datetime(2024, 1, 1, h, m, s)


def test_range_join_inclusive_and_multibucket(spark):
    left = spark.createDataFrame(
        [(i, 7, t) for i, t in ((1, _dt(10)), (2, _dt(12, 30)), (3, _dt(13, 0)), (4, _dt(13, 0, 1)))],
        "event_id long, user_id long, ts timestamp",
    )
    # one interval spanning 4 hourly buckets: [10:00, 13:00]
    right = spark.createDataFrame(
        [(100, 7, _dt(10), _dt(13))],
        "interval_id long, user_id long, window_lo timestamp, window_hi timestamp",
    )
    rows = range_join(left, right).collect()
    got = sorted(r.event_id for r in rows)
    # 1: lo-inclusive; 2: interior; 3: hi-inclusive; 4: one second past hi
    assert got == [1, 2, 3]
    # exactly one match row per qualifying left row (no bucket-induced dups)
    assert len(rows) == 3


def test_range_join_keyed(spark):
    left = spark.createDataFrame(
        [(1, 7, _dt(11)), (2, 8, _dt(11))], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(7, _dt(10), _dt(12))],
        "user_id long, window_lo timestamp, window_hi timestamp",
    )
    rows = range_join(left, right).collect()
    assert [r.event_id for r in rows] == [1]  # co-key respected


def test_salted_topk_equals_unsalted_on_hot_key(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from stock_bars_data_engineering_project_spark.operators.skew import salted_topk

    # one pathologically hot key (id 1) + a normal key
    df = spark.range(10000).select(
        F.when(F.col("id") < 9990, F.lit(1)).otherwise(F.lit(2)).alias("k"),
        F.col("id").alias("event_id"),
        (F.col("id") % 997).cast("double").alias("value"),
    )
    got = {
        (r.k, r.rank): r.event_id
        for r in salted_topk(
            df, keys=("k",), order_col="value", tiebreak_col="event_id", k=5, n_salt=8
        ).collect()
    }
    w = Window.partitionBy("k").orderBy(F.col("value").desc(), F.col("event_id"))
    want = {
        (r.k, r.rank): r.event_id
        for r in df.withColumn("rank", F.row_number().over(w))
        .filter("rank <= 5")
        .collect()
    }
    assert got == want
