"""The analytical core: per-key windowed bar analytics (SURVEY §2.5, §2.7).

Re-expresses the reference's single analytical query
(/root/reference/etl_project/assets/sql/transform/stock_bars_analysis.sql:1-35)
as a generic, composable ``DataFrame -> DataFrame`` operator:

    W1  LAG(value, 1)        OVER (PARTITION BY key ORDER BY ts)
    --  guarded return        round((v - prev) / nullif(prev, 0), 3)      (Q2, Q3)
    W2  5-row moving AVG      OVER (... ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    W3  5-row moving STDDEV   over the ALREADY-ROUNDED return (sample stddev,
                              NULL for 1-row frames — Q3, Q4, Q5)

Exact semantic quirks preserved (SURVEY §1.3):
  * Q3 rounding order — return rounded to 3 first, the *100 product rounded
    to 1, moving avg/stddev rounded to 2 after windowing.
  * Q4/Q5 NULL cascade — no LAG default, stddev_samp over a single row is
    NULL, window aggregates skip NULLs inside the frame.

Scale notes (100 TB posture): one shuffle, hash-partitioned by ``key``;
every window below shares that single (key, ts) sort so Catalyst plans ONE
Exchange + ONE Sort feeding all three Window operators. Skewed keys (few
huge tickers) are the known hazard — AQE skew handling does not apply to
windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import guarded_ratio, round_half_up


def bars_analysis(
    df: DataFrame,
    key: str = "stock",
    ts: str = "timestamp",
    value: str = "close",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-key lag / guarded-return / moving-avg / moving-stddev analytics.

    Output columns (names mirror the reference's derived table):
    ``key, [carry_cols...], date, value, prev_value, return_pct,
    moving_avg, moving_stddev``.
    """
    order = Window.partitionBy(key).orderBy(ts)
    frame = order.rowsBetween(-4, Window.currentRow)  # 5-row frame
    v = F.col(value)
    prev = F.lag(v, 1).over(order)  # W1: no default => NULL on first row (Q5)
    ret = guarded_ratio(v - prev, prev)  # round(.., 3) BEFORE stddev (Q3)

    return (
        df.withColumn("prev_value", prev)
        .withColumn("ret", ret)
        .select(
            F.col(key),
            *[F.col(c) for c in carry_cols],
            F.to_date(F.col(ts)).alias("date"),  # X2: honest date type (Q1)
            v.alias("value"),
            F.col("prev_value"),
            round_half_up(F.col("ret") * 100, 1).alias("return_pct"),
            round_half_up(F.avg(v).over(frame), 2).alias("moving_avg"),  # W2
            round_half_up(F.stddev(F.col("ret")).over(frame), 2).alias(
                "moving_stddev"
            ),  # W3
        )
    )
