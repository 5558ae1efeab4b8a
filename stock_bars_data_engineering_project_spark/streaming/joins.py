"""Watermarked stream-stream joins.

The reference's incremental loop correlates nothing across events; a
streaming engine must. Structured Streaming's stream-stream inner join
emits a match as soon as both sides arrive; the watermarks plus the
event-time range predicate bound how long each side's rows are buffered
in state (without them, both join states grow forever). On a finite
availableNow drain the inner join therefore emits exactly the batch
interval-join result — which is what the DuckDB oracle computes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(left: DataFrame, right: DataFrame, how: str = "inner") -> DataFrame:
    """Join ``left`` and ``right`` on ``user_id`` where the right event
    happened within ``[ts - 1 hour, ts]`` of the left event. Works
    identically on batch DataFrames and on watermarked streams (callers
    apply ``withWatermark`` on each stream; the range predicate below is
    what lets the engine evict buffered rows once the watermark passes).

    ``how="left_outer"`` emits every left event, matched or not. Under
    streaming this is the semantically interesting one — an unmatched
    left row cannot be emitted the moment it arrives (a match may still
    come), so the engine holds it in state and emits the null-padded row
    only once the WATERMARK passes the end of its match window. The
    time-bounded condition is therefore mandatory for outer
    stream-stream joins, not just a state-size optimization: without it
    "no match can still arrive" is undecidable and Spark rejects the
    query. On a finite availableNow drain the result equals the batch
    left-outer interval join, which is what the oracle computes.
    """
    lt = left.select(
        F.col("user_id").alias("l_user_id"),
        *[F.col(c).alias(f"l_{c}") for c in left.columns if c != "user_id"],
    )
    rt = right.select(
        F.col("user_id").alias("r_user_id"),
        *[F.col(c).alias(f"r_{c}") for c in right.columns if c != "user_id"],
    )
    cond = (
        (F.col("l_user_id") == F.col("r_user_id"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr("INTERVAL 1 hour"))
        & (F.col("r_ts") <= F.col("l_ts"))
    )
    return lt.join(rt, cond, how)
