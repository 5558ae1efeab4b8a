"""Range (interval) join: left.ts ∈ [right.lo, right.hi], bucketized.

Spark turns a raw BETWEEN join into BroadcastNestedLoopJoin (small right)
or a cartesian product (big right) — O(|L| x |R|) per key. The standard
scale fix is temporal bucketization: explode each right interval into
the fixed-width buckets it covers, bucket the left timestamps, and
equi-join on (keys..., bucket) — Catalyst then runs a plain shuffle/
broadcast HASH join — followed by the exact BETWEEN filter. Cost is
O(|L| + |R| x avg_interval/bucket) join input rows; pick the bucket
width near the median interval length so the explosion factor stays
small. A left row meets a given interval in exactly one bucket (its
own), so no post-join dedup is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def range_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Equi-join-shaped interval join: rows of ``left`` matched to every
    ``right`` interval of the same ``user_id`` with ``window_lo <= ts <=
    window_hi`` (inclusive both ends), through one-hour buckets."""
    lo, hi, by = "window_lo", "window_hi", ("user_id",)
    # Column names shared between the two frames (beyond the join keys)
    # would make the unqualified BETWEEN references below ambiguous —
    # fail with the precondition spelled out instead of Spark's
    # AMBIGUOUS_REFERENCE (or a silent wrong-side resolution).
    overlap = (set(left.columns) & set(right.columns)) - set(by)
    if overlap:
        raise ValueError(
            f"range_join requires disjoint non-key column names; rename on "
            f"one side: {sorted(overlap)}"
        )
    lb = left.withColumn(
        "_bucket", F.floor(F.unix_timestamp(F.col("ts")) / 3600)
    )
    rb = (
        right.withColumn(
            "_bucket",
            F.explode(
                F.sequence(
                    F.floor(F.unix_timestamp(F.col(lo)) / 3600),
                    F.floor(F.unix_timestamp(F.col(hi)) / 3600),
                )
            ),
        )
    )
    return (
        lb.join(rb, [*by, "_bucket"], "inner")
        .filter((F.col("ts") >= F.col(lo)) & (F.col("ts") <= F.col(hi)))
        .drop("_bucket")
    )
