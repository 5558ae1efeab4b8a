"""Distribution-drift detection — the monitoring half of a training
pipeline.

A corpus or feature store that is re-ingested continuously needs an
automated answer to "did this batch's distribution move?": upstream
schema changes, seasonality, a broken producer, or a poisoned source
all show up as a shifted value distribution long before they show up as
a failed expectation. The standard industry metric is the Population
Stability Index (PSI — the symmetrized-per-bin form of KL divergence
used in credit-risk model monitoring for decades):

    PSI = sum_bins (p_i - q_i) * ln(p_i / q_i)

with the conventional reading PSI < 0.1 stable, 0.1-0.25 moderate
shift, > 0.25 action required.

Determinism contract (this engine's oracle discipline):

- **Fixed bin edges**, not derived quantile edges: drift monitoring
  best practice anyway (quantile edges move with the data they are
  supposed to judge), and it keeps binning a pure ``floor(value/w)`` —
  integer-exact in any engine, no interpolated-percentile FP hazard.
- **Laplace (+1) smoothing over the observed bin set**: an empty bin on
  either side would make ln(p/q) infinite; +1 over exactly the bins
  observed in EITHER population keeps every input to ln a ratio of
  exact integers, so p and q are single correctly-rounded divisions and
  the only cross-engine wiggle is the final double sum (absorbed by
  round_half_up, same as every corr/surprisal arm).

Scale shape: one partial-aggregable ``groupBy(keys, bucket)`` over the
fact table is the ONLY corpus-sized stage; totals and the PSI fold run
on the (keys x bins)-sized count table. No window over raw rows, no
driver collect.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import round_half_up


def psi_drift(df: DataFrame, is_reference: Column) -> DataFrame:
    """PSI between the ``is_reference`` rows and the rest, per
    ``event_type``, over width-10 bins of ``value``. Returns one row per
    ``event_type`` with ``psi`` (rounded), and the exact audit integers
    ``n_ref``, ``n_cur``, ``n_bins`` — gating the population sizes and the bin
    support alongside the statistic itself.

    ``is_reference`` is any boolean Column (e.g. an even/odd epoch-day
    split for temporal drift, or a batch-id predicate for
    batch-over-batch drift). Rows where it is NULL are treated as
    current — callers wanting a third bucket should filter first.
    """
    bucket = F.floor(F.col("value") / F.lit(10.0)).cast("long")
    ref_flag = F.when(is_reference, F.lit(1)).otherwise(F.lit(0))
    # one corpus-sized partial-agg pass: per (key, bucket) side counts
    counts = (
        df.select("event_type", bucket.alias("_bucket"), ref_flag.alias("_is_ref"))
        .groupBy("event_type", "_bucket")
        .agg(
            F.sum("_is_ref").alias("_c_ref"),
            F.sum(F.lit(1) - F.col("_is_ref")).alias("_c_cur"),
        )
    )
    return _psi_from_side_counts(counts, ("event_type",))


def _psi_from_side_counts(counts: DataFrame, keys: Sequence[str]) -> DataFrame:
    """The PSI fold shared by :func:`psi_drift` and
    :func:`psi_vs_reference`: ``counts`` is the per-(keys, bin) side
    table (columns ``keys..., _bucket, _c_ref, _c_cur``); totals come
    from a window over it — NOT a self-join: an equi-join would
    silently drop a NULL key group (the exact hazard the sketch arm's
    eqNullSafe comment documents), while partitionBy treats NULL as a
    group like groupBy."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys)
    joined = (
        counts.withColumn("_n_ref", F.sum("_c_ref").over(w))
        .withColumn("_n_cur", F.sum("_c_cur").over(w))
        .withColumn("_n_bins", F.count(F.lit(1)).over(w))
    )
    p = (F.col("_c_ref") + F.lit(1.0)) / (F.col("_n_ref") + F.col("_n_bins"))
    q = (F.col("_c_cur") + F.lit(1.0)) / (F.col("_n_cur") + F.col("_n_bins"))
    return (
        joined.withColumn("_term", (p - q) * F.log(p / q))
        .groupBy(*keys)
        .agg(
            round_half_up(F.sum("_term"), 6).alias("psi"),
            F.first("_n_ref").alias("n_ref"),
            F.first("_n_cur").alias("n_cur"),
            F.first("_n_bins").alias("n_bins"),
        )
    )


def psi_vs_reference(cur_counts: DataFrame, ref_counts: DataFrame) -> DataFrame:
    """PSI of each (event_type x window) population against a FROZEN
    per-event_type reference histogram — the monitoring shape: the
    reference is the accepted corpus's bin counts (built once,
    persisted or broadcast), each arriving window is judged against it
    without the reference moving.

    ``cur_counts``: ``(event_type, day_idx, bucket, n)`` — e.g. the
    drained output of a streaming per-day histogram aggregation.
    ``ref_counts``: ``(event_type, bucket, n)``. Bin support per window
    is the union of the window's bins and the reference's bins for its
    key (reference bins missing from a window still vote — a vanished
    mode is drift). Join keys must be non-NULL (the equi-joins here
    would drop NULL groups; map NULLs to a sentinel first — psi_drift
    is the NULL-tolerant single-frame form).

    Scale shape: everything here runs on histogram-sized tables
    (ref = keys x bins, cur = keys x windows x bins); the reference
    side is broadcast onto the window list.
    """
    rk = ["event_type"]
    keys = rk + ["day_idx"]
    windows = cur_counts.select(*keys).distinct()
    expanded = windows.join(
        F.broadcast(
            ref_counts.select(
                *rk,
                F.col("bucket").alias("_bucket"),
                F.col("n").alias("_c_ref"),
            )
        ),
        rk,
    )
    # align the two sides by UNION + re-aggregation, NOT a full outer
    # join: `expanded` and the current counts share lineage (both
    # derive from cur_counts), and Spark's self-join resolution cannot
    # disambiguate the shared attribute ids even through aliases when
    # cur_counts is a view (e.g. a streaming memory sink). The union is
    # also one exchange cheaper than the join it replaces.
    side_rows = expanded.select(
        *keys, "_bucket", "_c_ref", F.lit(0).cast("long").alias("_c_cur")
    ).unionByName(
        cur_counts.select(
            *keys,
            F.col("bucket").alias("_bucket"),
            F.lit(0).cast("long").alias("_c_ref"),
            F.col("n").alias("_c_cur"),
        )
    )
    both = side_rows.groupBy(*keys, "_bucket").agg(
        F.sum("_c_ref").alias("_c_ref"),
        F.sum("_c_cur").alias("_c_cur"),
    )
    return _psi_from_side_counts(both, keys)


def mad_outliers(df: DataFrame) -> DataFrame:
    """Robust per-``event_type`` outlier detection by the median/MAD rule — the
    other half of batch monitoring next to :func:`psi_drift`: PSI says
    "the distribution moved", this says "these are the rows that don't
    belong" without the mean/stddev fragility (a single extreme value
    inflates the stddev enough to hide itself; the breakdown point of
    the median and the MAD is 50%).

    A ``value`` is an outlier when ``|v - median| > 3 * 1.4826 * MAD``
    (1.4826 scales the MAD to the stddev of a normal distribution, so
    the cut reads as 3 sigma).

    Determinism contract: the median and the MAD are rounded to 6
    places BEFORE the threshold comparison. Both engines see the
    same parquet doubles, and subtraction/abs/multiply are IEEE-exact,
    so once the two rounded statistics agree the outlier COUNT is
    bitwise-reproducible — an unrounded threshold would let a 1-ULP
    interpolation difference flip a row sitting exactly on the fence.
    The MAD is likewise taken around the ROUNDED median so its input
    set is engine-identical, not merely ULP-close.

    Degenerate groups: when more than half a group's
    values equal its median — constant or heavily quantized columns —
    the MAD is 0, the fence has zero width, and the rule would flag
    EVERY value differing from the median (potentially most of the
    group: a pathological count, not an outlier signal). Such groups
    report ``n_outliers`` as NULL — "the robust scale is undefined
    here, pick another detector" — rather than a misleading number;
    the median/mad/n columns still report so the caller can see why.

    Scale shape: three partial-aggregable passes over the fact table
    (median; MAD around it; threshold count), each joined to a
    BROADCAST group-sized statistics frame — no window over raw rows,
    no driver collect. Exact interpolated `percentile` is the
    correctness baseline, same stance as the percentile arms of the
    stats suite: the 100 TB operating point swaps `approx_percentile`
    (mergeable, one pass each) and its rank-error contract is already
    pinned in tests/test_stats.py. Returns one row per group (a NULL
    ``event_type`` is a group too): (event_type, median, mad, n,
    n_outliers).
    """
    ks = ["event_type"]
    vc = F.col("value")

    def _bjoin(left: DataFrame, right: DataFrame) -> DataFrame:
        return left.join(
            F.broadcast(right),
            left["event_type"].eqNullSafe(right["_r_event_type"]),
        ).drop("_r_event_type")

    def _renamed(stats: DataFrame) -> DataFrame:
        return stats.withColumnRenamed("event_type", "_r_event_type")

    med = df.groupBy(*ks).agg(
        round_half_up(
            F.expr("percentile(value, 0.5D)"), 6
        ).alias("median")
    )
    with_med = _bjoin(df, _renamed(med))
    # median/mad ride the downstream groupBys as grouping constants
    # (the per-group broadcast stats are single-valued per key)
    mad = with_med.groupBy(*ks, "median").agg(
        round_half_up(
            F.expr("percentile(abs(value - median), 0.5D)"),
            6,
        ).alias("mad"),
    )
    with_mad = _bjoin(df, _renamed(mad))
    return with_mad.groupBy(*ks, "median", "mad").agg(
        F.count(vc).alias("n"),
        mad_outlier_count().alias("n_outliers"),
    )


def mad_outlier_count() -> Column:
    """Aggregate over rows carrying ``value``, ``median`` and ``mad``:
    the number whose ``|value - median| > 3 * 1.4826 * mad`` (the
    :func:`mad_outliers` fence), NULL when the group's MAD is 0 (a
    zero-width fence flags everything off-median — the degenerate
    guard of :func:`mad_outliers`' docstring)."""
    fence = F.lit(3.0) * 1.4826 * F.col("mad")
    off_fence = F.abs(F.col("value") - F.col("median")) > fence
    return F.when(F.max("mad") == 0, F.lit(None).cast("long")).otherwise(
        F.sum(F.when(off_fence, 1).otherwise(0))
    )
