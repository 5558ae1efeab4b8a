"""As-of (nearest-predecessor) join — the time-series primitive Spark
lacks natively (reference scope: none — this is a scale extension; the
closest reference shape is the windowed prev-bar lookup in
/root/reference/etl_project/assets/sql/transform/stock_bars_analysis.sql:10,
which is an as-of join of a table to itself at lag 1).

Implemented as the union-sort trick, NOT a range join:

    tag right rows, union with left, one shuffle on the key, one in-partition
    sort by (event time, right-before-left), then
    ``last(right_payload, ignorenulls=True)`` over an unbounded-preceding
    row frame carries the most recent right row forward onto every left
    row.

Scale shape: cost is one shuffle + sort of |L| + |R| — same as any
windowed op on the key — against a range-join's |L| x |candidate window|
blowup, and skewed keys are handled by AQE exactly like any other
window. This is how kdb/PostgresTimescale/Flink express it internally;
DuckDB's native ASOF JOIN is the correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def asof_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Backward inclusive as-of join: each left row gains the right row
    with the greatest ``mark_ts <= ts`` within the same ``user_id``
    (NULLs when no predecessor exists). Right rows must be unique per
    (user_id, mark_ts) — dedup upstream, as with any merge source (SURVEY
    Q6).

    Forward as-of is the same construction with both orderings negated.
    """
    on, by, right_on = "ts", ("user_id",), "mark_ts"
    rval_cols = [c for c in right.columns if c not in by]
    clash = set(rval_cols) & set(left.columns)
    if clash:
        raise ValueError(f"rename right columns clashing with left: {sorted(clash)}")
    rtype = T.StructType(
        [T.StructField(c, right.schema[c].dataType) for c in rval_cols]
    )

    l2 = left.select(
        *by,
        F.col(on).alias("_t"),
        F.lit(1).alias("_src"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_l"),
        F.lit(None).cast(rtype).alias("_r"),
    )
    # NULL event times never match under ASOF semantics (DuckDB agrees);
    # unioned in, they would sort FIRST ascending and act as a predecessor
    # of every left row
    right = right.filter(F.col(right_on).isNotNull())
    r2 = right.select(
        *by,
        F.col(right_on).alias("_t"),
        F.lit(0).alias("_src"),  # sorts before left at equal time -> inclusive
        F.lit(None).cast(
            T.StructType([T.StructField(c, left.schema[c].dataType) for c in left.columns])
        ).alias("_l"),
        F.struct(*[F.col(c) for c in rval_cols]).alias("_r"),
    )
    w = (
        Window.partitionBy(*by)
        .orderBy("_t", "_src")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    joined = (
        l2.unionByName(r2)
        .withColumn("_match", F.last("_r", ignorenulls=True).over(w))
        .filter(F.col("_src") == 1)
    )
    out = joined.select(
        *[F.col(f"_l.{c}").alias(c) for c in left.columns],
        *[F.col(f"_match.{c}").alias(c) for c in rval_cols],
    )
    return out
