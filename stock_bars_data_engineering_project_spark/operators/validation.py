"""Data-quality validation checks — the dbt-tests / expectations layer
every warehouse-facing pipeline runs before trusting a load (the
reference trusts its loads implicitly; at 100 TB silent quality drift is
how training corpora rot).

Each check is a ``DataFrame -> one-row DataFrame`` with a fixed schema
``(check, tbl, observed, failed, ok)`` so a panel of checks is a plain
``unionByName`` — queryable, storable in the run-log warehouse, and
diffable across loads:

  * ``observed`` — the check's headline scalar (count, distinct count,
    epoch-micros watermark), BIGINT so the panel stays one type.
  * ``failed``   — rows (or keys) violating the expectation.
  * ``ok``       — 1 iff ``failed == 0``.

Scale shape: every check except ``ref_integrity`` is a single
conditional-count aggregate — partial-aggregable, reduced map-side to
one row per partition, no shuffle of data rows. ``ref_integrity``
dedups the child's key column first (one hash-agg on the key), then
left-anti joins the parent's key column — both sides shrink to key
cardinality before the join, so the shuffle moves keys, not rows.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import event_micros


def _row(
    check: str, tbl: str, observed: Column, failed: Column
) -> list[Column]:
    return [
        F.lit(check).alias("check"),
        F.lit(tbl).alias("tbl"),
        observed.cast("bigint").alias("observed"),
        failed.cast("bigint").alias("failed"),
        (failed == 0).cast("int").alias("ok"),
    ]


def _failed_count(pred: Column) -> Column:
    """Count of rows violating ``pred`` (NULL predicate counts as a
    violation — an expectation that cannot be evaluated is not met)."""
    return F.count(F.lit(1)) - F.count_if(pred)


def row_count(df: DataFrame, tbl: str) -> DataFrame:
    """Non-empty expectation; observed = the row count itself."""
    n = F.count(F.lit(1))
    return df.agg(*_row("row_count", tbl, n, (n == 0).cast("bigint")))


def max_watermark(df: DataFrame, tbl: str) -> DataFrame:
    """Freshness probe: observed = epoch-micros of max(ts) (integer on
    both engines — string-formatting a timestamp is engine-flavored).
    Fails only when the table has no timestamps at all."""
    mx = F.max(event_micros(df, "ts"))
    return df.agg(*_row("max_watermark", tbl, mx, mx.isNull().cast("bigint")))


def not_null(df: DataFrame, tbl: str, col: str) -> DataFrame:
    return df.agg(
        *_row(
            f"not_null:{col}",
            tbl,
            F.count(F.lit(1)),
            _failed_count(F.col(col).isNotNull()),
        )
    )


def unique_key(df: DataFrame, tbl: str, col: str) -> DataFrame:
    """Primary-key expectation: failed = rows beyond one per distinct
    value. count_distinct is a two-phase partial aggregate (no row
    shuffle); NULL keys count as violations via the count diff."""
    n = F.count(F.lit(1))
    return df.agg(
        *_row(f"unique_key:{col}", tbl, F.count_distinct(F.col(col)),
              n - F.count_distinct(F.col(col)))
    )


def accepted_values(
    df: DataFrame, tbl: str, col: str, values: tuple[str, ...]
) -> DataFrame:
    return df.agg(
        *_row(
            f"accepted_values:{col}",
            tbl,
            F.count(F.lit(1)),
            _failed_count(F.col(col).isin(*values)),
        )
    )


def value_range(
    df: DataFrame,
    tbl: str,
    col: str,
    lo: float,
    hi: float,
) -> DataFrame:
    pred = (F.col(col) >= lo) & (F.col(col) <= hi)
    return df.agg(
        *_row(f"range:{col}", tbl, F.count(F.lit(1)), _failed_count(pred))
    )


def ref_integrity(
    child: DataFrame,
    child_col: str,
    parent: DataFrame,
    parent_col: str,
    tbl: str,
) -> DataFrame:
    """Foreign-key expectation: failed = DISTINCT child keys with no
    parent row (orphan keys, not orphan rows — the actionable number).
    Both sides reduce to key cardinality before the anti-join.

    NULL policy: a NULL child key references nothing and counts as ONE
    orphan key, even when the parent side also contains NULLs — the
    anti-join's null-unsafe equality gives exactly that, and the paired
    oracle counts the NULL case explicitly (set-semantic EXCEPT would
    treat NULL = NULL and hide it)."""
    orphans = (
        child.select(F.col(child_col).alias("_k"))
        .distinct()
        .join(
            parent.select(F.col(parent_col).alias("_k")).distinct(),
            "_k",
            "left_anti",
        )
    )
    return orphans.agg(
        *_row(
            f"ref_integrity:{child_col}",
            tbl,
            F.count(F.lit(1)),
            F.count(F.lit(1)),
        )
    )


def validation_panel(checks: list[DataFrame]) -> DataFrame:
    """Union a list of check rows into one panel (schema enforced by
    construction — every builder emits the same five columns)."""
    if not checks:
        raise ValueError("validation_panel: no checks given")
    return reduce(lambda a, b: a.unionByName(b), checks)


def k_anonymity(df: DataFrame, quasi_cols: tuple[str, ...]) -> DataFrame:
    """Re-identification risk audit — the governance gate a training
    corpus with user-linked metadata needs before release: every
    combination of quasi-identifier values (the columns an adversary
    could join against an external dataset) must be shared by at least
    k = 10 rows, or the rows in that class are re-identifiable. The
    standard k-anonymity report, as one aggregate:

      * ``n_classes``: distinct quasi-identifier combinations,
      * ``min_class_size``: the smallest class (the audit headline —
        k-anonymity holds iff this is >= k),
      * ``n_below_k``: how many classes violate,
      * ``n_rows_at_risk``: how many rows sit in violating classes.

    NULL quasi values form their own class (an adversary can join on
    "field absent" too). Scale shape: one partial-aggregable groupBy
    over the quasi columns, then a 4-scalar aggregate of the
    class-sized count table — no row-level output, so the report never
    leaks the rare classes it warns about.
    """
    if not quasi_cols:
        raise ValueError("k_anonymity needs at least one quasi column")
    k = 10
    sizes = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("_n"))
    return sizes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("_n").alias("min_class_size"),
        F.sum((F.col("_n") < k).cast("long")).alias("n_below_k"),
        F.sum(F.when(F.col("_n") < k, F.col("_n")).otherwise(0)).alias(
            "n_rows_at_risk"
        ),
    )


def l_diversity(
    df: DataFrame,
    quasi_cols: tuple[str, ...],
) -> DataFrame:
    """k-anonymity's companion audit: a class can be large (k-anonymous)
    yet still leak if every member shares the same SENSITIVE value —
    the adversary learns the attribute without identifying the row.
    l-diversity requires every quasi-identifier class to contain at
    least l = 2 distinct sensitive ``lang`` values. Same leak-free report shape
    as :func:`k_anonymity`: (n_classes, min_distinct_sensitive,
    n_below_l) — classes themselves are never emitted. NULL sensitive
    values count as a value (the absence of the attribute is itself
    informative). One partial-aggregable groupBy at any scale.
    """
    if not quasi_cols:
        raise ValueError("l_diversity needs at least one quasi column")
    # count_distinct skips NULLs; the +max(is-null) term restores the
    # NULL sensitive value as a countable class member
    per = df.groupBy(*quasi_cols).agg(
        (
            F.count_distinct(F.col("lang"))
            + F.max(F.col("lang").isNull().cast("long"))
        ).alias("_l")
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("_l").alias("min_distinct_sensitive"),
        F.sum((F.col("_l") < 2).cast("long")).alias("n_below_l"),
    )
