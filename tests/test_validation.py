"""Data-quality checks must actually catch violations — every builder
is exercised on data that FAILS its expectation (the registry query only
ever sees clean testdata, so the failure paths are pinned here)."""

from __future__ import annotations

import pytest

from stock_bars_data_engineering_project_spark.operators.validation import (
    accepted_values,
    max_watermark,
    not_null,
    ref_integrity,
    row_count,
    unique_key,
    validation_panel,
    value_range,
)


def _one(df):
    rows = df.collect()
    assert len(rows) == 1
    return rows[0]


def test_not_null_counts_violations(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None)], "id long, text string"
    )
    r = _one(not_null(df, "t", "text"))
    assert (r.check, r.tbl, r.observed, r.failed, r.ok) == (
        "not_null:text", "t", 3, 2, 0
    )


def test_unique_key_counts_extra_rows_and_null_keys(spark):
    df = spark.createDataFrame(
        [(1,), (1,), (2,), (None,)], "k long"
    )
    r = _one(unique_key(df, "t", "k"))
    # 4 rows, 2 distinct non-null keys -> 2 rows beyond one-per-key
    # (the duplicate AND the NULL key both count as violations)
    assert (r.observed, r.failed, r.ok) == (2, 2, 0)


def test_accepted_values_null_is_violation(spark):
    df = spark.createDataFrame([("O",), ("X",), (None,)], "s string")
    r = _one(accepted_values(df, "t", "s", ("O", "F")))
    assert (r.failed, r.ok) == (2, 0)


def test_value_range_bounds_and_guard(spark):
    df = spark.createDataFrame([(0.5,), (1.0,), (51.0,), (None,)], "q double")
    r = _one(value_range(df, "t", "q", 1, 50))
    assert (r.failed, r.ok) == (3, 0)  # 0.5 low, 51 high, NULL unknown
    r2 = _one(value_range(df, "t", "q", 0, 100))
    assert (r2.failed, r2.ok) == (1, 0)  # only NULL violates
    # both bounds are required: a range check without one is a typo
    with pytest.raises(TypeError):
        value_range(df, "t", "q")


def test_ref_integrity_counts_orphan_keys_not_rows(spark):
    child = spark.createDataFrame(
        [(1,), (1,), (9,), (9,), (9,)], "fk long"
    )
    parent = spark.createDataFrame([(1,), (2,)], "pk long")
    r = _one(ref_integrity(child, "fk", parent, "pk", "child"))
    # key 9 is orphaned; 3 orphan ROWS but 1 orphan KEY
    assert (r.observed, r.failed, r.ok) == (1, 1, 0)


def test_row_count_and_watermark_empty_table_fail(spark):
    empty = spark.createDataFrame([], "id long, ts timestamp")
    assert _one(row_count(empty, "t")).ok == 0
    assert _one(max_watermark(empty, "t")).ok == 0


def test_panel_unions_and_rejects_empty(spark):
    df = spark.createDataFrame([(1, "a")], "k long, s string")
    panel = validation_panel(
        [not_null(df, "t", "s"), unique_key(df, "t", "k")]
    )
    rows = panel.collect()
    assert [r.check for r in rows] == ["not_null:s", "unique_key:k"]
    assert all(r.ok == 1 for r in rows)
    with pytest.raises(ValueError, match="no checks"):
        validation_panel([])


def test_ref_integrity_null_child_key_is_orphan_even_with_null_parent(spark):
    from stock_bars_data_engineering_project_spark.operators.validation import (
        ref_integrity,
    )

    child = spark.createDataFrame([(1,), (None,)], "fk long")
    parent = spark.createDataFrame([(1,), (None,)], "pk long")
    r = ref_integrity(child, "fk", parent, "pk", "t").collect()[0]
    # NULL references nothing: one orphan key despite the parent NULL
    assert (r.failed, r.ok) == (1, 0)


def test_k_anonymity_report_and_guards(spark):
    import pytest

    from stock_bars_data_engineering_project_spark.operators.validation import (
        k_anonymity,
    )

    rows = (
        [("a", "en")] * 5
        + [("a", "de")] * 2
        + [("b", "en")] * 1
        + [(None, "en")] * 3   # NULL quasi value is its own class
    )
    df = spark.createDataFrame(rows, ["src", "lang"])
    r = k_anonymity(df, ("src", "lang")).collect()[0]
    # every class is below k = 10
    assert (r.n_classes, r.min_class_size, r.n_below_k, r.n_rows_at_risk) == (
        4, 1, 4, 11,
    )
    big = k_anonymity(df.unionAll(df).unionAll(df), ("src", "lang")).collect()[0]
    assert (big.n_below_k, big.n_rows_at_risk) == (3, 18)
    with pytest.raises(ValueError):
        k_anonymity(df, ())


def test_l_diversity_report_and_guards(spark):
    import pytest

    from stock_bars_data_engineering_project_spark.operators.validation import (
        l_diversity,
    )

    rows = [
        ("a", "en"), ("a", "de"), ("a", "fr"),   # 3 distinct
        ("b", "en"), ("b", "en"),                # homogeneous: leaks
        ("c", "en"), ("c", None),                # NULL counts as a value
    ]
    df = spark.createDataFrame(rows, ["src", "lang"])
    r = l_diversity(df, ("src",)).collect()[0]
    assert (r.n_classes, r.min_distinct_sensitive, r.n_below_l) == (3, 1, 1)
    with pytest.raises(ValueError):
        l_diversity(df, ())
