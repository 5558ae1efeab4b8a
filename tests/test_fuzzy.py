"""Fuzzy entity-resolution join: blocked levenshtein matching."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_bars_data_engineering_project_spark.operators.fuzzy import (
    fuzzy_dedup_pairs,
    fuzzy_join,
)


def _vendors(spark):
    return spark.createDataFrame(
        [
            (1, "acme corporation"),
            (2, "acme corporatiom"),  # 1 sub
            (3, "acme corp"),  # too far (dist 7 from #1)
            (4, "globex inc"),
            (5, "globex incx"),  # 1 insert
            (6, "initech llc"),
        ],
        "id long, name string",
    )


def test_fuzzy_join_matches_brute_force(spark):
    """Blocked result == brute-force 'same first token AND lev <= d'
    (the stated contract), on a corpus with matches, near-misses, and
    cross-block pairs."""
    import itertools

    df = _vendors(spark)
    rows = df.collect()

    def lev(a: str, b: str) -> int:
        import numpy as np

        m, n = len(a), len(b)
        d = np.arange(n + 1)
        for i in range(1, m + 1):
            prev, d[0] = d[0], i
            for j in range(1, n + 1):
                prev, d[j] = d[j], min(
                    d[j] + 1, d[j - 1] + 1, prev + (a[i - 1] != b[j - 1])
                )
        return int(d[n])

    expect = {
        (a.id, b.id, lev(a.name, b.name))
        for a, b in itertools.combinations(rows, 2)
        if a.name.split(" ")[0] == b.name.split(" ")[0]
        and lev(a.name, b.name) <= 2
    }
    got = {
        (r.id_a, r.id_b, r.edit_dist)
        for r in fuzzy_dedup_pairs(df, "id").collect()
    }
    assert got == expect
    assert (1, 2, 1) in got and (4, 5, 1) in got
    assert not any({a, b} == {1, 3} for a, b, _ in got)  # dist 7 pruned


def test_fuzzy_join_two_tables_and_guards(spark):
    left = spark.createDataFrame([(1, "stark industries")], "lid long, lname string")
    right = spark.createDataFrame(
        [(10, "stark industried"), (11, "wayne enterprises")],
        "rid long, rname string",
    )
    out = fuzzy_join(left, right, "lname", "rname").collect()
    assert [(r.lid, r.rid, r.edit_dist) for r in out] == [(1, 10, 1)]

    with pytest.raises(ValueError, match="edit_dist"):
        fuzzy_join(left.withColumn("edit_dist", F.lit(0)), right, "lname", "rname")


def test_fuzzy_join_plan_has_no_cartesian(spark):
    """The blocked join must plan as a hash equi-join on the block key —
    never a CartesianProduct / BroadcastNestedLoopJoin."""
    df = _vendors(spark)
    plan = fuzzy_dedup_pairs(df, "id")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
