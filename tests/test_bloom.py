"""Bloom-filter pre-filtered semi join (operators/bloom.py): exactness
(no false negatives, result ≡ plain semi join), the pre-filter actually
drops rows at a bounded false-positive rate, bitmap equals a hashlib
replay, NULL-key semantics match the equi-join."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from stock_bars_data_engineering_project_spark.operators.bloom import (
    bloom_bitmap,
    bloom_might_contain,
    bloom_semi_join,
)
from stock_bars_data_engineering_project_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"
M, K = 1 << 16, 4


def _py_positions(key, m=M, k=K):
    out = []
    for i in range(k):
        h = hashlib.md5(f"bloom{i}:{key}".encode()).hexdigest()[:12]
        out.append(int(h, 16) % m)
    return out


def test_bitmap_matches_hashlib_replay(spark):
    build = spark.createDataFrame(
        [(i * 13,) for i in range(50)], "k long"
    )
    words = bloom_bitmap(build, "k")
    expected = [0] * (M // 32)
    for i in range(50):
        for p in _py_positions(i * 13):
            expected[p // 32] |= 1 << (p % 32)
    assert words == expected


def test_semi_join_exact_and_prefilter_effective(spark):
    """On the real tables: bloom_semi_join returns exactly the plain
    LEFT SEMI rows, and the pre-filter passes few non-matching probe
    rows (fp-rate bound from the bloom formula, with slack)."""
    c = load_table(spark, SF, "customer").select("c_custkey")
    orders = load_table(spark, SF, "orders")
    recent = orders.filter(F.col("o_orderpriority") == "1-URGENT")

    exact = sorted(
        r.c_custkey
        for r in c.join(
            recent, c.c_custkey == recent.o_custkey, "left_semi"
        ).collect()
    )
    words = bloom_bitmap(recent, "o_custkey")
    got = sorted(
        r.c_custkey
        for r in bloom_semi_join(
            c, recent, key="c_custkey", build_key="o_custkey", words=words
        ).collect()
    )
    assert got == exact  # a bloom can only false-positive

    kept = c.filter(bloom_might_contain("c_custkey", words)).count()
    n_probe, n_match = c.count(), len(exact)
    # (1 - e^(-kn/m))^k at these sizes is well under 5%; allow 3x slack
    assert kept - n_match <= max(3, int(0.15 * (n_probe - n_match)))


def test_null_keys_match_join_semantics(spark):
    """NULL build keys contribute nothing; NULL probe keys are dropped
    by the membership test — both exactly what an equi semi join does."""
    build = spark.createDataFrame([(1,), (None,)], "k long")
    probe = spark.createDataFrame([(1,), (2,), (None,)], "k long")
    got = sorted(
        r.k
        for r in bloom_semi_join(
            probe, build, "k", "k", bloom_bitmap(build, "k")
        ).collect()
    )
    exact = sorted(
        r.k for r in probe.join(build, "k", "left_semi").collect()
    )
    assert got == exact == [1]


def test_precomputed_words_contract_guards(spark):
    """A bitmap built once by bloom_bitmap serves both join forms."""
    from stock_bars_data_engineering_project_spark.operators.bloom import (
        bloom_anti_join,
        bloom_semi_join,
    )

    build = spark.createDataFrame([(1,), (2,)], "k long")
    probe = spark.createDataFrame([(1,), (3,)], "k long")
    good = bloom_bitmap(build, "k")
    assert [r.k for r in bloom_semi_join(
        probe, build, "k", "k", words=good
    ).collect()] == [1]
    assert [r.k for r in bloom_anti_join(
        probe, build, "k", "k", words=good
    ).collect()] == [3]


def test_anti_join_exact_and_null_kept(spark):
    """bloom_anti_join: certain misses skip the join, result equals the
    plain LEFT ANTI, and NULL probe keys are KEPT
    (NULL never equi-matches — the certain-miss branch must route them,
    not the literal test's NULL)."""
    from pyspark.sql import functions as F

    from stock_bars_data_engineering_project_spark.operators.bloom import (
        bloom_anti_join,
    )

    c = load_table(spark, SF, "customer").select("c_custkey")
    orders = load_table(spark, SF, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    exact = sorted(
        r.c_custkey
        for r in c.join(
            urgent, c.c_custkey == urgent.o_custkey, "left_anti"
        ).collect()
    )
    got = sorted(
        r.c_custkey
        for r in bloom_anti_join(
            c,
            urgent,
            key="c_custkey",
            build_key="o_custkey",
            words=bloom_bitmap(urgent, "o_custkey"),
        ).collect()
    )
    assert got == exact

    probe = spark.createDataFrame([(1,), (2,), (None,)], "k long")
    build = spark.createDataFrame([(1,)], "k long")
    got = sorted(
        (r.k if r.k is not None else -1)
        for r in bloom_anti_join(
            probe, build, "k", "k", bloom_bitmap(build, "k")
        ).collect()
    )
    assert got == [-1, 2]  # NULL kept, member dropped
