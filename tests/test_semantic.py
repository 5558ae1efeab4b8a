"""Embedding-space decontamination (operators/semantic.py): the exact
and blocked arms against a Python argmax replay, and the guards."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_bars_data_engineering_project_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"


def _np_best(train_rows, eval_rows):
    """Python replay of semantic_decontaminate's exact arm: per train
    vector the max cosine over the eval set, ties -> lowest eval id.
    Sequential-fold sums like the engine (order matters only at the
    ulp level, absorbed by the rounded compares below)."""
    import math

    def cos(a, b):
        d = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) ** 2 for x in a))
        nb = math.sqrt(sum(float(x) ** 2 for x in b))
        return d / (na * nb)

    best = {}
    for t in train_rows:
        scored = sorted(
            ((cos(t.embedding, e.embedding), e.vec_id) for e in eval_rows),
            key=lambda p: (-p[0], p[1]),
        )
        best[t.vec_id] = scored[0]
    return best


def test_semantic_decontaminate_matches_python_argmax(spark):
    from stock_bars_data_engineering_project_spark.operators.semantic import (
        DECONTAM_COS,
        semantic_decontaminate,
    )

    emb = load_table(spark, SF, "embeddings").limit(200)
    train = emb.filter(F.col("vec_id") % 20 != 0)
    ev = emb.filter(F.col("vec_id") % 20 == 0)
    out = semantic_decontaminate(train, ev)
    got = {r.vec_id: r for r in out.collect()}

    expect = _np_best(train.collect(), ev.collect())
    assert set(got) == set(expect)
    for vid, (c, eid) in expect.items():
        r = got[vid]
        assert r.near_eval_id == eid, vid
        assert abs(r.cos - round(c, 4)) <= 1e-9, vid
        assert r.contaminated == (round(c, 6) >= DECONTAM_COS), vid


def test_semantic_decontaminate_blocked_is_subset_of_exact(spark):
    from stock_bars_data_engineering_project_spark.operators.semantic import (
        semantic_decontaminate,
        semantic_decontaminate_blocked,
    )

    emb = load_table(spark, SF, "embeddings")
    train = emb.filter(F.col("vec_id") % 20 != 0)
    ev = emb.filter(F.col("vec_id") % 20 == 0)
    exact = {r.vec_id: r for r in semantic_decontaminate(train, ev).collect()}
    blocked = semantic_decontaminate_blocked(train, ev).collect()

    assert blocked, "blocking pruned everything at hamming<=2 — wrong"
    assert set(r.vec_id for r in blocked) <= set(exact)
    for r in blocked:
        # the candidate max can only be <= the global max
        assert r.cos <= exact[r.vec_id].cos + 1e-9
        # and a blocked CONTAMINATED flag never fires where exact didn't:
        # cos_blocked <= cos_exact, so flag implies flag
        if r.contaminated:
            assert exact[r.vec_id].contaminated


def test_semantic_decontaminate_empty_eval_and_guards(spark):
    from stock_bars_data_engineering_project_spark.operators.semantic import (
        semantic_decontaminate,
    )

    emb = load_table(spark, SF, "embeddings").limit(50)
    none = emb.filter(F.lit(False))
    assert semantic_decontaminate(emb, none).count() == 0

    with pytest.raises(ValueError, match="reserved"):
        semantic_decontaminate(emb.withColumn("cos", F.lit(1.0)), emb)
