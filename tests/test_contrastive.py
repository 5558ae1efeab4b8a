"""Contrastive pair mining: roles, determinism, exclusion laws."""

from __future__ import annotations

from pyspark.sql import functions as F

from stock_bars_data_engineering_project_spark.operators.contrastive import (
    contrastive_pairs,
)
from stock_bars_data_engineering_project_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"


def _mine(spark):
    emb = load_table(spark, SF, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 4)
    return contrastive_pairs(emb, anchors), emb, anchors


def test_roles_ranks_and_exclusions(spark):
    out, emb, anchors = _mine(spark)
    rows = out.collect()
    by_anchor = {}
    for r in rows:
        by_anchor.setdefault(r.anchor_id, []).append(r)

    assert set(by_anchor) == {0, 1, 2, 3}
    for a, rs in by_anchor.items():
        pos = [r for r in rs if r.role == "pos"]
        hard = [r for r in rs if r.role == "hard"]
        rand = [r for r in rs if r.role == "rand"]
        assert len(pos) == 3 and sorted(r.slot for r in pos) == [1, 2, 3]
        assert len(hard) == 2 and sorted(r.slot for r in hard) == [1, 2]
        assert len(rand) <= 2  # empty buckets / collisions may drop slots
        # positives outrank hard negatives
        assert min(r.score for r in pos) >= max(r.score for r in hard)
        # no row pairs the anchor with itself; rand never hits pos/hard
        assert all(r.other_id != a for r in rs)
        posset = {r.other_id for r in pos} | {r.other_id for r in hard}
        assert all(r.other_id not in posset for r in rand)
        assert all(r.score is None for r in rand)


def test_positives_match_bruteforce_and_determinism(spark):
    from stock_bars_data_engineering_project_spark.operators.similarity import (
        cosine_topk,
    )

    out, emb, anchors = _mine(spark)
    expect = {
        (r.query_id, r.vec_id, r.rank)
        for r in cosine_topk(emb, anchors, k=3).collect()
    }
    got = {(r.anchor_id, r.other_id, r.slot) for r in out.collect() if r.role == "pos"}
    assert got == expect

    again, _, _ = _mine(spark)
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, out.collect()))


def test_rand_negatives_deterministic_and_floor(spark):
    a, _, _ = _mine(spark)
    b, _, _ = _mine(spark)
    ra = sorted((r.anchor_id, r.slot, r.other_id) for r in a.collect() if r.role == "rand")
    rb = sorted((r.anchor_id, r.slot, r.other_id) for r in b.collect() if r.role == "rand")
    assert ra == rb and len(ra) > 0


def test_rand_excludes_floor_rejected_neighbors_and_dedups(spark, monkeypatch):
    """(a) a near neighbor is never emitted as a random negative (the
    exclusion set is the full ANN neighborhood); (b) no anchor carries
    the same random other_id in two slots. Eight random slots per
    anchor, so slot collisions occur."""
    from stock_bars_data_engineering_project_spark.operators import contrastive
    from stock_bars_data_engineering_project_spark.operators.similarity import (
        cosine_topk,
    )

    monkeypatch.setattr(contrastive, "N_RAND", 8)

    emb = load_table(spark, SF, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 4)
    out = contrastive_pairs(emb, anchors).collect()
    seen = {
        (r.query_id, r.vec_id)
        for r in cosine_topk(emb, anchors, k=5).collect()
    }
    rand = [r for r in out if r.role == "rand"]
    assert rand, "need rand rows for the exclusion check"
    assert all((r.anchor_id, r.other_id) not in seen for r in rand)
    pairs = [(r.anchor_id, r.other_id) for r in rand]
    assert len(pairs) == len(set(pairs))
