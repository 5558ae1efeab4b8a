"""ANN: brute-force correctness properties + LSH recall floor."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_bars_data_engineering_project_spark.operators.similarity import cosine_topk, lsh_ann_topk
from stock_bars_data_engineering_project_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"


def test_bruteforce_topk_properties(spark):
    emb = load_table(spark, SF, "embeddings")
    out = cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        assert len(rows) == 5
        assert all(r.vec_id != q for r in rows)  # self excluded
        ranked = sorted(rows, key=lambda r: r.rank)
        cosines = [r.cos for r in ranked]
        assert cosines == sorted(cosines, reverse=True)  # monotone


def test_lsh_planes_grow_two_per_corpus_doubling():
    """8 sign bits up to LSH_BASE_ROWS rows, +2 per doubling beyond
    (rounded up), capped at 62 so the bucket id stays a positive long."""
    from stock_bars_data_engineering_project_spark.operators.similarity import (
        LSH_BASE_ROWS,
        lsh_planes,
    )

    class Rows:
        def __init__(self, n):
            self.n = n

        def count(self):
            return self.n

    base = LSH_BASE_ROWS
    got = [
        lsh_planes(Rows(n))
        for n in (0, 1, base, base + 1, 2 * base, 2 * base + 1, 8 * base, 2**60)
    ]
    assert got == [8, 8, 8, 10, 10, 12, 14, 62]


def test_lsh_recall_floor(spark):
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.vec_id) for r in cosine_topk(emb, q, k=10).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in lsh_ann_topk(emb, q).collect()
    }
    # random (near-orthogonal) embeddings are LSH's worst case: recall
    # tracks the probed-bucket fraction (~0.5 here); the floor pins that
    # the bucketing is at least unbiased, and exactness of the ranking
    # within candidates is covered by the brute-force properties test.
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH recall too low: {recall:.2f}"


def test_ivf_assign_nearest_centroid(spark):
    from stock_bars_data_engineering_project_spark.operators.similarity import ivf_assign

    corpus = spark.createDataFrame(
        [(1, [0.0, 0.1]), (2, [0.9, 1.0]), (3, [0.4, 0.5])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(10, [0.0, 0.0]), (20, [1.0, 1.0])], "cid long, cv array<double>"
    )
    got = {r.vec_id: r.cid for r in ivf_assign(corpus, cents).collect()}
    assert got == {1: 10, 2: 20, 3: 10}  # v3 tie-free nearest, not ambiguous


def test_ivf_recall_vs_bruteforce(spark):
    from stock_bars_data_engineering_project_spark.operators.similarity import ivf_topk

    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.vec_id) for r in cosine_topk(emb, q, k=10).collect()}
    # probe every list -> IVF must equal brute force exactly
    n = emb.count()
    full = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(emb, q, nprobe=n // 125 + 1).collect()
    }
    assert full == exact


def test_kmeans_refine_never_increases_inertia(spark):
    from stock_bars_data_engineering_project_spark.operators.similarity import (
        kmeans_inertia,
        kmeans_refine,
    )

    emb = load_table(spark, SF, "embeddings")
    seed = emb.filter(F.col("vec_id") % 125 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    i0 = kmeans_inertia(emb, seed)
    one, _ = kmeans_refine(emb, seed, 1)
    i1 = kmeans_inertia(emb, one)
    two, trail = kmeans_refine(emb, seed, 2)
    i2 = kmeans_inertia(emb, two)
    assert i1 <= i0 * (1 + 1e-9)
    assert i2 <= i1 * (1 + 1e-9)
    assert i1 < i0  # the seed is strictly improvable on this data
    # the trail read off the training passes equals the standalone probe
    assert trail == pytest.approx([i0, i1], rel=1e-9)


def test_trained_ivf_recall_at_least_matches_seed(spark):
    from stock_bars_data_engineering_project_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        kmeans_refine,
    )

    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.vec_id) for r in cosine_topk(emb, q, k=10).collect()}
    seed = emb.filter(F.col("vec_id") % 125 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    trained, _ = kmeans_refine(emb, seed, 2)
    got = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(emb, q, centroids=trained).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.5, f"trained-IVF recall too low: {recall:.2f}"


def test_hyperplane_plan_bounded_at_dim_768(spark):
    """lsh_bucket at transformer-scale dims must stay a flat plan: each
    plane is one array of double literals parsed from SQL text, not
    dim x n_planes md5 expression columns. Pins both that it executes
    and the analyzed plan's size (about 10 KB of plan text)."""
    from stock_bars_data_engineering_project_spark.operators.similarity import lsh_bucket

    df = spark.range(8).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(767)),
            lambda i: (F.col("id") + i).cast("double") % 7.0 - 3.0,
        ).alias("embedding"),
    )
    out = df.select("vec_id", lsh_bucket("embedding", 768, 8).alias("b"))
    rows = out.collect()
    assert len(rows) == 8
    assert all(0 <= r.b < 256 for r in rows)
    plan = out._jdf.queryExecution().analyzed().toString()
    # 8 planes x 768 components as md5/conv expressions would be ~1 MB of
    # plan text; literal arrays keep it near 10 KB
    assert len(plan) < 20_000


def test_pq_codes_shape_and_range(spark):
    """Every vector encodes to m codeword ids, each a valid codebook
    entry of its own subspace."""
    from stock_bars_data_engineering_project_spark.operators.similarity import (
        pq_codebook,
    )

    emb = load_table(spark, SF, "embeddings")
    cb = pq_codebook(emb).first().cb
    n_codes = len({(c.s, c.j) for c in cb})
    assert n_codes == len(cb)  # (s, j) unique
    ks = {}
    for c in cb:
        ks.setdefault(c.s, set()).add(c.j)
        assert len(c.cw) == 16
    assert set(ks) == {0, 1, 2, 3}
    # stride seeding: same K codewords in every subspace
    assert len({frozenset(v) for v in ks.values()}) == 1


def test_pq_rerank_cosines_are_exact(spark):
    """The returned cos is the EXACT cosine (rerank output), so every
    (query, vec) row must agree with the brute-force score for that
    pair — PQ may pick different neighbors, never different scores."""
    from stock_bars_data_engineering_project_spark.operators.similarity import pq_topk

    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.vec_id): r.cos
        for r in cosine_topk(emb, q, k=1000).collect()
    }
    for r in pq_topk(emb, q).collect():
        assert exact[(r.query_id, r.vec_id)] == r.cos


def test_pq_recall_dial(spark, monkeypatch):
    """Near-orthogonal random vectors are PQ's adversarial case
    (quantization error ~ signal, same caveat as the LSH floor), so pin
    the property that matters: recall is monotone in the rerank depth —
    the cost dial works — and clears a floor once the depth amortizes
    the ADC error (measured 0.48/0.64 at 64/96 on this corpus)."""
    from stock_bars_data_engineering_project_spark.operators import similarity

    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.vec_id) for r in cosine_topk(emb, q, k=10).collect()
    }
    recalls = []
    for rr in (32, 96):
        monkeypatch.setattr(similarity, "PQ_RERANK", rr)
        got = {
            (r.query_id, r.vec_id)
            for r in similarity.pq_topk(emb, q).collect()
        }
        recalls.append(len(exact & got) / len(exact))
    assert recalls[0] <= recalls[1], f"rerank dial not monotone: {recalls}"
    assert recalls[1] >= 0.5, f"PQ recall too low at depth 96: {recalls[1]:.2f}"


def test_pq_null_embedding_fails_loudly(spark):
    import pytest as _pytest

    from stock_bars_data_engineering_project_spark.operators.similarity import pq_topk

    emb = load_table(spark, SF, "embeddings")
    bad = spark.createDataFrame(
        [(9999, None)], "vec_id long, embedding array<float>"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(bad)
    with _pytest.raises(Exception, match="pq_topk"):
        pq_topk(corpus, emb.filter(F.col("vec_id") < 2)).collect()


def test_pq_correct_with_noncontiguous_ids(spark, monkeypatch):
    """Regression: codeword ids must be dense ranks, not id/stride —
    a corpus whose ids don't start at 0 (or aren't stride multiples)
    previously indexed the ADC lookup table out of range / against the
    wrong codeword. With rerank covering the whole corpus, PQ must
    reproduce brute-force exactly regardless of the id layout."""
    from stock_bars_data_engineering_project_spark.operators import similarity

    emb = load_table(spark, SF, "embeddings").withColumn(
        "vec_id", F.col("vec_id") + 7  # ids 7.. — no longer stride-aligned
    )
    q = emb.filter(F.col("vec_id") < 12)
    monkeypatch.setattr(similarity, "PQ_RERANK", emb.count())
    got = {
        (r.query_id, r.vec_id, r.cos, r.rank)
        for r in similarity.pq_topk(emb, q).collect()
    }
    want = {
        (r.query_id, r.vec_id, r.cos, r.rank)
        for r in cosine_topk(emb, q, k=10).collect()
    }
    assert got == want


def test_vector_storage_utilities(spark):
    """truncate_dims / int8 quantization: exact Python replay, error
    bound, zero-vector laws, loud short-vector guard."""
    import math

    import pytest
    from pyspark.sql import functions as F

    from stock_bars_data_engineering_project_spark.functions.vectors import (
        dequantize_int8,
        quantize_int8,
        truncate_dims,
    )

    vecs = [
        (1, [3.0, -4.0, 0.0, 12.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),
        (3, [1e-3, 2e-3, -5e-4, 7e-4]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")

    out = {
        r.vec_id: r
        for r in df.select(
            "vec_id",
            truncate_dims("embedding", 2).alias("t2"),
            quantize_int8("embedding").alias("qs"),
        )
        .withColumn("dq", dequantize_int8("qs"))
        .collect()
    }
    for vid, v in vecs:
        r = out[vid]
        # truncate keeps the first 2 dims, as doubles
        assert r.t2 == v[:2]
        # quantization: exact Python replay + error bound + round trip
        maxabs = max(abs(x) for x in v)
        scale = maxabs / 127.0
        if maxabs > 0:
            want_q = [int(math.floor(x / scale + 0.5)) for x in v]
        else:
            want_q = [0] * len(v)
        assert r.qs.scale == pytest.approx(scale)
        assert list(r.qs.q) == want_q
        for x, y in zip(v, r.dq):
            assert abs(x - y) <= scale / 2 + 1e-15

    # int8 range is fully used and never overflows tinyint
    assert out[1].qs.q[3] == 127
    assert all(-127 <= q <= 127 for r in out.values() for q in r.qs.q)

    # a vector shorter than d fails loudly, not with a silent NULL
    short = spark.createDataFrame([(1, [1.0])], "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="shorter than d"):
        short.select(truncate_dims("embedding", 8)).collect()
    with pytest.raises(ValueError, match="d must be"):
        truncate_dims("embedding", 0)


def _lloyd_replay(E, C):
    """One numpy Lloyd iteration: squared-L2 as the same left fold over
    dimensions as ``l2sq`` (bit-identical distances), argmin with ties to
    the first (lowest) cid, member means, empty clusters carried."""
    import numpy as np

    d2 = np.zeros((len(E), len(C)))
    for j in range(E.shape[1]):
        diff = C[None, :, j] - E[:, None, j]
        d2 = d2 + diff * diff
    assign = np.argmin(d2, axis=1)
    new = C.copy()
    for k in range(len(C)):
        if (assign == k).any():
            new[k] = E[assign == k].mean(axis=0)
    return assign, new, float(d2.min(axis=1).sum())


def test_kmeans_matches_numpy_lloyd_replay(spark):
    """The product k-means (partial-aggregated ``avg`` means) against a
    numpy two-iteration Lloyd replay: per-iteration assignments and the
    empty-cluster carry match exactly, centroids agree within 1e-9
    relative, the inertia trail matches, and the trained ``ivf_topk``
    returns the replay's top-10 ids. A far-away extra seed attracts no
    vector, so every iteration has an empty cluster to carry."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from stock_bars_data_engineering_project_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
        kmeans_refine,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    rows = sorted((r.vec_id, list(r.embedding)) for r in emb.collect())
    ids = np.array([i for i, _ in rows])
    E = np.array([v for _, v in rows], dtype=np.float64)
    far = 10**6
    seed_rows = [(int(i), E[n].tolist()) for n, i in enumerate(ids) if i % 25 == 0]
    seed_rows.append((far, [1e3] * E.shape[1]))
    cids = [c for c, _ in seed_rows]
    seed = spark.createDataFrame(seed_rows, "cid long, cv array<double>")

    C0 = np.array([v for _, v in seed_rows])
    a1, C1, i0 = _lloyd_replay(E, C0)
    a2, C2, i1 = _lloyd_replay(E, C1)

    def cents(df):
        return {r.cid: np.array(r.cv) for r in df.collect()}

    def assignment(df):
        return {r.vec_id: r.cid for r in df.collect()}

    # iteration by iteration: c2 is one more pass over c1
    c1, _ = kmeans_refine(emb, seed, 1)
    c2, _ = kmeans_refine(emb, c1, 1)
    got = {0: cents(seed), 1: cents(c1), 2: cents(c2)}
    for it, (cent_in, a, want) in enumerate(((seed, a1, C1), (c1, a2, C2)), 1):
        assert assignment(ivf_assign(emb, cent_in)) == {
            int(i): cids[k] for i, k in zip(ids, a)
        }
        assert not (a == len(cids) - 1).any()  # the far seed stays empty
        for k, cid in enumerate(cids):
            if not (a == k).any():
                assert np.array_equal(got[it][cid], got[it - 1][cid])
            err = np.linalg.norm(got[it][cid] - want[k])
            assert err <= 1e-9 * np.linalg.norm(want[k]), (it, cid, err)

    # the two-iteration call: same centroids, inertia trail of its inputs
    trained, trail = kmeans_refine(emb, seed, 2)
    t2 = cents(trained)
    for k, cid in enumerate(cids):
        assert np.linalg.norm(t2[cid] - C2[k]) <= 1e-9 * np.linalg.norm(C2[k])
    assert trail == pytest.approx([i0, i1], rel=1e-9)

    # trained IVF: 4 of 21 lists probed, exact top-10 within them
    nprobe = 4
    a3 = _lloyd_replay(E, C2)[0]
    want_top = set()
    for q in range(5):
        dq = np.zeros(len(C2))
        for j in range(E.shape[1]):
            diff = C2[:, j] - E[q, j]
            dq = dq + diff * diff
        probes = set(np.lexsort((cids, dq))[:nprobe])
        cand = [n for n in range(len(E)) if a3[n] in probes and ids[n] != ids[q]]
        cos = {
            n: float(
                Decimal(repr(float(E[q] @ E[n] / (
                    np.sqrt(E[q] @ E[q]) * np.sqrt(E[n] @ E[n])
                ))))
                .quantize(Decimal("1e-10"), ROUND_HALF_UP)
                .quantize(Decimal("1e-6"), ROUND_HALF_UP)
            )
            for n in cand
        }
        top = sorted(cand, key=lambda n: (-cos[n], ids[n]))[:10]
        want_top |= {(int(ids[q]), int(ids[n])) for n in top}
    queries = emb.filter(F.col("vec_id") < 5)
    got_top = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(emb, queries, nprobe=nprobe, centroids=trained).collect()
    }
    assert got_top == want_top


def test_int8_serving_recall_near_brute(spark):
    """The quantized-serving path (ann_topk_suite 'int8' arm): corpus
    vectors dequantized from symmetric int8 must rank nearly identically
    to full precision — per-component error is bounded by scale/2, so
    top-10 recall vs brute should be high on real-shaped data."""
    from pyspark.sql import functions as F

    from stock_bars_data_engineering_project_spark.functions.vectors import (
        dequantize_int8,
        quantize_int8,
    )
    from stock_bars_data_engineering_project_spark.operators.similarity import (
        cosine_topk,
    )
    from stock_bars_data_engineering_project_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    brute = {
        (r.query_id, r.vec_id)
        for r in cosine_topk(emb, queries, k=10).collect()
    }
    corpus_dq = emb.select("vec_id", quantize_int8("embedding").alias("qs")).select(
        "vec_id", dequantize_int8("qs").alias("embedding")
    )
    int8 = {
        (r.query_id, r.vec_id)
        for r in cosine_topk(corpus_dq, queries, k=10).collect()
    }
    recall = len(brute & int8) / len(brute)
    assert recall >= 0.9, recall
