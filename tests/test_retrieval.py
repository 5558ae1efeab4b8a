"""BM25 retrieval: scores ≡ a direct Python implementation, ranking
determinism, inverted-index absence contract, plan shape, guards."""

from __future__ import annotations

import math

import pytest

from stock_bars_data_engineering_project_spark.operators.retrieval import bm25_topk

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "a quick brown dog outpaces a quick fox"),
    (3, "lorem ipsum dolor sit amet consectetur"),
    (4, "the dog sleeps all day the dog snores"),
    (5, "fox fox fox den"),
    (6, "brown bears eat honey not foxes"),
]
QUERIES = [
    (100, "quick fox"),
    (101, "lazy dog"),
    (102, "zebra quagga"),  # no overlap with any document
]


def _tok(t):
    return [w for w in t.lower().split(" ") if w]


def _bm25_ref(docs, queries, k1=1.2, b=0.75):
    n = len(docs)
    dls = {d: len(_tok(t)) for d, t in docs}
    avgdl = sum(dls.values()) / n
    dfreq: dict[str, int] = {}
    tfs: dict[int, dict[str, int]] = {}
    for d, t in docs:
        tf: dict[str, int] = {}
        for w in _tok(t):
            tf[w] = tf.get(w, 0) + 1
        tfs[d] = tf
        for w in tf:
            dfreq[w] = dfreq.get(w, 0) + 1
    out = {}
    for q, qt in queries:
        for d, _ in docs:
            s = 0.0
            matched = False
            for w in set(_tok(qt)):
                tf = tfs[d].get(w, 0)
                if tf == 0 or w not in dfreq:
                    continue
                matched = True
                idf = math.log(1 + (n - dfreq[w] + 0.5) / (dfreq[w] + 0.5))
                s += idf * tf * (k1 + 1) / (
                    tf + k1 * (1 - b + b * dls[d] / avgdl)
                )
            if matched:
                out[(q, d)] = s
    return out


def _frames(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    queries = spark.createDataFrame(QUERIES, "query_id long, text string")
    return docs, queries


def test_bm25_matches_python_reference(spark):
    docs, queries = _frames(spark)
    got = {
        (r.query_id, r.doc_id): r.bm25
        for r in bm25_topk(docs, queries).collect()
    }
    expect = _bm25_ref(DOCS, QUERIES)
    assert set(got) == set(expect)
    for key, score in expect.items():
        assert got[key] == pytest.approx(score, rel=1e-12), key
    # the no-overlap query is wholly absent — inverted-index contract
    assert not any(q == 102 for q, _ in got)


def test_bm25_ranking_and_k_cut(spark, monkeypatch):
    from stock_bars_data_engineering_project_spark.operators import retrieval

    # the fixture ranks fewer than TOP_K docs per query: cut at 2
    monkeypatch.setattr(retrieval, "TOP_K", 2)
    docs, queries = _frames(spark)
    rows = bm25_topk(docs, queries).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    expect = _bm25_ref(DOCS, QUERIES)
    for q, rs in by_q.items():
        assert len(rs) <= 2
        rs.sort(key=lambda r: r.rank)
        # rank order == score desc, doc_id asc tiebreak, cut at k
        want = sorted(
            ((d, s) for (qq, d), s in expect.items() if qq == q),
            key=lambda x: (-x[1], x[0]),
        )[:2]
        assert [(r.doc_id, pytest.approx(r.bm25, rel=1e-12)) for r in rs] == [
            (d, pytest.approx(s, rel=1e-12)) for d, s in want
        ]


def test_bm25_tiebreak_is_doc_id(spark):
    # byte-identical docs score identically -> rank by ascending doc_id
    docs = spark.createDataFrame(
        [(7, "same text here"), (3, "same text here"), (5, "same text here")],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame([(1, "same")], "query_id long, text string")
    rows = sorted(bm25_topk(docs, queries).collect(), key=lambda r: r.rank)
    assert [r.doc_id for r in rows] == [3, 5, 7]
    assert rows[0].bm25 == rows[1].bm25 == rows[2].bm25


def test_bm25_plan_shape(spark):
    import io
    from contextlib import redirect_stdout

    docs, queries = _frames(spark)
    buf = io.StringIO()
    with redirect_stdout(buf):
        bm25_topk(docs, queries).explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # the query-vocabulary and per-term tables join broadcast, never a
    # corpus-sized sort-merge
    assert "BroadcastHashJoin" in plan


# --- reciprocal-rank fusion ------------------------------------------------


def _ranked(spark, rows):
    return spark.createDataFrame(
        rows, "query_id long, doc_id long, rank int"
    )


def test_rrf_hand_computed_fusion(spark):
    """Two legs, one query: doc 100 ranked 1st lexically and 2nd
    semantically beats doc 200 (2nd + 1st is the same score -> id
    tiebreak), and a doc present in only one leg scores only that
    contribution."""
    from stock_bars_data_engineering_project_spark.operators.retrieval import rrf_fuse

    lex = _ranked(spark, [(1, 100, 1), (1, 200, 2), (1, 300, 3)])
    sem = _ranked(spark, [(1, 200, 1), (1, 100, 2)])
    out = {
        r.doc_id: (r.score, r.rank)
        for r in rrf_fuse([lex, sem]).collect()
    }
    s100 = 1 / 61 + 1 / 62
    s200 = 1 / 62 + 1 / 61
    s300 = 1 / 63
    assert abs(out[100][0] - s100) < 1e-15
    assert abs(out[200][0] - s200) < 1e-15
    assert abs(out[300][0] - s300) < 1e-15
    # identical fused scores -> lowest doc_id wins the tiebreak
    assert out[100][1] == 1 and out[200][1] == 2 and out[300][1] == 3


def test_rrf_k_cut_and_multi_query(spark, monkeypatch):
    from stock_bars_data_engineering_project_spark.operators import retrieval
    from stock_bars_data_engineering_project_spark.operators.retrieval import rrf_fuse

    monkeypatch.setattr(retrieval, "TOP_K", 2)

    lex = _ranked(
        spark, [(q, d, r) for q in (1, 2) for r, d in enumerate((10, 20, 30), 1)]
    )
    sem = _ranked(spark, [(1, 40, 1), (2, 20, 1)])
    out = rrf_fuse([lex, sem])
    got = {(r.query_id, r.doc_id): r.rank for r in out.collect()}
    # q1: all single-leg contributions; lex rank-1 (doc 10) wins,
    # sem rank-1 (doc 40) ties it and loses on id
    assert got == {(1, 10): 1, (1, 40): 2, (2, 20): 1, (2, 10): 2}


def test_rrf_matches_registered_hybrid_arm_shape(spark):
    """The registered 'rrf' arm's fusion on real tables: every fused row
    must be explained by at least one leg, and any doc in BOTH legs'
    top-10 must outscore the same ranks alone."""
    from stock_bars_data_engineering_project_spark.operators.retrieval import (
        bm25_topk,
        rrf_fuse,
    )
    from stock_bars_data_engineering_project_spark.operators.similarity import (
        cosine_topk,
    )
    from stock_bars_data_engineering_project_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    lex = bm25_topk(
        docs.filter(F.col("doc_id") >= 25),
        docs.filter(F.col("doc_id") < 25).select(
            F.col("doc_id").alias("query_id"), "text"
        ),
    ).select("query_id", "doc_id", "rank")
    sem = cosine_topk(
        emb.filter(F.col("vec_id") >= 25),
        emb.filter(F.col("vec_id") < 25),
        k=10,
    ).select("query_id", F.col("vec_id").alias("doc_id"), "rank")
    fused = rrf_fuse([lex, sem])
    leg_keys = {
        (r.query_id, r.doc_id) for r in lex.collect()
    } | {(r.query_id, r.doc_id) for r in sem.collect()}
    rows = fused.collect()
    assert rows and all((r.query_id, r.doc_id) in leg_keys for r in rows)
    assert all(1 <= r.rank <= 10 for r in rows)
    both = {
        (r.query_id, r.doc_id) for r in lex.collect()
    } & {(r.query_id, r.doc_id) for r in sem.collect()}
    single_max = 1 / 61  # best possible one-leg score
    for r in rows:
        if (r.query_id, r.doc_id) in both:
            assert r.score > single_max


# --- pseudo-relevance feedback expansion -----------------------------------


def test_prf_expand_picks_new_feedback_terms(spark):
    """Expansion appends the most frequent feedback-doc terms the query
    lacks (integer weight, term-asc tiebreak) and leaves queries whose
    feedback adds nothing unchanged."""
    from pyspark.sql import functions as F

    from stock_bars_data_engineering_project_spark.operators.retrieval import prf_expand

    corpus = spark.createDataFrame(
        [
            (100, "apple banana banana cherry"),
            (101, "banana date"),
            (102, "unrelated words here"),
            (103, "zebra"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(1, "apple"), (2, "unrelated words here")],
        "query_id long, text string",
    )
    ranks = spark.createDataFrame(
        # q1's feedback: docs 100+101 (doc 103 ranks 6th, past the
        # 5-doc feedback cut); q2's: doc 102 (its own terms only)
        [(1, 100, 1), (1, 101, 2), (1, 103, 6), (2, 102, 1)],
        "query_id long, doc_id long, rank int",
    )
    out = {
        r.query_id: r.text
        for r in prf_expand(corpus, queries, ranks).collect()
    }
    # q1 feedback terms minus 'apple': banana w=3, cherry w=1, date w=1,
    # all within the 10-term budget; zebra's doc is past the feedback cut
    got_terms = set(out[1].split())
    assert got_terms == {"apple", "banana", "cherry", "date"}
    assert out[1].startswith("apple ")  # original text preserved in front
    # q2: every feedback term already in the query -> unchanged
    assert out[2] == "unrelated words here"


def test_prf_second_pass_recalls_expansion_matches(spark):
    """End-to-end PRF property on real tables: the expanded second pass
    must (a) keep every query answerable, (b) retrieve at least one doc
    the first pass missed for some query (the point of expansion) while
    every first-pass top-1 stays in the expanded candidate set."""
    from pyspark.sql import functions as F

    from stock_bars_data_engineering_project_spark.operators.retrieval import (
        bm25_topk,
        prf_expand,
    )
    from stock_bars_data_engineering_project_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") >= 25)
    queries = docs.filter(F.col("doc_id") < 25).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    first = bm25_topk(corpus, queries)
    expanded = prf_expand(
        corpus, queries, first.select("query_id", "doc_id", "rank")
    )
    second = bm25_topk(corpus, expanded)
    f = {(r.query_id, r.doc_id) for r in first.collect()}
    s = {(r.query_id, r.doc_id) for r in second.collect()}
    assert {q for q, _ in f} == {q for q, _ in s}  # same query coverage
    assert s - f  # expansion surfaced new docs somewhere
