"""Graph algorithms over pair graphs: PageRank against a pure-Python
replay with the same per-round rounding (symmetry/self-loop handling,
convergence sanity, guards), and connected components against a
union-find."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import pytest

from stock_bars_data_engineering_project_spark.operators.graph import pagerank

PAIRS = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (5, 6)]


def _r9(x: float) -> float:
    # round_half_up routes through decimal(30,10) BEFORE the 9dp round
    # (functions/scalars.py) — the replay must double-round the same
    # way or ~5% of values land 1e-9 off and iteration amplifies it
    d10 = Decimal(repr(x)).quantize(Decimal("1e-10"), ROUND_HALF_UP)
    return float(d10.quantize(Decimal("1e-9"), ROUND_HALF_UP))


def _pr_ref(pairs, n_iter=3, d=0.85):
    edges = set()
    for a, b in pairs:
        edges.add((a, b))
        edges.add((b, a))
    nodes = sorted({s for s, _ in edges})
    n = float(len(nodes))
    deg = {v: sum(1 for s, _ in edges if s == v) for v in nodes}
    pr = {v: _r9(1.0 / n) for v in nodes}
    for _ in range(n_iter):
        nxt = {}
        for v in nodes:
            s = sum(pr[u] / deg[u] for u, w in sorted(edges) if w == v)
            nxt[v] = _r9(0.15 / n + d * s)
        pr = nxt
    return pr


def test_pagerank_matches_python_replay(spark):
    df = spark.createDataFrame(PAIRS, ["doc_a", "doc_b"])
    got = {r.node: r.pr for r in pagerank(df).collect()}
    want = _pr_ref(PAIRS)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 2e-9, (v, got[v], want[v])
    # centrality sanity: nodes 1 and 3 (degree 3) out-rank 2 and 4
    # (degree 2) in the square-with-diagonal component
    assert got[1] > got[2] and got[3] > got[4]
    # disconnected 2-cycle holds its uniform mass
    assert got[5] == got[6]


def test_pagerank_mass_is_conserved(spark):
    df = spark.createDataFrame(PAIRS, ["doc_a", "doc_b"])
    total = sum(r.pr for r in pagerank(df).collect())
    assert abs(total - 1.0) < 1e-6  # symmetric graph: no dangling leak


def _labels(df):
    return sorted((r.doc_id, r.cluster_id) for r in df.collect())


def _union_find_labels(pairs) -> list[tuple[int, int]]:
    """(node, component minimum) for every node of a non-self pair."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a != b:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return sorted((n, find(n)) for n in parent)


def test_cc_matches_union_find_on_corpus_pairs(spark):
    """Large-star/small-star connected components label the real
    near-dup pair graph (MinHash-LSH pairs of the smallest corpus) with
    each component's minimum, as a Python union-find does."""
    from stock_bars_data_engineering_project_spark.operators.dedup import (
        dedup_clusters,
        minhash_lsh_pairs,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    pairs = minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    rows = [(r.doc_a, r.doc_b) for r in pairs.collect()]
    assert rows
    assert _labels(dedup_clusters(pairs)) == _union_find_labels(rows)


def test_star_cc_log_rounds_on_path_graph(spark, monkeypatch):
    """A 200-node path graph (the drift-chain worst case, diameter 200)
    converges within a 10-round budget: the alternating rounds contract
    paths exponentially, and the whole path is one cluster rooted at
    its minimum."""
    from stock_bars_data_engineering_project_spark.operators import dedup
    from stock_bars_data_engineering_project_spark.operators.dedup import (
        dedup_clusters,
    )

    n = 200
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    monkeypatch.setattr(dedup, "STAR_ROUNDS", 10)
    assert _labels(dedup_clusters(path)) == [(i, 0) for i in range(n + 1)]


def test_star_cc_shapes(spark):
    """Two disjoint components + an isolated pair + duplicate/reversed
    input pairs: labels are per-component minima, each node exactly
    once."""
    from stock_bars_data_engineering_project_spark.operators.dedup import (
        dedup_clusters,
    )

    pairs = spark.createDataFrame(
        [(5, 3), (3, 9), (9, 5), (3, 5),      # triangle + dup/reversed
         (20, 21),                             # isolated pair
         (11, 10), (12, 11), (13, 12)],        # chain
        "doc_a long, doc_b long",
    )
    got = _labels(dedup_clusters(pairs))
    assert got == [(3, 3), (5, 3), (9, 3), (10, 10), (11, 10), (12, 10),
                   (13, 10), (20, 20), (21, 20)]
