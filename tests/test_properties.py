"""Property-based tests (hypothesis): operator laws that must hold for
ANY input, pinned against independent reference implementations
(pandas merge_asof, Python decimal) rather than hand-picked examples.

max_examples is kept small — every example runs Spark jobs — but the
generators cover the adversarial shapes: empty groups, ties broken by
id, duplicate keys, boundary timestamps.
"""

from __future__ import annotations

from datetime import datetime, timedelta
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from stock_bars_data_engineering_project_spark.functions.scalars import round_half_up
from stock_bars_data_engineering_project_spark.operators.asof import asof_join
from stock_bars_data_engineering_project_spark.operators.merge import upsert_frames

BASE = datetime(2024, 1, 1)

_events = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 500)),  # (user, minutes)
    min_size=1,
    max_size=12,
)
_marks = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 500), st.floats(0, 100)),
    min_size=1,
    max_size=8,
    unique_by=lambda t: (t[0], t[1]),  # unique per (key, ts): merge contract
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(_events, _marks)
def test_asof_join_matches_pandas_merge_asof(spark, events, marks):
    left = spark.createDataFrame(
        [(i, u, BASE + timedelta(minutes=m)) for i, (u, m) in enumerate(events)],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(u, BASE + timedelta(minutes=m), v) for u, m, v in marks],
        "user_id long, mark_ts timestamp, mark_value double",
    )
    got = {
        r.event_id: (r.mark_ts, r.mark_value)
        for r in asof_join(left, right).collect()
    }
    lp = left.toPandas().sort_values("ts").reset_index(drop=True)
    rp = right.toPandas().sort_values("mark_ts").reset_index(drop=True)
    want_df = pd.merge_asof(
        lp, rp, left_on="ts", right_on="mark_ts", by="user_id", direction="backward"
    )
    for _, r in want_df.iterrows():
        w_ts = None if pd.isna(r.mark_ts) else r.mark_ts.to_pydatetime()
        w_v = None if pd.isna(r.mark_value) else r.mark_value
        assert got[r.event_id] == (w_ts, w_v)


_frames = st.lists(
    st.tuples(st.integers(0, 5), st.floats(0, 10)), min_size=0, max_size=8
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_frames, _frames)
def test_upsert_source_wins_and_idempotent(spark, target_rows, source_rows):
    schema = "k long, v double"
    target = spark.createDataFrame(
        [(k, float(v)) for k, v in {k: v for k, v in target_rows}.items()], schema
    )
    source = spark.createDataFrame(
        [(k, float(v)) for k, v in {k: v for k, v in source_rows}.items()], schema
    )
    once = upsert_frames(target, source, keys=("k",))
    got = {r.k: r.v for r in once.collect()}
    want = {r.k: r.v for r in target.collect()} | {r.k: r.v for r in source.collect()}
    assert got == want  # source wins on collision, union of keys
    twice = upsert_frames(once, source, keys=("k",))
    assert {r.k: r.v for r in twice.collect()} == want  # idempotent replay


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.floats(-1e6, 1e6, allow_nan=False),
    st.integers(0, 6),
)
def test_round_half_up_matches_decimal(spark, x, n):
    got = spark.range(1).select(round_half_up(F.lit(x), n).alias("r")).first().r
    want = float(
        Decimal(x).quantize(Decimal(10) ** -n, rounding=ROUND_HALF_UP)
    )
    assert got == want


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.sampled_from("ab cd ef gh ij".split()), max_size=8), st.integers(2, 4))
def test_word_shingles_count_law(spark, words, k):
    from stock_bars_data_engineering_project_spark.functions.text import word_shingles

    text = " ".join(words)
    row = (
        spark.createDataFrame([(text,)], "text string")
        .select(word_shingles("text", k).alias("sh"))
        .first()
    )
    n_tokens = len(text.split(" "))  # split semantics: '' -> ['']
    assert len(row.sh) == max(0, n_tokens - k + 1)
    assert all(len(s.split(" ")) == k for s in row.sh)


_edges = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda t: t[0] != t[1]),
    min_size=1,
    max_size=15,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_edges)
def test_dedup_clusters_matches_union_find(spark, edges):
    from stock_bars_data_engineering_project_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}

    # independent model: classic union-find with min-relabel
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    assert got == want


_series = st.lists(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=64),
    min_size=1,
    max_size=20,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_series, st.floats(min_value=0.01, max_value=0.99))
def test_ewma_matches_python_recursion(spark, values, alpha):
    from stock_bars_data_engineering_project_spark.operators import ema

    rows = [(i, 1, BASE + timedelta(hours=i), v) for i, v in enumerate(values)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(ema, "ALPHA", alpha)
        got = {r.event_id: r.ema for r in ema.ewma_per_key(df).collect()}
    y = values[0]
    want = {0: y}
    for i, x in enumerate(values[1:], start=1):
        y = (1 - alpha) * y + alpha * x
        want[i] = y
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k] or abs(got[k] - want[k]) <= 1e-9 * max(
            1.0, abs(want[k])
        )


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_events, _events)
def test_interval_join_matches_bruteforce(spark, lefts, rights):
    from stock_bars_data_engineering_project_spark.streaming.joins import interval_join

    ldf = spark.createDataFrame(
        [(i, u, BASE + timedelta(minutes=m)) for i, (u, m) in enumerate(lefts)],
        "event_id long, user_id long, ts timestamp",
    )
    rdf = spark.createDataFrame(
        [(i, u, BASE + timedelta(minutes=m)) for i, (u, m) in enumerate(rights)],
        "event_id long, user_id long, ts timestamp",
    )
    got = {
        (r.l_event_id, r.r_event_id)
        for r in interval_join(ldf, rdf).collect()
    }
    want = {
        (li, ri)
        for li, (lu, lm) in enumerate(lefts)
        for ri, (ru, rm) in enumerate(rights)
        if lu == ru and lm - 60 <= rm <= lm
    }
    assert got == want


_vrows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(0, 5)),       # fk / numeric value
        st.one_of(st.none(), st.sampled_from("abcX")),  # categorical
    ),
    min_size=0,
    max_size=12,
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(_vrows, st.lists(st.one_of(st.none(), st.integers(0, 5)), max_size=6))
def test_validation_checks_match_python_recompute(spark, rows, parent_keys):
    """Every validation builder's (observed, failed, ok) equals a plain
    Python recompute over the same rows — including all-NULL, empty, and
    duplicate-key shapes the generators produce."""
    from stock_bars_data_engineering_project_spark.operators.validation import (
        accepted_values,
        not_null,
        ref_integrity,
        unique_key,
        value_range,
    )

    df = spark.createDataFrame(rows, "k long, s string") if rows else (
        spark.createDataFrame([], "k long, s string")
    )
    parent = (
        spark.createDataFrame([(p,) for p in parent_keys], "pk long")
        if parent_keys
        else spark.createDataFrame([], "pk long")
    )

    r = not_null(df, "t", "s").collect()[0]
    exp_failed = sum(1 for _, s in rows if s is None)
    assert (r.observed, r.failed, r.ok) == (
        len(rows), exp_failed, int(exp_failed == 0)
    )

    r = unique_key(df, "t", "k").collect()[0]
    distinct = len({k for k, _ in rows if k is not None})
    assert (r.observed, r.failed, r.ok) == (
        distinct, len(rows) - distinct, int(len(rows) - distinct == 0)
    )

    r = accepted_values(df, "t", "s", ("a", "b")).collect()[0]
    exp_failed = sum(1 for _, s in rows if s not in ("a", "b"))
    assert (r.failed, r.ok) == (exp_failed, int(exp_failed == 0))

    r = value_range(df, "t", "k", 1, 4).collect()[0]
    exp_failed = sum(1 for k, _ in rows if k is None or not (1 <= k <= 4))
    assert (r.failed, r.ok) == (exp_failed, int(exp_failed == 0))

    r = ref_integrity(df, "k", parent, "pk", "t").collect()[0]
    pset = {p for p in parent_keys if p is not None}
    orphan_keys = {k for k, _ in rows if k is not None} - pset
    exp = len(orphan_keys) + (1 if any(k is None for k, _ in rows) else 0)
    assert (r.observed, r.failed, r.ok) == (exp, exp, int(exp == 0))


_corpus = st.lists(
    st.lists(st.sampled_from("aa bb cc dd ee".split()), min_size=0, max_size=8),
    min_size=1,
    max_size=10,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_corpus, st.integers(2, 3))
def test_boilerplate_scrub_matches_python_reference(spark, token_lists, cap):
    """boilerplate_scrub == a direct Python implementation of the rule
    (hot k-gram = df >= cap; remove every covered position) on random
    tiny-alphabet corpora — the shapes (overlapping spans, all-hot docs,
    short docs, repeated grams within one doc) that break off-by-ones."""
    from collections import defaultdict

    from stock_bars_data_engineering_project_spark.operators.contamination import (
        boilerplate_scrub,
    )

    k = 3
    texts = [" ".join(toks) for toks in token_lists]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
        for r in boilerplate_scrub(docs, df_cap=cap).collect()
    }

    # reference: note split(" ") of "" yields [""] — one (empty) token,
    # matching the engines' split semantics
    toks = {i: t.split(" ") for i, t in enumerate(texts)}
    df_count = defaultdict(set)
    for i, ts in toks.items():
        for s in range(len(ts) - k + 1):
            df_count[tuple(ts[s : s + k])].add(i)
    hot = {g for g, ds in df_count.items() if len(ds) >= cap}
    expect = {}
    for i, ts in toks.items():
        covered = set()
        for s in range(len(ts) - k + 1):
            if tuple(ts[s : s + k]) in hot:
                covered.update(range(s, s + k))
        kept = [t for p, t in enumerate(ts) if p not in covered]
        expect[i] = (len(ts), len(covered), " ".join(kept))
    assert got == expect


_para_pool = st.lists(
    st.lists(
        st.sampled_from(
            ["shared body one", "shared body two", "UNIQ", "  spaced   out ", ""]
        ),
        min_size=1,
        max_size=5,
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_para_pool)
def test_dedup_paragraphs_matches_python_scan(spark, doc_paras):
    """Paragraph dedup law for ANY corpus shape: a later occurrence of a
    normalized paragraph (trim + whitespace collapse + lower) is removed
    iff it is non-empty and an earlier (doc_id, pos) occurrence
    exists — including empty paragraphs, whitespace variants, and
    paragraphs made unique per doc by hypothesis' UNIQ marker."""
    from stock_bars_data_engineering_project_spark.operators.contamination import (
        dedup_paragraphs,
    )

    rows = []
    for d, paras in enumerate(doc_paras):
        # make UNIQ per-(doc,pos) so some paragraphs never duplicate
        mat = [
            f"uniq {d} {j}" if p == "UNIQ" else p for j, p in enumerate(paras)
        ]
        rows.append((d, "\n\n".join(mat)))

    def norm(p):
        return " ".join(p.split()).lower()

    import re

    seen: set[str] = set()
    expect = {}
    for d, text in sorted(rows):
        # the operator's split_re is \n{2,}: any run of >= 2 newlines is
        # ONE paragraph break (the C4 blank-line semantics) — the
        # reference must split identically or empty paragraphs between
        # consecutive breaks diverge
        paras = re.split(r"\n{2,}", text)
        kept, removed = [], 0
        for p in paras:
            n = norm(p)
            if not n:
                kept.append(p)
            elif n in seen:
                removed += 1
            else:
                seen.add(n)
                kept.append(p)
        expect[d] = (len(paras), removed, "\n\n".join(kept))

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_paragraphs, r.n_removed, r.clean_text)
        for r in dedup_paragraphs(docs).collect()
    }
    assert got == expect


_docs_corpus = st.lists(
    st.lists(st.sampled_from("aa bb cc dd ee".split()), min_size=0, max_size=10),
    min_size=1,
    max_size=8,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_docs_corpus, st.integers(2, 3))
def test_exact_substr_matches_python_replay(spark, token_lists, k):
    """exact_substr_scrub ≡ the direct Python replay for ANY corpus over
    a tiny alphabet (maximal gram collisions — the adversarial case for
    winner selection and span merging)."""
    from stock_bars_data_engineering_project_spark.operators import contamination
    from tests.test_contamination import _exact_substr_replay

    rows = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(contamination, "SUBSTR_K", k)
        got = {
            r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
            for r in contamination.exact_substr_scrub(docs).collect()
        }
    assert got == _exact_substr_replay(rows, k=k)


_scd2_batches = st.lists(
    st.dictionaries(st.integers(0, 3), st.integers(0, 2), max_size=4),
    min_size=1,
    max_size=3,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(_scd2_batches)
def test_scd2_matches_sequential_reference(spark, batches):
    """SCD2 under ANY batch sequence (full-snapshot semantics,
    merge.CLOSE_MISSING) equals a sequential dict-based reference:
    version intervals, closure stamps, re-appearing keys, and the
    one-open-version invariant all follow."""
    from stock_bars_data_engineering_project_spark.operators.merge import (
        scd2_init,
        scd2_merge,
    )

    # reference
    open_rows: dict[int, list] = {}
    hist: list[tuple] = []
    for stamp, batch in enumerate(batches, start=1):
        if stamp == 1:
            for k, v in batch.items():
                open_rows[k] = [k, v, 1, None, True]
            continue
        for k, v in batch.items():
            if k in open_rows:
                if open_rows[k][1] != v:
                    old = open_rows.pop(k)
                    old[3], old[4] = stamp, False
                    hist.append(tuple(old))
                    open_rows[k] = [k, v, stamp, None, True]
            else:
                open_rows[k] = [k, v, stamp, None, True]
        for k in [k for k in open_rows if k not in batch]:
            old = open_rows.pop(k)
            old[3], old[4] = stamp, False
            hist.append(tuple(old))
    want = sorted(hist + [tuple(r) for r in open_rows.values()])

    schema = "k long, v long"
    state = scd2_init(
        spark.createDataFrame(list(batches[0].items()) or [], schema),
        ("k",),
        1,
    )
    for stamp, batch in enumerate(batches[1:], start=2):
        state = scd2_merge(
            state,
            spark.createDataFrame(list(batch.items()) or [], schema),
            ("k",),
            ("v",),
            stamp,
        )
    got = sorted(
        (r.k, r.v, r.valid_from, r.valid_to, r.is_current)
        for r in state.collect()
    )
    assert got == want


_rank_lists = st.lists(
    st.lists(st.integers(0, 9), min_size=1, max_size=8, unique=True),
    min_size=1,
    max_size=3,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_rank_lists)
def test_rrf_matches_python_reference(spark, legs):
    """RRF fusion of ANY rank lists equals the dict reference: score =
    sum over legs of 1/(60+rank), ranked by (6-dp-rounded score desc,
    item asc), top-k cut."""
    from decimal import ROUND_HALF_UP, Decimal

    from stock_bars_data_engineering_project_spark.operators import retrieval

    frames = [
        spark.createDataFrame(
            [(1, item, r + 1) for r, item in enumerate(leg)],
            "query_id long, doc_id long, rank int",
        )
        for leg in legs
    ]
    k = 5  # below the 10 distinct items, so the cut runs
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(retrieval, "TOP_K", k)
        got = {
            r.doc_id: (r.rank, round(r.score, 12))
            for r in retrieval.rrf_fuse(frames).collect()
        }

    scores: dict[int, float] = {}
    for leg in legs:
        for r, item in enumerate(leg):
            scores[item] = scores.get(item, 0.0) + 1.0 / (60.0 + r + 1)

    def _r6(x):
        return float(
            Decimal(x).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)
        )

    ranked = sorted(scores.items(), key=lambda kv: (-_r6(kv[1]), kv[0]))[:k]
    want = {
        item: (i + 1, round(s, 12)) for i, (item, s) in enumerate(ranked)
    }
    assert got == want


_sparse_series = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 15)),  # (key, day offset)
    min_size=1,
    max_size=12,
    unique=True,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_sparse_series)
def test_calendar_fill_dense_reconstruction_law(spark, cells):
    """For ANY sparse daily series: union(observed, fill) is a dense
    per-key calendar over [min, max], no (key, day) duplicates, and
    every synthetic row carries the most recent prior observed value."""
    from datetime import date, timedelta

    from stock_bars_data_engineering_project_spark.operators.gapfill import (
        calendar_fill,
    )

    base = date(2024, 1, 1)
    rows = [
        (k, base + timedelta(days=d), float(k * 100 + d)) for k, d in cells
    ]
    bars = spark.createDataFrame(rows, "k long, day date, v double")
    fill = calendar_fill(bars, "k", ("v",))
    dense = {(r.k, r.day): (r.v, "obs") for r in bars.collect()}
    for r in fill.collect():
        assert (r.k, r.day) not in dense  # synthetic only where missing
        dense[(r.k, r.day)] = (r.v, "fill")

    by_key: dict[int, list] = {}
    for (k, d), (v, kind) in dense.items():
        by_key.setdefault(k, []).append((d, v, kind))
    for k, series in by_key.items():
        series.sort()
        days = [d for d, _, _ in series]
        assert days == [
            days[0] + timedelta(days=i) for i in range(len(days))
        ]  # dense span
        last_obs = None
        for d, v, kind in series:
            if kind == "obs":
                last_obs = v
            else:
                assert v == last_obs  # carried forward value


_alpha_docs = st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=12),
    min_size=1,
    max_size=8,
)
_alpha_pats = st.lists(
    st.text(alphabet="ab ", min_size=1, max_size=5),
    min_size=1,
    max_size=4,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_alpha_docs, _alpha_pats)
def test_substring_search_equals_python_in(spark, docs, pats):
    """Index path ≡ Python substring membership for ANY input — the
    2-char alphabet maximizes shared trigrams (decoy pressure on the
    candidate gate) and patterns below 3 chars exercise the fallback."""
    from stock_bars_data_engineering_project_spark.operators.trigram import (
        substring_search,
    )

    ddf = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    pdf = spark.createDataFrame(
        list(enumerate(pats)), ["pattern_id", "pattern"]
    )
    got = sorted(
        (r.pattern_id, r.id) for r in substring_search(ddf, pdf).collect()
    )
    want = sorted(
        (pi, di)
        for pi, p in enumerate(pats)
        for di, d in enumerate(docs)
        if p in d
    )
    assert got == want


_res_rows = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 1)),  # (id, group)
    min_size=1,
    max_size=20,
    unique_by=lambda t: t[0],
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_res_rows, st.integers(1, 4))
def test_reservoir_bottom_k_is_mergeable(spark, rows, k):
    """bottom-k(union) == bottom-k(bottom-k(half A) ∪ bottom-k(half B))
    — the mergeability law that makes the hash-rank form the
    distributed reservoir idiom — and both equal the Python replay."""
    import hashlib

    from stock_bars_data_engineering_project_spark.operators.sampling import (
        reservoir_k,
    )

    df = spark.createDataFrame(rows, ["doc_id", "grp"])
    whole = sorted(
        (r.grp, r.rank, r.doc_id)
        for r in reservoir_k(df, ("grp",), "doc_id", k=k).collect()
    )
    a = reservoir_k(
        df.filter(F.col("doc_id") % 2 == 0), ("grp",), "doc_id", k=k
    ).drop("rank")
    b = reservoir_k(
        df.filter(F.col("doc_id") % 2 == 1), ("grp",), "doc_id", k=k
    ).drop("rank")
    merged = sorted(
        (r.grp, r.rank, r.doc_id)
        for r in reservoir_k(a.unionByName(b), ("grp",), "doc_id", k=k).collect()
    )
    assert merged == whole

    def h(i):
        return int(hashlib.md5(f"res:{i}".encode()).hexdigest()[:12], 16)

    want = []
    for g in {g for _, g in rows}:
        ids = sorted((i for i, gg in rows if gg == g), key=lambda i: (h(i), i))[:k]
        want += [(g, r + 1, i) for r, i in enumerate(ids)]
    assert whole == sorted(want)


_pr_pairs = st.lists(
    st.tuples(st.integers(0, 8), st.integers(0, 8)).filter(
        lambda t: t[0] != t[1]
    ),
    min_size=1,
    max_size=10,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(_pr_pairs)
def test_pagerank_matches_replay_on_any_graph(spark, pairs):
    """PageRank ≡ the pure-Python replay (same per-round HALF_UP
    rounding) and conserves mass, for ANY undirected pair graph —
    duplicate pairs, both orientations, multiple components."""
    from stock_bars_data_engineering_project_spark.operators.graph import pagerank

    df = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
    got = {r.node: r.pr for r in pagerank(df).collect()}

    def r9(x):
        # double-round via decimal(30,10) first — round_half_up's
        # exact path; a single-step 1e-9 quantize diverges on ~5% of
        # values and the iteration feedback amplifies past tolerance
        d10 = Decimal(repr(x)).quantize(Decimal("1e-10"), ROUND_HALF_UP)
        return float(d10.quantize(Decimal("1e-9"), ROUND_HALF_UP))

    edges = set()
    for a, b in pairs:
        edges.add((a, b))
        edges.add((b, a))
    nodes = sorted({s for s, _ in edges})
    n = float(len(nodes))
    deg = {v: sum(1 for s, _ in edges if s == v) for v in nodes}
    pr = {v: r9(1.0 / n) for v in nodes}
    for _ in range(3):
        pr = {
            v: r9(
                0.15 / n
                + 0.85 * sum(pr[u] / deg[u] for u, w in sorted(edges) if w == v)
            )
            for v in nodes
        }
    assert set(got) == set(pr)
    for v in pr:
        assert abs(got[v] - pr[v]) < 2e-9, (v, got[v], pr[v])
    assert abs(sum(got.values()) - 1.0) < 1e-6


_edges = st.lists(
    st.tuples(st.integers(0, 24), st.integers(0, 24)),
    min_size=1,
    max_size=30,
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(_edges)
def test_star_cc_matches_python_union_find(spark, edges):
    """Property: large-star/small-star connected components equal a
    Python union-find ground truth (min label per component, one row
    per node appearing in a non-self pair) on arbitrary random graphs
    — self-loops, duplicates, reversed pairs, disconnected pieces and
    all. The random-topology safety net under the driver row's
    switch to the star implementation (round 9)."""
    from stock_bars_data_engineering_project_spark.operators.dedup import (
        dedup_clusters_star,
    )

    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], "doc_a long, doc_b long"
    )

    # ground truth: union-find over non-self edges
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    nodes = set()
    for a, b in edges:
        if a != b:
            union(a, b)
            nodes.update((a, b))
    want = sorted((n, find(n)) for n in nodes)

    got = sorted(
        (r.doc_id, r.cluster_id) for r in dedup_clusters_star(pairs).collect()
    )
    assert got == want


_weighted_rows = st.lists(
    st.tuples(
        st.integers(0, 200),            # doc_id (dupes dropped below)
        st.integers(0, 1),              # stratum
        st.integers(1, 1_000_000),      # weight: spans the magnitudes
    ),
    min_size=1,
    max_size=25,
    unique_by=lambda t: t[0],
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(_weighted_rows)
def test_weighted_sample_k_matches_python_replay(spark, rows):
    """Property: the A-ES sampler's survivor SET AND ORDER equal the
    Python replay of the ln(u)/w key at any weight magnitude — the
    round-9 log key must stay faithful from w=1 token up to the 1e6
    range where the old u**(1/w) key collapsed."""
    import hashlib
    import math

    from stock_bars_data_engineering_project_spark.operators.sampling import (
        weighted_sample_k,
    )

    df = spark.createDataFrame(rows, "doc_id long, src long, w long")
    got = sorted(
        (r.src, r.rank, r.doc_id)
        for r in weighted_sample_k(df, ("src",), "doc_id", "w", k=4).collect()
    )

    def key(i, w):
        u = (int(hashlib.md5(f"wres:{i}".encode()).hexdigest()[:12], 16)
             % 1_000_000 + 1) / 1_000_000.0
        return round(math.log(u) / w, 9)

    want = []
    for src in {r[1] for r in rows}:
        members = [(i, w) for i, s, w in rows if s == src]
        ordered = sorted(members, key=lambda t: (-key(*t), t[0]))[:4]
        want.extend((src, rank + 1, i) for rank, (i, _) in enumerate(ordered))
    assert got == sorted(want)


_vecs = st.lists(
    st.lists(
        st.floats(min_value=-1.0, max_value=1.0,
                  allow_nan=False, allow_infinity=False).map(
            lambda x: x or 0.25  # no all-zero vectors (no direction)
        ),
        min_size=64, max_size=64,
    ),
    min_size=3, max_size=14,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(_vecs, _vecs)
def test_semantic_decontam_blocked_subset_law(spark, train_vs, eval_vs):
    """On ANY vector sets: the blocked arm's rows are a subset of the
    exact arm's ids, each blocked cosine <= the exact max (it argmaxes
    over a candidate subset), and at hamming radius = n_planes the ball
    is total so blocked must equal exact... radius is capped at 2, so
    instead pin the exactness law on the EXACT arm: its (cos, argmax)
    equals a Python replay."""
    import math

    from stock_bars_data_engineering_project_spark.operators.semantic import (
        semantic_decontaminate,
        semantic_decontaminate_blocked,
    )

    train = spark.createDataFrame(
        [(i, v) for i, v in enumerate(train_vs)], "vec_id long, embedding array<double>"
    )
    ev = spark.createDataFrame(
        [(100 + i, v) for i, v in enumerate(eval_vs)],
        "vec_id long, embedding array<double>",
    )
    exact = {r.vec_id: r for r in semantic_decontaminate(train, ev).collect()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    for i, tv in enumerate(train_vs):
        best = sorted(
            ((cos(tv, evv), 100 + j) for j, evv in enumerate(eval_vs)),
            key=lambda p: (-p[0], p[1]),
        )[0]
        r = exact[i]
        assert r.near_eval_id == best[1]
        assert abs(r.cos - round(best[0], 4)) <= 1e-9

    blocked = semantic_decontaminate_blocked(train, ev).collect()
    for r in blocked:
        assert r.vec_id in exact
        assert r.cos <= exact[r.vec_id].cos + 1e-9
