"""Gopher-rule quality panel: each rule trips on a targeted violation,
clean prose passes all rules, degenerate inputs fail closed."""

from __future__ import annotations

from stock_bars_data_engineering_project_spark.operators.quality import (
    GOPHER_STOPWORDS,
    gopher_panel,
    word_counts,
)

RULES = (
    "rule_word_count",
    "rule_mean_word_len",
    "rule_symbol_ratio",
    "rule_bullet_lines",
    "rule_ellipsis_lines",
    "rule_alpha_words",
    "rule_stopwords",
    "rule_dup_lines",
    "rule_dup_line_chars",
    "rule_top_2gram",
)


def _base_words() -> list[str]:
    # 60 distinct words, two Gopher stopwords, mean length ~5, all alpha
    return ["the", "of"] + [f"word{i:02d}" for i in range(58)]


def _panel(spark, rows):
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    return {r.doc_id: r for r in gopher_panel(docs).collect()}


def test_clean_prose_passes_every_rule(spark):
    got = _panel(spark, [(1, " ".join(_base_words()))])
    r = got[1]
    assert r.n_words == 60
    for rule in RULES:
        assert r[rule] is True, rule
    assert r.keep is True


def test_each_rule_trips_on_its_violation(spark):
    base = _base_words()
    long_words = [f"extraordinarily{i:03d}long" for i in range(58)]
    bullet_lines = "\n".join(f"- item {w}" for w in base)
    ellipsis_lines = "\n".join(
        f"line {w}..." if i < 30 else f"line {w}"
        for i, w in enumerate(base)
    )
    dup_line = "the dup line of words here"
    dup_lines = "\n".join(
        [dup_line] * 5 + [f"unique line {i} the of" for i in range(5)]
    )
    cases = {
        "rule_word_count": "the of too short",
        "rule_mean_word_len": "the of " + " ".join(long_words),
        "rule_symbol_ratio": " ".join(
            w + "#" if i < 10 else w for i, w in enumerate(base)
        ),
        "rule_bullet_lines": bullet_lines,
        "rule_ellipsis_lines": ellipsis_lines,
        "rule_alpha_words": " ".join(
            str(10000 + i) if i < 20 else w for i, w in enumerate(base)
        ),
        "rule_stopwords": " ".join(f"token{i:02d}" for i in range(60)),
        "rule_dup_lines": dup_lines,
        "rule_top_2gram": "the of " + "spam ham " * 29,
    }
    rows = [(i, text) for i, (rule, text) in enumerate(cases.items())]
    got = _panel(spark, rows)
    for i, (rule, _) in enumerate(cases.items()):
        assert got[i][rule] is False, f"{rule} should trip"
        assert got[i].keep is False, rule


def test_degenerate_docs_fail_closed(spark):
    got = _panel(spark, [(1, ""), (2, None), (3, "   \n\n  ")])
    for r in got.values():
        assert r.keep is False
        assert r.n_words == 0


def test_threshold_override_admits_short_doc(spark):
    # 10 distinct words: long enough that no OTHER rule trips (a 5-word
    # doc would fail top-2gram at share 1/4), short enough to trip the
    # default min_words=50
    docs = spark.createDataFrame(
        [(1, "the of tiny doc here with more distinct words now")],
        "doc_id long, text string",
    )
    strict = {r.doc_id: r for r in gopher_panel(docs).collect()}
    assert strict[1].rule_word_count is False
    loose = {
        r.doc_id: r for r in gopher_panel(docs, min_words=3).collect()
    }
    assert loose[1].rule_word_count is True
    assert loose[1].keep is True


def test_stopword_list_is_the_papers(spark):
    assert GOPHER_STOPWORDS == (
        "the", "be", "to", "of", "and", "that", "have", "with",
    )


# --- bigram-LM surprisal (stupid backoff) ---------------------------------


def _bigram_docs(spark):
    from stock_bars_data_engineering_project_spark.operators.quality import (
        bigram_surprisal,
    )

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "b x"), (4, "a"), (5, "")],
        "doc_id long, text string",
    )
    return docs, bigram_surprisal


def test_bigram_surprisal_hand_computed(spark):
    """Corpus: c1 = {a:4, b:4, x:1}, total 9; bigrams (a,b)x3 (b,a)x1
    (b,x)x1; BIGRAM_MIN_COUNT=2 prunes everything but (a,b) — so doc 1 mixes
    the seen branch (3/4) with the backoff branch (0.4*4/9), and doc 3
    is pure backoff. Docs 4 (one token) and 5 (empty) emit no row."""
    import math

    docs, bigram_surprisal = _bigram_docs(spark)
    out = {
        r.doc_id: (r.score, r.n_bigrams)
        for r in bigram_surprisal(docs, word_counts(docs)).collect()
    }
    p_ab, p_ba, p_bx = 3 / 4, 0.4 * 4 / 9, 0.4 * 1 / 9
    expect = {
        1: ((-math.log(p_ab) * 2 - math.log(p_ba)) / 3, 3),
        2: (-math.log(p_ab), 1),
        3: (-math.log(p_bx), 1),
    }
    assert set(out) == set(expect)
    for doc_id, (score, n) in expect.items():
        assert abs(out[doc_id][0] - score) < 1e-12, doc_id
        assert out[doc_id][1] == n, doc_id


def test_bigram_surprisal_no_pruning_never_backs_off(spark, monkeypatch):
    """With no pruning (BIGRAM_MIN_COUNT 1) and the corpus as its own
    model, every observed bigram hits the seen branch: scores are pure
    conditional bigram surprisal (and doc 3's singleton transition stops
    being punished by the unigram backoff)."""
    import math

    from stock_bars_data_engineering_project_spark.operators import quality

    monkeypatch.setattr(quality, "BIGRAM_MIN_COUNT", 1)
    docs, bigram_surprisal = _bigram_docs(spark)
    out = {
        r.doc_id: r.score
        for r in bigram_surprisal(docs, word_counts(docs)).collect()
    }
    # (b,x): c2=1, c1(b)=4 -> p = 1/4 (seen), not 0.4*1/9 (backoff)
    assert abs(out[3] - (-math.log(1 / 4))) < 1e-12
    # doc1: (a,b)=3/4 twice, (b,a)=1/4 once
    assert abs(out[1] - (-(2 * math.log(3 / 4) + math.log(1 / 4)) / 3)) < 1e-12


def test_bigram_surprisal_reuses_supplied_unigram_counts(spark):
    """The shared-vocab path (the tfidf_vocab_suite wiring) must equal
    the recompute path. Scores compare to 1e-12, not bit-exactly: avg()
    partials merge in shuffle-fetch order, which can differ between two
    independent executions under load."""
    from pyspark.sql import functions as F

    docs, bigram_surprisal = _bigram_docs(spark)
    counts = (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), " "),
                    lambda t: t != F.lit(""),
                )
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a = {
        r.doc_id: (r.score, r.n_bigrams)
        for r in bigram_surprisal(docs, word_counts(docs)).collect()
    }
    b = {
        r.doc_id: (r.score, r.n_bigrams)
        for r in bigram_surprisal(docs, counts).collect()
    }
    assert set(a) == set(b)
    for doc_id, (score, n) in a.items():
        assert b[doc_id][1] == n
        assert abs(b[doc_id][0] - score) < 1e-12, doc_id


def test_bigram_surprisal_frozen_reference_model(spark, tmp_path):
    """The gate scores against a FROZEN persisted LM (the 100 TB shape:
    a batch of correlated garbage must not normalize itself). Identical
    corpus -> identical scores through a warehouse round-trip; a new
    batch's own transitions don't enter the model, so an order the
    reference never saw backs off even at min_count=1."""
    from pyspark.sql import functions as F

    from stock_bars_data_engineering_project_spark.operators.quality import (
        bigram_surprisal,
    )
    from stock_bars_data_engineering_project_spark.sinks.warehouse import (
        ParquetWarehouse,
    )

    docs, _ = _bigram_docs(spark)
    # derive + persist the model exactly as the operator would
    toks = F.filter(
        F.split(F.lower(F.col("text")), " "), lambda t: t != F.lit("")
    )
    c1 = (
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = docs.select(
        F.explode(
            F.filter(
                F.zip_with(
                    toks,
                    F.slice(toks, 2, F.size(toks)),
                    lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
                ),
                lambda s: s["cur"].isNotNull(),
            )
        ).alias("bg")
    ).select(F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur"))
    c2 = (
        pairs.groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("n2"))
        .filter(F.col("n2") >= 2)
    )
    wh = ParquetWarehouse(spark, str(tmp_path / "lm"))
    wh.overwrite(c1, "lm_unigrams")
    wh.overwrite(c2, "lm_bigrams")

    self_scores = {
        r.doc_id: round(r.score, 10)
        for r in bigram_surprisal(docs, word_counts(docs)).collect()
    }
    frozen_scores = {
        r.doc_id: round(r.score, 10)
        for r in bigram_surprisal(
            docs,
            unigram_counts=wh.read("lm_unigrams"),
            bigram_counts=wh.read("lm_bigrams"),
        ).collect()
    }
    assert frozen_scores == self_scores

    # a NEW batch with a transition the reference never saw: 'b a' is
    # in the reference corpus (doc 1) but 'x a' is not — even with the
    # batch containing 'x a' itself, the frozen model backs off
    import math

    batch = spark.createDataFrame([(9, "x a")], "doc_id long, text string")
    got = bigram_surprisal(
        batch,
        unigram_counts=wh.read("lm_unigrams"),
        bigram_counts=wh.read("lm_bigrams"),
    ).collect()[0]
    # backoff: 0.4 * c1(a)/total = 0.4 * 4/9
    assert abs(got.score - (-math.log(0.4 * 4 / 9))) < 1e-12


def test_bigram_surprisal_frozen_model_oov_unk_handling(spark):
    """OOV contract (ADVICE r7): a frozen reference model must PENALIZE
    novel-garbage transitions, not silently drop them. Tokens absent
    from the reference vocabulary score KenLM-style as <unk> with count
    1 (p = alpha * 1/total), and a fully-OOV document still emits a
    score row at maximal surprisal."""
    import math

    from stock_bars_data_engineering_project_spark.operators.quality import (
        bigram_surprisal,
    )

    # reference model: c1 = {a:4, b:4, x:1}, total 9; c2 = {(a,b): 3}
    uni = spark.createDataFrame(
        [("a", 4), ("b", 4), ("x", 1)], "token string, n long"
    )
    bi = spark.createDataFrame(
        [("a", "b", 3)], "prev string, cur string, n2 long"
    )

    batch = spark.createDataFrame(
        [
            (1, "a b zz"),   # seen bigram + OOV-cur transition
            (2, "zz qq"),    # fully OOV
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.score, r.n_bigrams)
        for r in bigram_surprisal(
            batch, unigram_counts=uni, bigram_counts=bi
        ).collect()
    }
    p_ab = 3 / 4                # seen branch
    p_unk = 0.4 * 1 / 9         # OOV cur -> <unk> count-1 backoff
    assert set(out) == {1, 2}
    assert out[1][1] == 2
    assert abs(out[1][0] - (-(math.log(p_ab) + math.log(p_unk)) / 2)) < 1e-12
    # fully-OOV doc: one bigram, both sides unseen -> pure <unk> backoff
    assert out[2][1] == 1
    assert abs(out[2][0] - (-math.log(p_unk))) < 1e-12


def test_pmi_collocations_matches_python_replay(spark, monkeypatch):
    import math

    from stock_bars_data_engineering_project_spark.operators import quality
    from stock_bars_data_engineering_project_spark.operators.quality import (
        pmi_collocations,
    )

    # the fixture's pairs occur at most 3 times: prune below 2
    monkeypatch.setattr(quality, "PMI_MIN_COUNT", 2)

    docs = spark.createDataFrame(
        [
            (1, "new york is big new york is loud"),
            (2, "old york new york the city"),
            (3, "new day new day new day"),
            (4, ""),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r.prev, r.cur): (r.n2, r.pmi)
        for r in pmi_collocations(docs, word_counts(docs)).collect()
    }

    toks = []
    pairs = []
    for _, t in [(1, "new york is big new york is loud"),
                 (2, "old york new york the city"),
                 (3, "new day new day new day")]:
        ws = [w for w in t.lower().split(" ") if w]
        toks += ws
        pairs += list(zip(ws, ws[1:]))
    from collections import Counter

    c1, c2 = Counter(toks), Counter(pairs)
    n1, n2t = len(toks), len(pairs)
    want = {
        ab: (n, math.log((n / n2t) / ((c1[ab[0]] / n1) * (c1[ab[1]] / n1))))
        for ab, n in c2.items()
        if n >= 2
    }
    assert set(got) == set(want)
    for ab in want:
        assert got[ab][0] == want[ab][0]
        assert abs(got[ab][1] - want[ab][1]) < 1e-12
    # the collocation ranks above a pair that survives the prune but
    # whose count is close to what its halves' frequencies predict:
    # (day,new) is the wrap-around artifact of doc 3 — both halves
    # frequent (new=6, day=3 of 20 tokens), co-count 2 of 17 pairs —
    # while (new,york) co-occurs 3x against the same base rates
    assert ("day", "new") in got
    assert got[("new", "york")][1] > got[("day", "new")][1]
