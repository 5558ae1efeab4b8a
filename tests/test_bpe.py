"""BPE tokenizer training: Spark merge learning vs a pure-Python
reference implementation of the classic algorithm."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from stock_bars_data_engineering_project_spark.operators.bpe import (
    EOW,
    bpe_segment,
    train_bpe,
)
from stock_bars_data_engineering_project_spark.operators.quality import word_counts

CORPUS = [
    "low low low low low",
    "lower lower newest newest",
    "newest newest newest newest",
    "wider wider new new",
]


def _ref_bpe(texts: list[str], n_merges: int, min_pair_count: int = 2):
    """Reference BPE (Sennrich et al.): word counts -> repeat (count
    adjacent pairs weighted by word freq, merge the argmax leftmost-
    first non-overlapping). Ties break lexicographically."""
    wc = Counter()
    for t in texts:
        for w in t.lower().split(" "):
            if w:
                wc[w] += 1
    symtab = {w: tuple(list(w) + [EOW]) for w in wc}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for w, syms in symtab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += wc[w]
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        if cnt < min_pair_count:
            break
        merges.append((a, b, cnt))
        new = {}
        for w, syms in symtab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new[w] = tuple(out)
        symtab = new
    return merges, symtab


def test_train_bpe_matches_reference(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )
    got = train_bpe(docs, n_merges=8)
    expect, ref_symtab = _ref_bpe(CORPUS, 8)
    assert got == expect
    # and the encode side reproduces the reference segmentation
    words = spark.createDataFrame([(w,) for w in ref_symtab], "word string")
    seg = {r.word: tuple(r.pieces) for r in bpe_segment(words, got).collect()}
    assert seg == ref_symtab


def test_train_bpe_learns_the_obvious_merge_first(spark):
    """'newest' x6 and 'low' x5 dominate: the first merges must build
    their frequent units, and every rule's count must be
    non-increasing only when the algorithm says so (counts can rise
    after a merge creates a new frequent pair — assert determinism and
    structure, not monotonicity)."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )
    merges = train_bpe(docs, n_merges=3)
    assert len(merges) == 3
    # run-to-run determinism
    assert merges == train_bpe(docs, n_merges=3)


def test_train_bpe_early_stop_and_guards(spark):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    # every word is a single char + EOW; each pair occurs once -> below
    # min_pair_count=2, nothing to learn
    assert train_bpe(docs, n_merges=5) == []
    with pytest.raises(ValueError, match="n_merges"):
        train_bpe(docs, n_merges=0)


def test_word_counts_is_the_only_corpus_pass(spark):
    docs = spark.createDataFrame(
        [(1, "Aa aa AA"), (2, "bb")], "doc_id long, text string"
    )
    wc = {r.token: r.n for r in word_counts(docs).collect()}
    assert wc == {"aa": 3, "bb": 1}


def test_bpe_segment_refuses_pieces_collision(spark):
    import pytest

    from stock_bars_data_engineering_project_spark.operators.bpe import bpe_segment

    words = spark.createDataFrame(
        [("low", ["x"])], "word string, pieces array<string>"
    )
    with pytest.raises(ValueError, match="pieces"):
        bpe_segment(words, [("l", "o")])


def test_bpe_segment_round_trips_every_word(spark):
    """Tokenizer losslessness: the pieces of every distinct corpus word
    under the learned merges concatenate back to the word plus one
    end-of-word marker — including words whose merges cross that
    marker. BPE merges only concatenate adjacent symbols, so any other
    outcome corrupts every downstream training example."""
    docs = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    merges = train_bpe(docs, n_merges=8)
    words = word_counts(docs).select(F.col("token").alias("word"))
    out = bpe_segment(words, merges).collect()
    assert out, "no words"
    for r in out:
        assert "".join(r.pieces) == r.word + EOW, (r.word, r.pieces)
