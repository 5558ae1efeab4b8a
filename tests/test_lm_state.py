"""Incrementally maintained bigram-LM state (operators/lm_state.py):
two-batch ingest ≡ one-shot counts, redelivery idempotence, read-time
pruning, and the end-to-end law — scoring with
the incrementally-built frozen model equals self-modeling the same
corpus."""

from __future__ import annotations

import pytest

from stock_bars_data_engineering_project_spark.operators.lm_state import (
    ingest_lm_batch,
    lm_state,
)
from stock_bars_data_engineering_project_spark.operators.quality import (
    bigram_surprisal,
    word_counts,
)
from stock_bars_data_engineering_project_spark.sinks.warehouse import (
    ParquetWarehouse,
)

DOCS = [
    (1, "a b a b"),
    (2, "a b"),
    (3, "b x"),
    (4, "a"),
    (5, ""),
]


@pytest.fixture()
def corpus(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _wh(spark, tmp_path, name):
    return ParquetWarehouse(spark, str(tmp_path / name))


def _counts(uni, bi):
    u = {r.token: r.n for r in uni.collect()}
    b = {(r.prev, r.cur): r.n2 for r in bi.collect()}
    return u, b


def test_two_batch_ingest_equals_one_shot(spark, tmp_path, corpus):
    inc = _wh(spark, tmp_path, "inc")
    ingest_lm_batch(inc, corpus.filter("doc_id <= 2"))
    ingest_lm_batch(inc, corpus.filter("doc_id > 2"))
    one = _wh(spark, tmp_path, "one")
    ingest_lm_batch(one, corpus)
    assert _counts(*lm_state(inc)) == _counts(*lm_state(one))
    # known values: c1 = {a:4, b:4, x:1}; raw c2 = {(a,b):3, (b,a):1,
    # (b,x):1}, of which only (a,b) survives the read-time prune
    u, b = _counts(*lm_state(inc))
    assert u == {"a": 4, "b": 4, "x": 1}
    assert b == {("a", "b"): 3}
    raw = inc.read("lm_bigrams").groupBy("prev", "cur").sum("n2").collect()
    assert {(r[0], r[1]): r[2] for r in raw} == {
        ("a", "b"): 3, ("b", "a"): 1, ("b", "x"): 1
    }


def test_redelivery_is_a_noop(spark, tmp_path, corpus):
    wh = _wh(spark, tmp_path, "redeliver")
    batch = corpus.filter("doc_id <= 2")
    e1 = ingest_lm_batch(wh, batch)
    before = _counts(*lm_state(wh))
    e2 = ingest_lm_batch(wh, batch)  # at-least-once redelivery
    assert e1 == e2  # content-addressed epoch
    assert _counts(*lm_state(wh)) == before


def test_redelivery_writes_nothing(spark, tmp_path, corpus):
    """A present (content-addressed) epoch partition
    short-circuits BEFORE any write — redelivery commits no new table
    version, where the former keyed merge re-wrote the identical
    partition as a fresh snapshot."""
    wh = _wh(spark, tmp_path, "skipwrite")
    batch = corpus.filter("doc_id <= 2")
    ingest_lm_batch(wh, batch)
    vers_before = (
        wh.versions("lm_unigrams"),
        wh.versions("lm_bigrams"),
    )
    ingest_lm_batch(wh, batch)
    assert (
        wh.versions("lm_unigrams"),
        wh.versions("lm_bigrams"),
    ) == vers_before


def test_read_time_pruning(spark, tmp_path, corpus):
    wh = _wh(spark, tmp_path, "prune")
    ingest_lm_batch(wh, corpus)
    _, b2 = lm_state(wh)
    assert {(r.prev, r.cur) for r in b2.collect()} == {("a", "b")}
    # raw singletons are still in the store — threshold is read-time
    assert wh.read("lm_bigrams").count() == 3


def test_frozen_model_scoring_equals_self_model(spark, tmp_path, corpus):
    """End-to-end: bigram_surprisal against the incrementally-built
    state equals self-modeling the same corpus (1e-12 — avg partials
    merge in shuffle-fetch order)."""
    wh = _wh(spark, tmp_path, "score")
    ingest_lm_batch(wh, corpus.filter("doc_id <= 2"))
    ingest_lm_batch(wh, corpus.filter("doc_id > 2"))
    uni, bi = lm_state(wh)
    frozen = {
        r.doc_id: r.score
        for r in bigram_surprisal(
            corpus, unigram_counts=uni, bigram_counts=bi
        ).collect()
    }
    own = {
        r.doc_id: r.score
        for r in bigram_surprisal(corpus, word_counts(corpus)).collect()
    }
    assert set(frozen) == set(own)
    for doc_id, s in own.items():
        assert abs(frozen[doc_id] - s) < 1e-12, doc_id
