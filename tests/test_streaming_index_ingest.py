"""Streaming ingest drains for the three persisted indexes
(streaming/incremental.py): each drain must be stream ≡ batch — two
file waves through one checkpoint answer exactly like the batch
ingest path — and exactly-once under checkpoint replay, mirroring
test_dedup_ingest_stream_matches_batch_path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_bars_data_engineering_project_spark.operators.incremental_ann import (
    ann_query,
    build_ann_index,
    ingest_vectors,
)
from stock_bars_data_engineering_project_spark.operators.incremental_retrieval import (
    BM25,
    bm25_query,
)
from stock_bars_data_engineering_project_spark.operators.incremental_trgm import (
    TRGM,
    trgm_query,
)
from stock_bars_data_engineering_project_spark.operators.index_maint import (
    build_lexical_index,
    ingest_docs,
    maintain_bucketed_index,
)
from stock_bars_data_engineering_project_spark.operators.retrieval import bm25_topk
from stock_bars_data_engineering_project_spark.operators.trigram import substring_scan
from stock_bars_data_engineering_project_spark.sinks.warehouse import ParquetWarehouse
from stock_bars_data_engineering_project_spark.streaming.incremental import (
    index_delete_stream,
    index_ingest_stream,
)
from stock_bars_data_engineering_project_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").select("doc_id", "text")


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").select("vec_id", "embedding")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_ann_ingest_stream_matches_batch_path(spark, emb, tmp_path):
    """Two embedding file waves drained through index_ingest_stream land
    the same inverted lists as two ingest_vectors calls, answer queries
    identically, and a replay run with the drained checkpoint changes
    nothing."""

    base = emb.filter(F.col("vec_id") % 3 == 0)
    wave1 = emb.filter(F.col("vec_id") % 3 == 1)
    wave2 = emb.filter(F.col("vec_id") % 3 == 2)
    queries = emb.filter(F.col("vec_id") < 5)

    wh_s = ParquetWarehouse(spark, str(tmp_path / "wh_stream"))
    wh_b = ParquetWarehouse(spark, str(tmp_path / "wh_batch"))
    for wh in (wh_s, wh_b):
        build_ann_index(wh, base, "idx", centroid_stride=40, refine_iters=1)

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    wave1.write.mode("append").parquet(src)
    index_ingest_stream(
        spark, src, emb.schema, ckpt,
        lambda b: ingest_vectors(wh_s, b, "idx"),
    )
    wave2.write.mode("append").parquet(src)
    index_ingest_stream(
        spark, src, emb.schema, ckpt,
        lambda b: ingest_vectors(wh_s, b, "idx"),
    )

    ingest_vectors(wh_b, wave1, "idx")
    ingest_vectors(wh_b, wave2, "idx")

    assert _rows(wh_s.read("idx").select("vec_id", "cid")) == _rows(
        wh_b.read("idx").select("vec_id", "cid")
    )
    got = _rows(ann_query(wh_s, queries, "idx", k=5, nprobe=3))
    assert got == _rows(ann_query(wh_b, queries, "idx", k=5, nprobe=3))
    assert len(got) > 0

    # replay with the fully-drained checkpoint: no new rows, same answers
    v = wh_s.latest_version("idx")
    index_ingest_stream(
        spark, src, emb.schema, ckpt,
        lambda b: ingest_vectors(wh_s, b, "idx"),
    )
    assert wh_s.latest_version("idx") == v
    assert _rows(ann_query(wh_s, queries, "idx", k=5, nprobe=3)) == got


def test_bm25_ingest_stream_matches_batch_path(spark, docs, tmp_path):
    """Two BM25 document file waves through index_ingest_stream answer
    queries exactly like the one-shot index over the union corpus
    (which the batch law already equates to build+ingest); replay with
    the drained checkpoint appends nothing."""

    corpus = docs.filter(F.col("doc_id") >= 25)
    queries = docs.filter(F.col("doc_id") < 25).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    base = corpus.filter(F.col("doc_id") % 3 == 0)
    wave1 = corpus.filter(F.col("doc_id") % 3 == 1)
    wave2 = corpus.filter(F.col("doc_id") % 3 == 2)

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    build_lexical_index(wh, base, "bm", BM25)

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    wave1.write.mode("append").parquet(src)
    index_ingest_stream(
        spark, src, corpus.schema, ckpt,
        lambda b: ingest_docs(wh, b, "bm", BM25),
    )
    wave2.write.mode("append").parquet(src)
    index_ingest_stream(
        spark, src, corpus.schema, ckpt,
        lambda b: ingest_docs(wh, b, "bm", BM25),
    )

    def _hits(df):
        return sorted(
            (r.query_id, r.doc_id, round(r.bm25, 6), r.rank)
            for r in df.collect()
        )

    got = _hits(bm25_query(wh, queries, table="bm", k=10))
    want = _hits(bm25_topk(corpus, queries, k=10))
    assert got == want and len(got) > 0

    # replay: membership anti-join leaves the index untouched
    n_docs = wh.read("bm__docs").count()
    v = wh.latest_version("bm__postings")
    index_ingest_stream(
        spark, src, corpus.schema, ckpt,
        lambda b: ingest_docs(wh, b, "bm", BM25),
    )
    assert wh.read("bm__docs").count() == n_docs
    assert wh.latest_version("bm__postings") == v
    assert _hits(bm25_query(wh, queries, table="bm", k=10)) == got


def test_trgm_ingest_stream_matches_batch_path(spark, tmp_path):
    """Two trigram document file waves through index_ingest_stream answer
    substring probes exactly like the scan over the union corpus;
    replay with the drained checkpoint appends nothing."""

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "a quick brown dog outpaces a quick fox"),
        (3, "lorem ipsum dolor sit amet"),
        (4, "abcd cdef bcd cde xyz"),
        (5, "abcdef embedded right here"),
        (6, "another quick brown paragraph about foxes"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pats = spark.createDataFrame(
        [(100, "quick brown"), (101, "abcdef"), (102, "zzz-absent")],
        ["pattern_id", "pattern"],
    )
    base = docs.filter(F.col("doc_id") <= 2)
    wave1 = docs.filter(F.col("doc_id").isin([3, 4]))
    wave2 = docs.filter(F.col("doc_id").isin([5, 6]))

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    build_lexical_index(wh, base, "tg", TRGM)

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    wave1.write.mode("append").parquet(src)
    index_ingest_stream(
        spark, src, docs.schema, ckpt,
        lambda b: ingest_docs(wh, b, "tg", TRGM),
    )
    wave2.write.mode("append").parquet(src)
    index_ingest_stream(
        spark, src, docs.schema, ckpt,
        lambda b: ingest_docs(wh, b, "tg", TRGM),
    )

    def _got():
        return sorted(
            (r.pattern_id, r.id)
            for r in trgm_query(wh, docs, pats, table="tg").collect()
        )

    want = sorted(
        (r.pattern_id, r.id) for r in substring_scan(docs, pats).collect()
    )
    assert _got() == want and (101, 5) in want

    # replay: nothing appends, answers unchanged
    n = wh.read("tg__postings").count()
    index_ingest_stream(
        spark, src, docs.schema, ckpt,
        lambda b: ingest_docs(wh, b, "tg", TRGM),
    )
    assert wh.read("tg__postings").count() == n
    assert _got() == want


def test_index_delete_stream_tombstones_all_three(spark, emb, docs, tmp_path):
    """index_delete_stream: id file waves drained through one
    checkpoint tombstone the target index exactly like batch
    delete calls — queries exclude them immediately — for all three
    index kinds; an unknown kind refuses loudly."""

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    build_ann_index(wh, emb, "idx", centroid_stride=40, refine_iters=1)
    corpus = docs.filter(F.col("doc_id") >= 25)
    queries = docs.filter(F.col("doc_id") < 25).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    build_lexical_index(wh, corpus, "bm", BM25)
    build_lexical_index(wh, corpus, "tg", TRGM)

    dead_vecs = [r.vec_id for r in emb.limit(4).collect()]
    dead_docs = [r.doc_id for r in corpus.limit(4).collect()]

    # one id-file source per index kind, each drained twice (two waves)
    def _drain_ids(kind, table, ids, col):
        src = str(tmp_path / f"src_{kind}")
        ckpt = str(tmp_path / f"ckpt_{kind}")
        half = len(ids) // 2
        sch = f"{col} long"
        spark.createDataFrame([(i,) for i in ids[:half]], sch).write.mode(
            "append"
        ).parquet(src)
        index_delete_stream(spark, src, sch, wh, ckpt, kind, table=table)
        spark.createDataFrame([(i,) for i in ids[half:]], sch).write.mode(
            "append"
        ).parquet(src)
        index_delete_stream(spark, src, sch, wh, ckpt, kind, table=table)

    _drain_ids("ann", "idx", dead_vecs, "vec_id")
    _drain_ids("bm25", "bm", dead_docs, "doc_id")
    _drain_ids("trgm", "tg", dead_docs, "doc_id")

    probe = emb.filter(~F.col("vec_id").isin(dead_vecs)).limit(3)
    hits = {
        r.vec_id for r in ann_query(wh, probe, "idx", k=5, nprobe=3).collect()
    }
    assert hits and not hits & set(dead_vecs)
    bm_hits = {
        r.doc_id for r in bm25_query(wh, queries, table="bm", k=10).collect()
    }
    assert bm_hits and not bm_hits & set(dead_docs)
    pats = spark.createDataFrame([(1, "the")], ["pattern_id", "pattern"])
    tg_hits = {
        r.id for r in trgm_query(wh, docs, pats, table="tg").collect()
    }
    assert tg_hits and not tg_hits & set(dead_docs)

    with pytest.raises(ValueError, match="unknown index kind"):
        index_delete_stream(
            spark, str(tmp_path / "x"), "doc_id long",
            wh, str(tmp_path / "cx"), "nope",
        )


def test_index_lifecycle_end_to_end(spark, docs, tmp_path):
    """The complete lifecycle every persisted index now supports,
    composed on the BM25 index: one-shot build -> streaming file-wave
    ingest -> streaming tombstone retraction -> maintenance (tombstone
    fold + strict re-bucket with atomic generation publish) -> answers
    equal the one-shot index over the surviving corpus throughout."""

    corpus = docs.filter(F.col("doc_id") >= 25)
    queries = docs.filter(F.col("doc_id") < 25).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    build_lexical_index(wh, corpus.filter(F.col("doc_id") % 2 == 0), "bm", BM25)

    # streaming ingest of the other half
    src = str(tmp_path / "src")
    corpus.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(src)
    index_ingest_stream(
        spark, src, corpus.schema, str(tmp_path / "ck1"),
        lambda b: ingest_docs(wh, b, "bm", BM25),
    )

    # streaming retraction of a handful of ids
    dead = [r.doc_id for r in corpus.limit(5).collect()]
    dsrc = str(tmp_path / "dsrc")
    spark.createDataFrame([(i,) for i in dead], "doc_id long").write.mode(
        "append"
    ).parquet(dsrc)
    index_delete_stream(spark, dsrc, "doc_id long", wh, str(tmp_path / "ck2"),
                        "bm25", table="bm")

    def _hits(df):
        return sorted(
            (r.query_id, r.doc_id, round(r.bm25, 6), r.rank)
            for r in df.collect()
        )

    survivors = corpus.filter(~F.col("doc_id").isin(dead))
    want = _hits(bm25_topk(survivors, queries, k=10))
    assert _hits(bm25_query(wh, queries, table="bm", k=10)) == want

    # maintenance: folds the streamed tombstones, then a strict policy
    # re-buckets with the atomic generation publish — answers unchanged
    res = maintain_bucketed_index(wh, "bm", max_skew=1.0000001)
    assert not wh.exists("bm__deleted")
    assert res["rebuilt"] is True and wh.exists("bm__postings_g1")
    assert _hits(bm25_query(wh, queries, table="bm", k=10)) == want


def test_decontam_gate_stream_matches_batch_path(spark, emb, tmp_path):
    """Two embedding file waves drained through decontam_gate_stream
    land the same scores table as one batch semantic_decontaminate over
    the union, and a replay run with the drained checkpoint changes
    nothing (the scores are deterministic in the frozen eval set)."""
    from stock_bars_data_engineering_project_spark.operators.semantic import (
        semantic_decontaminate,
    )
    from stock_bars_data_engineering_project_spark.streaming.incremental import (
        decontam_gate_stream,
    )

    ev = emb.filter(F.col("vec_id") % 20 == 0)
    train = emb.filter(F.col("vec_id") % 20 != 0)
    wave1 = train.filter(F.col("vec_id") % 2 == 0)
    wave2 = train.filter(F.col("vec_id") % 2 == 1)

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    wave1.write.mode("append").parquet(src)
    decontam_gate_stream(spark, src, train.schema, wh, ev, ckpt)
    wave2.write.mode("append").parquet(src)
    decontam_gate_stream(spark, src, train.schema, wh, ev, ckpt)

    got = _rows(wh.read("decontam_scores"))
    want = _rows(semantic_decontaminate(train, ev))
    assert got == want

    # replay: a fresh drain over the same checkpoint commits nothing new
    before = wh.versions("decontam_scores")
    decontam_gate_stream(spark, src, train.schema, wh, ev, ckpt)
    assert _rows(wh.read("decontam_scores")) == want
    assert wh.versions("decontam_scores") == before
