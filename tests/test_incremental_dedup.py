"""Incremental near-dup ingestion against a persisted band index."""

from __future__ import annotations

from pyspark.sql import functions as F

from stock_bars_data_engineering_project_spark.operators.incremental_dedup import (
    ingest_batch,
)
from stock_bars_data_engineering_project_spark.sinks.warehouse import ParquetWarehouse

BASE_TEXT = (
    "the quick brown fox jumps over the lazy dog while the rain "
    "falls gently on the quiet green meadow beside the old stone bridge"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_ingest_drops_cross_batch_dups(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path))

    batch1 = _docs(
        spark,
        [
            (1, BASE_TEXT),
            (2, "completely different words about ships and harbors and tides"
                " rolling past the lighthouse every single evening in autumn"),
            (3, BASE_TEXT),  # exact dup of 1 within batch
        ],
    )
    c1, _ = ingest_batch(spark, wh, batch1)
    assert c1["survivors"] == 2  # 1 and 2; 3 collapsed

    batch2 = _docs(
        spark,
        [
            (10, BASE_TEXT),  # exact dup of retained doc 1
            (11, BASE_TEXT.replace("lazy", "sleepy")),  # near-dup of doc 1
            (12, "a wholly novel document mentioning telescopes comets and"
                 " the slow drift of winter constellations over the valley"),
            (13, "a wholly novel document mentioning telescopes comets and"
                 " the slow drift of winter constellations over the valley at night"),
            # 13 is a near-dup of 12 (within batch): keeper = 12
        ],
    )
    c2, _ = ingest_batch(spark, wh, batch2)
    assert c2["batch_raw"] == 4
    assert c2["after_exact"] == 3  # 10 dropped via content hash
    assert c2["after_corpus_neardup"] == 2  # 11 dropped via band index
    assert c2["survivors"] == 1  # 12 kept, 13 clustered under it

    corpus = wh.read("corpus_docs")
    ids = {r.doc_id for r in corpus.select("doc_id").collect()}
    assert ids == {1, 2, 12}
    # index covers exactly the retained docs
    idx_ids = {r.doc_id for r in wh.read("corpus_bands").select("doc_id").distinct().collect()}
    assert idx_ids == {1, 2, 12}


def test_incremental_matches_full_dedup_on_chain_free_corpus(spark, tmp_path):
    """When near-dup relations don't chain across batches through
    dropped docs, two-batch ingestion must retain exactly the docs the
    full-corpus dedup retains (keeper = lowest id, batch1 ids lower)."""
    from stock_bars_data_engineering_project_spark.operators.dedup import (
        dedup_clusters,
        exact_dedup,
        minhash_lsh_pairs,
    )
    from stock_bars_data_engineering_project_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    full = exact_dedup(docs)
    clusters = dedup_clusters(minhash_lsh_pairs(full))
    drops = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    full_ids = {
        r.doc_id for r in full.join(drops, "doc_id", "left_anti").collect()
    }

    wh = ParquetWarehouse(spark, str(tmp_path))
    half = docs.agg(F.expr("percentile(doc_id, 0.5D)")).first()[0]
    ingest_batch(spark, wh, docs.filter(F.col("doc_id") <= half))
    ingest_batch(spark, wh, docs.filter(F.col("doc_id") > half))
    inc_ids = {r.doc_id for r in wh.read("corpus_docs").select("doc_id").collect()}

    # incremental may keep a doc the full pass dropped only through a
    # chain via a dropped doc; on this corpus the sets must agree
    assert inc_ids == full_ids


def test_index_self_heals_after_partial_commit(spark, tmp_path):
    """Simulate a crash between the corpus merge and the index append:
    the next ingest must reconcile the missing band keys so near-dups of
    the unindexed doc are still caught."""
    wh = ParquetWarehouse(spark, str(tmp_path))
    ingest_batch(spark, wh, _docs(spark, [(1, BASE_TEXT)]))

    # doc 2 lands in the corpus but its band keys are "lost" (crash):
    # in the real crash state the index append AND the __sync marker
    # write both never happened, so the marker still points at the
    # pre-merge corpus version — simulate both halves (round 10: the
    # heal is gated on the marker so in-sync ingests skip its
    # O(corpus-ids) anti-join)
    novel = ("all the ships sailed out beyond the grey harbor wall while "
             "gulls wheeled slowly over the cold morning tide")
    ingest_batch(spark, wh, _docs(spark, [(2, novel)]))
    index = wh.read("corpus_bands")
    wh.overwrite(index.filter(F.col("doc_id") != 2), "corpus_bands")
    wh.drop("corpus_bands__sync")

    # a near-dup of doc 2 arrives; without healing it would be ingested
    batch = _docs(spark, [(3, novel + " again tonight")])
    counts, _ = ingest_batch(spark, wh, batch)
    assert counts["after_corpus_neardup"] == 0  # caught via healed index
    ids = {r.doc_id for r in wh.read("corpus_docs").select("doc_id").collect()}
    assert ids == {1, 2}
    idx_ids = {
        r.doc_id
        for r in wh.read("corpus_bands").select("doc_id").distinct().collect()
    }
    assert idx_ids == {1, 2}  # doc 2's bands restored


def test_ingest_recovers_from_missing_index_table(spark, tmp_path):
    """Crash window: corpus snapshot committed, index write never
    happened. The next ingest must rebuild the index from the corpus and
    still drop near-dups against it — not raise."""
    wh = ParquetWarehouse(spark, str(tmp_path))
    c1, _ = ingest_batch(spark, wh, _docs(spark, [(1, BASE_TEXT)]))
    assert c1["survivors"] == 1
    wh.drop("corpus_bands")  # simulate the crash-after-corpus-commit state

    near = BASE_TEXT.replace("quick", "swift")
    c2, _ = ingest_batch(spark, wh, _docs(spark, [(2, near)]))
    assert c2["survivors"] == 0  # near-dup of doc 1, caught via rebuilt index
    assert wh.exists("corpus_bands")
    assert wh.read("corpus_bands").select("doc_id").distinct().count() == 1


def test_sub_k_word_doc_does_not_churn_index_versions(spark, tmp_path):
    """A corpus doc shorter than k words can never be indexed; the
    self-heal must not rewrite the index snapshot for it on every
    ingest."""
    wh = ParquetWarehouse(spark, str(tmp_path))
    ingest_batch(
        spark, wh, _docs(spark, [(1, BASE_TEXT), (2, "hi")])
    )  # doc 2: 1 word -> no shingles, unindexable
    v1 = wh.latest_version("corpus_bands")
    # a batch that adds nothing new to the index
    c, _ = ingest_batch(spark, wh, _docs(spark, [(3, BASE_TEXT)]))
    assert c["survivors"] == 0
    assert wh.latest_version("corpus_bands") == v1


def test_dedup_ingest_stream_matches_batch_path(spark, tmp_path):
    """Streaming dedup ingest (readStream + foreachBatch over
    ingest_batch): (a) drains two file waves through one checkpoint into
    the same surviving corpus as the two-call batch path; (b) a replay
    run with the drained checkpoint commits nothing (exactly-once)."""
    from stock_bars_data_engineering_project_spark.streaming.incremental import (
        dedup_ingest_stream,
    )

    wave1 = [
        (1, BASE_TEXT),
        (2, "completely different words about ships and harbors and tides"
            " rolling past the lighthouse every single evening in autumn"),
        (3, BASE_TEXT),  # in-wave exact dup
    ]
    wave2 = [
        (10, BASE_TEXT),  # exact dup of retained doc 1
        (11, BASE_TEXT + " extra"),  # near dup of doc 1
        (12, "entirely novel sentence mentioning telescopes and comets and"
             " the slow drift of winter constellations over the frozen bay"),
    ]
    schema = _docs(spark, wave1).schema

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    wh_s = ParquetWarehouse(spark, str(tmp_path / "wh_stream"))

    _docs(spark, wave1).write.mode("append").parquet(src)
    dedup_ingest_stream(spark, src, schema, wh_s, ckpt)
    _docs(spark, wave2).write.mode("append").parquet(src)
    dedup_ingest_stream(spark, src, schema, wh_s, ckpt)

    wh_b = ParquetWarehouse(spark, str(tmp_path / "wh_batch"))
    ingest_batch(spark, wh_b, _docs(spark, wave1))
    ingest_batch(spark, wh_b, _docs(spark, wave2))

    got = {r.doc_id for r in wh_s.read("corpus_docs").collect()}
    want = {r.doc_id for r in wh_b.read("corpus_docs").collect()}
    assert got == want
    assert got == {1, 2, 12}

    # replay with the fully-drained checkpoint: no new version, no rows
    v_before = {r.doc_id for r in wh_s.read("corpus_docs").collect()}
    dedup_ingest_stream(spark, src, schema, wh_s, ckpt)
    assert {r.doc_id for r in wh_s.read("corpus_docs").collect()} == v_before
