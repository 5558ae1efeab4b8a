"""Persisted incremental BM25 index: build+ingest ≡ one-shot recompute,
replay-idempotent ingest, static bucket pruning on the probe scan."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from stock_bars_data_engineering_project_spark.operators.incremental_retrieval import (
    BM25,
    bm25_query,
)
from stock_bars_data_engineering_project_spark.operators.index_maint import (
    BUCKETED,
    apply_deletes,
    build_lexical_index,
    delete_ids,
    ingest_docs,
    postings_table,
)
from stock_bars_data_engineering_project_spark.operators.retrieval import bm25_topk
from stock_bars_data_engineering_project_spark.sinks.warehouse import ParquetWarehouse

SF = "/root/testdata/sf0.001"


def _corpus_and_queries(spark):
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet")).select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") >= 25)
    queries = docs.filter(F.col("doc_id") < 25).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    return corpus, queries


def _rows(df):
    return sorted(
        (r.query_id, r.doc_id, round(r.bm25, 6), r.rank) for r in df.collect()
    )


def test_build_ingest_query_matches_one_shot(spark, tmp_path):
    """Index built on the even-id half + odd-id half ingested must
    answer queries exactly like bm25_topk over the full corpus."""
    corpus, queries = _corpus_and_queries(spark)
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    build_lexical_index(wh, corpus.filter(F.col("doc_id") % 2 == 0), "bm", BM25)
    n = ingest_docs(wh, corpus.filter(F.col("doc_id") % 2 == 1), "bm", BM25)
    assert n == corpus.filter(F.col("doc_id") % 2 == 1).count()

    got = _rows(bm25_query(wh, queries, table="bm"))
    want = _rows(bm25_topk(corpus, queries))
    assert got == want and len(got) > 0


def test_ingest_replay_is_noop(spark, tmp_path):
    """Re-delivering an already-indexed batch appends nothing and
    leaves meta (and therefore every score) untouched — at-least-once
    delivery degrades to exactly-once."""
    corpus, queries = _corpus_and_queries(spark)
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    half = corpus.filter(F.col("doc_id") % 2 == 0)
    build_lexical_index(wh, half, "bm", BM25)
    before = _rows(bm25_query(wh, queries, table="bm"))
    assert ingest_docs(wh, half, "bm", BM25) == 0
    assert wh.read("bm__docs").count() == half.count()
    assert _rows(bm25_query(wh, queries, table="bm")) == before


def test_probe_scan_is_bucket_pruned(spark, tmp_path):
    """The postings scan must carry the probe buckets as PARTITION
    filters (static pruning), and a single-token query must read
    strictly fewer partitions than exist."""
    corpus, queries = _corpus_and_queries(spark)
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    build_lexical_index(wh, corpus, "bm", BM25)
    one_q = queries.limit(1).select(
        "query_id", F.lit("scan").alias("text")
    )
    import re

    plan = (
        bm25_query(wh, one_q, table="bm")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the postings FileScans must carry the probe bucket as a PARTITION
    # filter (e.g. "PartitionFilters: [isnotnull(bkt#69), (bkt#69 = 0)]")
    assert re.search(r"PartitionFilters: \[isnotnull\(bkt#\d+\)", plan), plan[:2000]


def test_crash_window_duplicate_postings_heal(spark, tmp_path):
    """Simulate a crash between the postings append and the docs
    append: the batch's postings are on disk but its docs rows are not.
    Redelivery re-appends the postings (duplicates) plus the docs rows;
    the query path's full-row dedup must heal to the one-shot answer."""
    corpus, queries = _corpus_and_queries(spark)
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    even = corpus.filter(F.col("doc_id") % 2 == 0)
    odd = corpus.filter(F.col("doc_id") % 2 == 1)
    build_lexical_index(wh, even, "bm", BM25)
    # crash simulation: postings landed, membership did not
    wh.append(BM25.postings(odd, 64), postings_table("bm"))
    # redelivery: anti-join sees no membership, ingests the whole batch
    assert ingest_docs(wh, odd, "bm", BM25) == odd.count()

    got = _rows(bm25_query(wh, queries, table="bm"))
    want = _rows(bm25_topk(corpus, queries))
    assert got == want


def test_null_doc_id_rejected_loudly(spark, tmp_path):
    corpus, _ = _corpus_and_queries(spark)
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    build_lexical_index(wh, corpus.limit(20), "bm", BM25)
    bad = spark.createDataFrame(
        [(None, "some text with tokens")], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="NULL doc_id"):
        ingest_docs(wh, bad, "bm", BM25)


def test_compaction_preserves_answers(spark, tmp_path):
    """Warehouse compaction of the append-accumulated postings (the
    small-files bound for a long-lived index) must not change any
    answer."""
    corpus, queries = _corpus_and_queries(spark)
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    build_lexical_index(wh, corpus.filter(F.col("doc_id") % 2 == 0), "bm", BM25)
    ingest_docs(wh, corpus.filter(F.col("doc_id") % 2 == 1), "bm", BM25)

    before = _rows(bm25_query(wh, queries, table="bm"))
    wh.compact("bm__postings")  # inherits the bkt hive layout
    assert _rows(bm25_query(wh, queries, table="bm")) == before


def test_tombstone_delete_and_apply(spark, tmp_path):
    """delete_ids tombstones: queries immediately equal the one-shot
    over the surviving corpus (scores, df, and avgdl all exclude the
    deleted docs); deletion is idempotent; apply_deletes folds the
    tombstones physically (bkt layout preserved) with answers
    unchanged, after which the id may be re-ingested."""
    corpus, queries = _corpus_and_queries(spark)
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    build_lexical_index(wh, corpus, "bm", BM25)

    dead_ids = [r.doc_id for r in corpus.limit(40).collect()][:25]
    survivors = corpus.filter(~F.col("doc_id").isin(dead_ids))
    dead = corpus.filter(F.col("doc_id").isin(dead_ids)).select("doc_id")
    delete_ids(wh, dead, "bm", BUCKETED)
    # idempotent re-delete
    delete_ids(wh, dead.filter(F.col("doc_id").isin(dead_ids[:5])), "bm", BUCKETED)

    want = _rows(bm25_topk(survivors, queries))
    assert _rows(bm25_query(wh, queries, table="bm")) == want
    # tombstoned ids are dead to re-ingest until physically applied
    assert ingest_docs(wh, corpus.filter(F.col("doc_id").isin(dead_ids[:3])),
                       "bm", BM25) == 0

    apply_deletes(wh, "bm", BUCKETED)
    assert _rows(bm25_query(wh, queries, table="bm")) == want
    assert not wh.exists("bm__deleted")
    # physical apply preserved the hive layout: a single-token probe
    # still prunes statically (multi-token queries print an IN-list
    # partition filter without the isnotnull this regex keys on)
    import re
    one_q = queries.limit(1).select("query_id", F.lit("scan").alias("text"))
    plan = (
        bm25_query(wh, one_q, table="bm")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert re.search(r"PartitionFilters: \[isnotnull\(bkt#\d+\)", plan)
    # after apply, a deleted id re-ingests as a fresh document
    assert ingest_docs(wh, corpus.filter(F.col("doc_id") == dead_ids[0]),
                       "bm", BM25) == 1
