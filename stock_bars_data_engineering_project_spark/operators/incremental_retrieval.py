"""Persisted, incrementally maintained BM25 index.

:func:`bm25_topk` (operators/retrieval.py) re-tokenizes and re-counts
the whole corpus on every call — the right shape for ad-hoc mining,
and the wrong one for a serving/eval loop that issues queries all day
against a 100 TB corpus. This module is the lexical analog of
``incremental_ann.py``: the term statistics live in the warehouse,
new document batches fold in at O(batch) cost, and a query touches
only the postings partitions its own tokens hash into.

Tables, build/ingest/delete/maintenance and the crash contract are the
shared lexical lifecycle (``operators/index_maint.py``); this module
supplies the BM25 batch transforms (:data:`BM25`) and the query. The
postings carry (token, doc_id, tf, dl): ``dl`` is denormalized onto
each posting so scoring never joins a doc-stats table. A query's probe
set is the bucket ids of ITS OWN tokens, a driver-side literal IN list
bounded by the query vocabulary, so the scan is statically
partition-pruned. The membership carries (doc_id, dl). Corpus scalars
(n_docs, avgdl) are DERIVED from the live membership at query time with
one skinny partial-agg, never maintained incrementally, so no crash
window can leave them out of step with the tables they summarize. dl is
integral, so the sums are exact and avgdl = sum_dl / n_dl is one double
division however the corpus was batched (``bm25_topk``'s F.avg over the
same rows agrees to the ulp absorbed by the ranking round).

Equivalence contract: tf/dl/df are per-doc or per-token integer counts
— batch-invariant — so ``bm25_query`` over a built+ingested index
returns exactly ``bm25_topk`` over the union corpus (pinned in
tests/test_incremental_retrieval.py), while reading only the probed
buckets instead of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_bucket48
from ..functions.text import corpus_tokens
from ..session import local_frame
from ..sinks.warehouse import ParquetWarehouse
from .index_maint import (
    LexicalFamily,
    docs_table,
    not_deleted,
    postings_table,
    read_meta,
)
from .retrieval import _term_counts, score_topk


def _batch_postings(batch: DataFrame, n_buckets: int) -> DataFrame:
    # repartition by bkt before the hive-partitioned write: without it
    # every shuffle partition writes a sliver into every bucket dir
    return (
        _term_counts(batch, "doc_id")
        .select(
            md5_bucket48(F.col("token"), n_buckets).alias("bkt"),
            "token",
            F.col("id").alias("doc_id"),
            "tf",
            "dl",
        )
        .repartition("bkt")
    )


def _batch_doc_stats(batch: DataFrame) -> DataFrame:
    # zero-token docs have no postings but are still members, so the
    # membership cannot be derived from the postings
    return batch.select("doc_id", F.size(corpus_tokens()).alias("dl"))


BM25 = LexicalFamily(_batch_postings, _batch_doc_stats)


def bm25_query(
    wh: ParquetWarehouse,
    queries: DataFrame,
    table: str = "bm25_index",
) -> DataFrame:
    """Top-k BM25 per query against the STORED index — identical
    semantics and output schema to :func:`retrieval.bm25_topk` over the
    indexed corpus, with the corpus-side recompute replaced by a
    statically-pruned postings scan: the probe set is the md5 buckets
    of the query's own tokens (driver-side literal IN — bounded by the
    query vocabulary, the ann_query idiom), and document frequencies
    come from the probed partitions alone."""
    n_buckets = read_meta(wh, table)

    # ONE driver job for the whole query side: collect the
    # (query_id, token) pairs — query-set-sized by module contract — and
    # derive the probe-bucket literal in Python (md5_bucket48's
    # first-12-hex-chars arithmetic is byte-exact over the same UTF-8).
    # Tokenization itself stays in the JVM via _term_counts, so the
    # probe vocabulary can never diverge from the postings' tokens.
    import hashlib

    qrows = [
        (r[0], r[1])
        for r in _term_counts(queries, "query_id")
        .select("id", "token")
        .collect()
    ]
    probe_bkts = sorted(
        {
            int(hashlib.md5(t.encode("utf-8")).hexdigest()[:12], 16)
            % n_buckets
            for _, t in qrows
        }
    )
    qid_type = queries.schema["query_id"].dataType.simpleString()
    spark = queries.sparkSession
    qterms = local_frame(spark, qrows, f"query_id {qid_type}, token string")
    qvocab = local_frame(
        spark, [(t,) for t in sorted({t for _, t in qrows})], "token string"
    )
    postings = not_deleted(
        wh,
        table,
        wh.read(postings_table(table))
        .filter(F.col("bkt").isin(probe_bkts))
        .join(F.broadcast(qvocab), "token", "left_semi")
        # full-row dedup: heals the duplicated postings a crashed-and-
        # redelivered ingest can leave behind (tf/dl are deterministic
        # per doc, so duplicates are identical rows); runs on the
        # already-pruned probe slice, not the corpus
        .dropDuplicates(["token", "doc_id"]),
        "doc_id",
    )
    dfreq = postings.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    )
    # corpus scalars derived from LIVE membership (tombstones excluded),
    # never incrementally maintained (module docstring): exact integer
    # sums, one skinny partial-agg; avg matches bm25_topk's F.avg over
    # the same rows to the ulp the ranking round absorbs (NULL-text
    # docs have NULL dl — skipped by sum/count(dl), counted by n_docs —
    # on both paths)
    stats = not_deleted(wh, table, wh.read(docs_table(table)), "doc_id").agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl") / F.count("dl")).alias("avgdl"),
    )
    doc_terms = postings.select(
        F.col("doc_id").alias("id"), "dl", "token", "tf"
    )
    return score_topk(doc_terms, qterms, dfreq, stats)
