"""Trigram-index substring search over a document corpus.

``LIKE '%needle%'`` is the one common predicate nothing in a columnar
scan accelerates: parquet min/max stats, clustering, and dictionary
filters all key on prefixes or whole values, so a substring probe over
100 TB reads every text byte of every row, every time. The standard
engine answer (PostgreSQL ``pg_trgm`` GIN indexes, Lucene wildcard
queries) is a TRIGRAM inverted index: every document posts each
distinct 3-character substring once; a pattern of length >= 3 can only
occur in documents whose posting set contains ALL of the pattern's
trigrams, so the expensive ``contains`` verify touches the (usually
tiny) candidate set instead of the corpus.

Scale shape (corpus N docs, patterns q, q << N):

1. postings ``(trigram, id)`` are built with ``array_distinct`` BEFORE
   the explode — per-doc dedup is map-side, so the posting exchange
   carries each (doc, trigram) once however often the trigram repeats
   in the text. Trigrams come from the ``zip_with`` shifted-copy build
   (functions/text.word_shingles documents why: a
   ``transform(sequence(...), i -> substring(text, i, 3))`` lambda
   re-locates the character offset per index — quadratic in document
   length — while zipping shifted char arrays touches each character
   O(k) times);
2. pattern trigrams are a q x (len-2) frame BROADCAST into the posting
   scan — corpus postings matching no pattern trigram drop map-side
   (the same query-vocabulary discipline as operators/retrieval.py);
3. candidates are docs whose matched-distinct-trigram count equals the
   pattern's trigram count: ONE partial-aggregable groupBy over the
   semi-joined postings;
4. trigram containment is necessary but NOT sufficient ("abcd cdef"
   posts every trigram of "abcdef" without containing it), so a
   ``contains`` verify over the candidate rows is mandatory for
   exactness — candidates join back to the corpus by id, and with
   column pruning that probe reads only the text column of matching
   row groups. The driver gate compares this index path against a
   DuckDB full ``contains`` scan, pinning index ≡ scan end to end.

Patterns shorter than 3 characters have no trigram and fall back to
the honest broadcast scan (same contract as pg_trgm, which refuses
``gin_trgm_ops`` lookups below 3 chars); the fallback is a broadcast
nested-loop over the full corpus and is documented as such — the index
cannot help a 2-character probe.

On persistence: postings are an ordinary DataFrame, so at 100 TB they
land in the warehouse partitioned by a hash bucket of ``trigram`` and
are maintained incrementally exactly like the BM25 inverted index
(operators/incremental_retrieval.py) — new documents append their
postings without re-scanning the corpus. This module keeps the
build/probe algebra; tests pin the scan-equality law.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def char_ngrams(text: Column) -> Column:
    """Overlapping 3-character substrings as an array column; strings
    shorter than 3 yield an empty array. Shifted-copy ``zip_with``
    build — see module docstring for why not transform+substring."""
    chars = F.split(text, "")
    acc = chars
    for off in range(1, 3):
        acc = F.zip_with(
            acc,
            F.slice(chars, off + 1, F.size(chars)),
            lambda x, y: F.concat(x, y),
        )
    return F.filter(acc, lambda x: x.isNotNull())


def trigram_postings(docs: DataFrame) -> DataFrame:
    """(trigram, id) inverted index — one row per DISTINCT trigram per
    document (array_distinct runs map-side, before the explode)."""
    return docs.select(
        F.col("doc_id").alias("id"),
        F.explode(F.array_distinct(char_ngrams(F.col("text")))).alias(
            "trigram"
        ),
    )


def substring_scan(docs: DataFrame, patterns: DataFrame) -> DataFrame:
    """The unindexed baseline: broadcast the (small) pattern set and
    ``contains``-probe every corpus row. O(N x q) text scans — correct
    at any size, affordable only when no index exists. Returns
    (pattern_id, id) match rows."""
    return (
        docs.crossJoin(F.broadcast(patterns))
        .filter(F.contains(F.col("text"), F.col("pattern")))
        .select(
            F.col("pattern_id"),
            F.col("doc_id").alias("id"),
        )
    )


def substring_search(docs: DataFrame, patterns: DataFrame) -> DataFrame:
    """Exact substring matches (pattern_id, id) via the trigram index,
    whose postings are derived from ``docs`` in the same plan. Patterns
    below 3 characters take the documented scan fallback; everything
    else goes postings -> all-trigrams candidate gate -> contains
    verify.
    """
    pats = patterns.select(
        F.col("pattern_id"),
        F.col("pattern"),
    )
    short = pats.filter(F.length("pattern") < 3)
    indexed = pats.filter(F.length("pattern") >= 3)

    postings = trigram_postings(docs)

    # q x (len-2) rows: every pattern's distinct trigrams + how many a
    # candidate must match. Broadcast — the posting scan drops
    # non-pattern trigrams map-side.
    pat_tri = indexed.select(
        "pattern_id",
        "pattern",
        F.array_distinct(char_ngrams(F.col("pattern"))).alias("_tris"),
    ).select(
        "pattern_id",
        "pattern",
        F.size("_tris").alias("n_tri"),
        F.explode("_tris").alias("trigram"),
    )

    candidates = (
        postings.join(F.broadcast(pat_tri), "trigram")
        .groupBy("pattern_id", "pattern", "n_tri", "id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .filter(F.col("n_hit") == F.col("n_tri"))
        .select("pattern_id", "pattern", "id")
    )

    verified = (
        candidates.join(
            docs.select(
                F.col("doc_id").alias("id"), F.col("text").alias("_text")
            ),
            "id",
        )
        .filter(F.contains(F.col("_text"), F.col("pattern")))
        .select("pattern_id", "id")
    )

    # Driver-side probe of the SMALL pattern frame (patterns are
    # broadcast everywhere in this module — bounded by contract, like
    # BPE candidate batches): without it the fallback's crossJoin stays
    # in the plan even when every pattern is indexable, and a
    # BroadcastNestedLoopJoin with an empty build side still SCANS the
    # corpus stream side — a full wasted pass at 100 TB. Found by the
    # PLANS.md audit (bm25 row grew an NLJ after this arm landed).
    if short.limit(1).count() == 0:
        return verified

    fallback = substring_scan(
        docs,
        short,
    )
    return verified.unionByName(fallback)
