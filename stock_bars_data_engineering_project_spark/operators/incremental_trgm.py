"""Persisted, incrementally maintained trigram substring index.

:func:`operators.trigram.substring_search` derives the posting lists
from the corpus inside the query plan — right for ad-hoc probes, wrong
for a serving loop that answers ``LIKE '%...%'`` requests all day
against a 100 TB corpus. This module is the substring analog of
``incremental_retrieval.py`` (same warehouse discipline, same crash
contract):

Tables, build/ingest/delete/maintenance and the crash contract are the
shared lexical lifecycle (``operators/index_maint.py``); this module
supplies the trigram batch transforms (:data:`TRGM`) and the query.
The postings carry (trigram, doc_id); the membership carries (doc_id).
A probe's scan set is the buckets of the PATTERN's own trigrams, a
driver-side literal IN bounded by the broadcast-small pattern set, so
the read is statically partition-pruned. The index stores NO text: the
``contains`` verify joins candidates back to the corpus table by id,
reading only the text column of matching rows.

Equivalence contract: postings are per-doc DISTINCT trigram sets —
batch-invariant — so ``trgm_query`` over a built+ingested index equals
``substring_search`` (and the plain scan) over the union corpus,
pinned in tests/test_trigram.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_bucket48
from ..session import local_frame
from ..sinks.warehouse import ParquetWarehouse
from .index_maint import (
    LexicalFamily,
    docs_table,
    not_deleted,
    postings_table,
    read_meta,
)
from .trigram import substring_scan, trigram_postings


def _batch_postings(batch: DataFrame, n_buckets: int) -> DataFrame:
    # repartition by bkt before the hive-partitioned write (small files)
    return (
        trigram_postings(batch)
        .select(
            md5_bucket48(F.col("trigram"), n_buckets).alias("bkt"),
            "trigram",
            F.col("id").alias("doc_id"),
        )
        .repartition("bkt")
    )


def _batch_members(batch: DataFrame) -> DataFrame:
    return batch.select("doc_id")


TRGM = LexicalFamily(_batch_postings, _batch_members)

# most pattern trigrams trgm_query broadcasts before it refuses
MAX_PATTERN_TRIGRAMS = 100_000


def trgm_query(
    wh: ParquetWarehouse,
    docs: DataFrame,
    patterns: DataFrame,
    table: str = "trgm_index",
) -> DataFrame:
    """Exact substring matches (pattern_id, id) answered from the
    STORED index — identical semantics and output to
    ``substring_search`` over the indexed corpus, with the in-plan
    posting build replaced by a statically-pruned postings scan.
    ``docs`` supplies the text for the ``contains`` verify (the index
    stores none) and for the sub-3-char scan fallback. Patterns are
    broadcast-small by module contract; ``MAX_PATTERN_TRIGRAMS`` makes
    that contract LOUD — an oversized pattern frame fails fast instead
    of silently building a huge broadcast + driver literal."""
    n_buckets = read_meta(wh, table)
    # Patterns are broadcast-small by module contract, so the WHOLE
    # pattern side runs on the driver from ONE collect. The Python
    # trigram expansion replicates char_ngrams exactly (both Java's
    # regex split("") and Python strings walk code points) and
    # md5_bucket48's first-12-hex-chars mod arithmetic.
    import hashlib

    pats_rows = [
        (r[0], r[1])
        for r in patterns.select("pattern_id", "pattern").collect()
    ]
    # NULL patterns fall out of BOTH arms
    short_rows = [
        (pid, p) for pid, p in pats_rows if p is not None and len(p) < 3
    ]
    tri_rows = []
    for pid, p in pats_rows:
        if p is None or len(p) < 3:
            continue
        tris = list(dict.fromkeys(p[i : i + 3] for i in range(len(p) - 2)))
        tri_rows.extend((pid, p, len(tris), t) for t in tris)
    # loud broadcast-contract guard (driver-side, no job)
    n_tri_total = len(tri_rows)
    if n_tri_total > MAX_PATTERN_TRIGRAMS:
        raise ValueError(
            f"trgm_query: pattern set expands to {n_tri_total} trigrams "
            f"(> MAX_PATTERN_TRIGRAMS={MAX_PATTERN_TRIGRAMS}) — patterns "
            "must stay broadcast-small; batch the pattern frame"
        )
    # driver-side probe-bucket literal: DISTINCT buckets, so bounded by
    # min(pattern trigram count, n_buckets) — never corpus-sized
    probe_bkts = sorted(
        {
            int(hashlib.md5(t.encode("utf-8")).hexdigest()[:12], 16)
            % n_buckets
            for _, _, _, t in tri_rows
        }
    )
    pid_type = patterns.schema["pattern_id"].dataType.simpleString()
    spark = patterns.sparkSession
    pat_tri = local_frame(
        spark,
        tri_rows,
        f"pattern_id {pid_type}, pattern string, n_tri int, trigram string",
    )
    # tombstones anti-join out on the already-pruned probe slice, not
    # the whole postings table (the bm25_query/ann_query discipline)
    postings = (
        not_deleted(
            wh,
            table,
            wh.read(postings_table(table))
            .filter(F.col("bkt").isin(probe_bkts))
            .join(
                F.broadcast(pat_tri.select("trigram").distinct()),
                "trigram",
                "left_semi",
            ),
            "doc_id",
        )
        # heals crashed-and-redelivered ingest duplicates on the pruned
        # probe slice (index_maint's Ingest contract)
        .dropDuplicates(["trigram", "doc_id"])
        .select("trigram", F.col("doc_id").alias("id"))
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
    if not short_rows:
        return verified
    short = local_frame(
        spark, short_rows, f"pattern_id {pid_type}, pattern string"
    )
    # the scan fallback answers over LIVE INDEX MEMBERS only (the
    # caller's corpus frame semi-joined against tombstone-free
    # membership): the indexed arm's answer surface is exactly the live
    # members, and the fallback must match it — otherwise a deleted or
    # never-ingested doc would match sub-3-char patterns while being
    # invisible to every indexed probe
    members = not_deleted(wh, table, wh.read(docs_table(table)), "doc_id")
    live_docs = docs.join(
        members, docs["doc_id"] == members["doc_id"], "left_semi"
    )
    fallback = substring_scan(
        live_docs,
        short,
    )
    return verified.unionByName(fallback)
