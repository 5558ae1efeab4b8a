"""Incremental near-duplicate ingestion — dedup a NEW batch against an
already-deduped corpus without recomputing the corpus.

The batch analog of the reference's incremental upsert loop (SURVEY
§2.8), applied to the dedup problem: at 100 TB you cannot re-shingle
and re-hash the whole corpus per arriving batch. The corpus keeps a
persisted MINHASH BAND INDEX — (doc_id, band_idx, band_key), a few
short rows per document. A new batch then costs:

  1. band keys for the batch only (the expensive hashing, batch-sized);
  2. candidates = batch-bands ⋈ stored-index on (band_idx, band_key)
     (shuffle keyed on band keys, both sides skinny)
     plus in-batch bucket pairs;
  3. exact-Jaccard verify — shingles re-derived for the batch and for
     ONLY the matched corpus docs (a semi-join-sized re-read);
  4. survivors append to the corpus, their band keys to the index.

Within-batch duplicate chains collapse via connected components
(dedup_clusters); batch docs matching any retained corpus doc drop.

Contract: ``doc_id`` identifies immutable content (content-addressed or
append-only ids, the norm for corpus ingestion). Re-ingesting an
existing doc_id with DIFFERENT text updates the corpus row via merge
but leaves the old content's band rows in the index — stale candidates
that waste verify work and never self-heal (the heal only detects
absent ids). Mutable-content ingestion needs a delete-then-insert index
maintenance step this module deliberately does not pay for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import materialize
from ..session import local_frame

from ..sinks.warehouse import ParquetWarehouse
from .dedup import (
    _bucket_pairs,
    _shingled,
    dedup_clusters,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
)
from ..functions.hashing import lsh_band_hashes
from ..functions.scalars import round_half_up


# The stored corpus is hive-partitioned on a doc_id range shard and the
# shard rides in the merge key (sound — a doc_id's shard never changes),
# so the warehouse's partition-pruned merge rewrites ONLY the shards a
# batch lands in and hardlinks the rest forward: the corpus commit is
# O(batch) PHYSICALLY, not just computationally (the x64
# refresh soak caught the unpartitioned merge rewriting the whole
# text-bearing corpus per 600-doc batch). Monotone ingest ids cluster,
# so a batch typically touches one shard.
_CORPUS_SHARD_DOCS = 1_000_000

# storage-layout/metadata columns the corpus table carries beyond the
# ingested document schema; stripped at every module boundary
_CORPUS_META_COLS = ("_shard", "_h")


def _sharded(df: DataFrame) -> DataFrame:
    """Attach the storage columns written once per document: the range
    shard (pruned-merge key) and the content md5 — computed here so the
    exact cross-batch dedup reads a 32-char column instead of re-md5ing
    every stored text per batch (an O(corpus) compute the x64 soak
    showed dominating the replay floor)."""
    return df.withColumn(
        "_shard",
        F.floor(F.col("doc_id") / F.lit(_CORPUS_SHARD_DOCS)).cast("long"),
    ).withColumn("_h", F.md5(F.col("text")))


def band_index(df: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_key) — the persistable LSH fingerprint.
    O(bands) short rows per doc; the full text never needs re-hashing
    once indexed."""
    sig = minhash_signatures(_shingled(df))
    return sig.select(
        "doc_id",
        F.posexplode(lsh_band_hashes(F.col("sig"))).alias("band_idx", "band_key"),
    )


def _verify_pairs(
    cand: DataFrame,
    left_docs: DataFrame,
    right_docs: DataFrame,
) -> DataFrame:
    """Exact-Jaccard gate over (doc_a from left, doc_b from right).

    Each side is SEMI-JOINED to the candidate ids BEFORE shingling:
    Catalyst will not push an equi-join below the expensive
    word_shingles projection, so without the pre-filter a tiny batch
    would re-shingle the entire corpus side — the exact cost this
    module's band index exists to avoid. With it, shingling is
    candidate-set-sized on both sides."""
    la = cand.select(F.col("doc_a").alias("doc_id")).distinct()
    lb = cand.select(F.col("doc_b").alias("doc_id")).distinct()
    sa = _shingled(left_docs.join(la, "doc_id", "left_semi")).select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    sb = _shingled(right_docs.join(lb, "doc_id", "left_semi")).select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    joined = cand.join(sa, "doc_a").join(sb, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    # same 4-decimal HALF_UP gate as minhash_lsh_pairs — an unrounded
    # ratio would disagree with the full-dedup path on borderline pairs
    return joined.filter(
        round_half_up(inter / union, 4) >= 0.7
    ).select("doc_a", "doc_b")


def ingest_batch(
    spark: SparkSession,
    wh: ParquetWarehouse,
    new_docs: DataFrame,
    corpus_table: str = "corpus_docs",
    index_table: str = "corpus_bands",
    return_survivors: bool = False,
) -> dict[str, int] | tuple[dict[str, int], DataFrame]:
    """Dedup ``new_docs`` against themselves AND the stored corpus, then
    commit survivors + their band keys. Returns per-stage counts; with
    ``return_survivors`` also the batch's newly retained docs (the
    delta a composed refresh pipeline feeds its downstream stages —
    batch-sized, already materialized, so the caller re-runs nothing)."""
    counts = {"batch_raw": new_docs.count()}

    batch = exact_dedup(new_docs)
    # storage columns are a layout detail — strip them so every consumer
    # below sees exactly the ingested document schema
    raw_corpus = wh.read(corpus_table) if wh.exists(corpus_table) else None
    corpus = (
        raw_corpus.drop(*_CORPUS_META_COLS) if raw_corpus is not None else None
    )
    if raw_corpus is not None:
        # exact cross-batch: same content hash as any retained doc. The
        # hash column was persisted at commit time, so this reads one
        # skinny column — only the BATCH pays an md5 (older corpora
        # without the column fall back to hashing in-plan)
        stored_h = (
            raw_corpus.select("_h")
            if "_h" in raw_corpus.columns
            else raw_corpus.select(F.md5("text").alias("_h"))
        )
        batch = batch.join(
            stored_h.distinct(),
            F.md5(batch["text"]) == F.col("_h"),
            "left_anti",
        )
    counts["after_exact"] = batch.count()

    if corpus is None:
        # first batch: standard in-batch near-dedup
        clusters = dedup_clusters(minhash_lsh_pairs(batch))
        drops = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
        survivors = materialize(batch.join(drops, "doc_id", "left_anti"))
        counts["survivors"] = survivors.count()
        wh.overwrite(
            _sharded(survivors), corpus_table, partition_by=("_shard",)
        )
        wh.overwrite(band_index(survivors), index_table)
        _mark_synced(
            spark, wh, f"{index_table}__sync",
            wh.latest_version(corpus_table),
        )
        return (counts, survivors) if return_survivors else counts
    # Self-heal: the corpus and index commit as two warehouse
    # transactions; a crash between them leaves corpus docs unindexed
    # (invisible to every future near-dup check) — or, after a
    # first-batch crash, no index table at all. The heal itself is a
    # corpus-ids anti-join, so it is GATED on the ``__sync`` marker
    # (one row: the corpus version the index last covered — committed
    # AFTER the index, so any crash leaves it behind, never ahead): in
    # normal operation the marker matches and the heal costs one 1-row
    # read instead of an O(corpus) id shuffle per batch (the x64 soak's
    # replay floor). On mismatch the missing set is batch-sized after a
    # crash, corpus-sized only in the missing-table case (a full index
    # rebuild, which is exactly first-batch cost).
    sync_table = f"{index_table}__sync"
    corpus_v = wh.latest_version(corpus_table)
    in_sync = (
        wh.exists(sync_table)
        and wh.read(sync_table).first()["corpus_version"] == corpus_v
    )
    if not wh.exists(index_table):
        wh.overwrite(band_index(corpus), index_table)
        _mark_synced(spark, wh, sync_table, corpus_v)
    elif not in_sync:
        missing = corpus.join(
            wh.read(index_table).select("doc_id").distinct(),
            "doc_id",
            "left_anti",
        )
        # Gate the heal append on the missing docs' BANDS being
        # non-empty, not on the doc set: documents shorter than k words
        # shingle to nothing and can never be indexed, so they sit in
        # the missing set forever — an append gated on them would
        # rewrite the index snapshot every batch while adding zero rows.
        fresh = band_index(missing)
        if fresh.limit(1).count():
            wh.append(fresh, index_table)
        _mark_synced(spark, wh, sync_table, corpus_v)
    index = wh.read(index_table)
    new_bands = band_index(batch).transform(materialize)

    # batch-vs-corpus candidates via the stored index (no corpus re-hash)
    cand_bc = (
        new_bands.alias("nb")
        .join(
            index.alias("ix"),
            (F.col("nb.band_idx") == F.col("ix.band_idx"))
            & (F.col("nb.band_key") == F.col("ix.band_key")),
        )
        .select(
            F.col("nb.doc_id").alias("doc_a"), F.col("ix.doc_id").alias("doc_b")
        )
        .distinct()
    )
    dup_of_corpus = (
        _verify_pairs(cand_bc, batch, corpus)
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
    )
    # truncate lineage: the band-index join and verify shingling above
    # must not recompute under the in-batch pass and the final merge
    batch = batch.join(dup_of_corpus, "doc_id", "left_anti").transform(
        materialize
    )
    counts["after_corpus_neardup"] = batch.count()

    # in-batch candidates among the remaining docs
    remaining_bands = new_bands.join(batch.select("doc_id"), "doc_id", "left_semi")
    cand_bb = _bucket_pairs(remaining_bands, ["band_idx", "band_key"], "doc_id").select(
        F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b")
    )
    pairs_bb = _verify_pairs(cand_bb, batch, batch)
    clusters = dedup_clusters(pairs_bb)
    drops = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    survivors = materialize(batch.join(drops, "doc_id", "left_anti"))
    counts["survivors"] = survivors.count()

    if counts["survivors"]:
        if "_shard" in raw_corpus.columns:
            wh.merge(
                _sharded(survivors),
                corpus_table,
                keys=("_shard", "doc_id"),
                partition_by=("_shard",),
            )
        else:
            # older corpus without the shard column: keep the
            # legacy unsharded merge — correctness identical, commit
            # O(table) as it was before the shard landed
            wh.merge(survivors, corpus_table, keys=("doc_id",))
        # reuse the already-computed band keys (checkpointed above) —
        # re-running band_index would pay the 16-seed hashing twice
        survivor_bands = new_bands.join(
            survivors.select("doc_id"), "doc_id", "left_semi"
        )
        wh.append(survivor_bands, index_table)
        # marker commits LAST: a crash anywhere above leaves it stale,
        # which is exactly what re-arms the heal on the next ingest
        _mark_synced(
            spark, wh, sync_table, wh.latest_version(corpus_table)
        )
    return (counts, survivors) if return_survivors else counts


def _mark_synced(
    spark: SparkSession, wh: ParquetWarehouse, sync_table: str, corpus_v: str
) -> None:
    """Record the corpus version the band index now covers — the 1-row
    marker that lets every in-sync ingest skip the heal anti-join."""
    wh.overwrite(
        local_frame(spark, [(corpus_v,)], "corpus_version string"),
        sync_table,
    )
