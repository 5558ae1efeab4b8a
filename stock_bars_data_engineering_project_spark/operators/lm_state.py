"""Incrementally maintained n-gram language-model state — the persisted
counterpart of operators/quality.bigram_surprisal's frozen-model mode.

At 100 TB the surprisal gate scores incoming batches against a FIXED
reference LM (a batch of correlated garbage must not normalize itself),
and the reference model itself grows as new TRUSTED data is accepted.
This module maintains that model incrementally: each accepted batch's
unigram and bigram counts land in their own content-addressed epoch
partition (the exactly-once-under-at-least-once epoch-log discipline: a
redelivered batch derives the identical epoch, finds its partition
present and writes nothing, so there is no read-modify-write crash
window), and the combined state is a pure epoch-sum read. Counts are
exact integers, so the combined model equals a full recount of every
accepted batch however deliveries were sliced.

Counts are stored RAW (no BIGRAM_MIN_COUNT prune): per-(bigram, epoch)
singletons must keep voting — a bigram appearing once per batch across
many batches is a real transition — and storing raw keeps the prune
threshold a read-time choice instead of a baked-in one.

Counts come from the corpus word model quality.bigram_surprisal uses
(``quality.word_counts`` / ``quality.adjacent_pairs``), so ``lm_state``
output feeds straight into its ``unigram_counts`` / ``bigram_counts``
parameters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import content_epoch
from . import quality


def _batch_lm_counts(batch: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One batch's (token, n) and (prev, cur, n2) — the same derivation
    quality.bigram_surprisal performs on a self-modeled corpus.
    ``doc_id`` is the column the batch-partitioning contract (see
    ingest_lm_batch) is keyed on; its presence is enforced here so a
    caller passing a batch without it fails loudly instead of silently
    ingesting rows the contract cannot cover."""
    if "doc_id" not in batch.columns:
        raise ValueError(
            f"batch lacks id column 'doc_id' (columns: {batch.columns}); "
            "the epoch-log contract partitions the corpus by this column"
        )
    uni = quality.word_counts(batch)
    bi = (
        quality.adjacent_pairs(batch)
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("n2"))
    )
    return uni, bi


def ingest_lm_batch(
    wh,
    batch: DataFrame,
    uni_table: str = "lm_unigrams",
    bi_table: str = "lm_bigrams",
) -> str:
    """Fold one accepted batch into the persisted LM. Returns the
    content-addressed epoch id (a redelivery of the same batch lands
    the identical epoch — replay-idempotent by construction; pinned in
    tests). Batches must partition the accepted corpus by ``doc_id``
    (append-only ids): the epoch-log mergeability contract."""
    uni, bi = _batch_lm_counts(batch)
    epoch = content_epoch(batch, "doc_id")
    # Epoch partitions are content-addressed, so a present partition is
    # BY CONTRACT identical to what this batch would write (append-only
    # ids, docs immutable under their id). Present => skip; absent =>
    # APPEND the one new partition (O(batch) write, prior files
    # hardlinked). The crash-heal is order-independent: redelivery
    # recomputes the same epoch and appends only the missing table's
    # partition.
    for df, table in ((uni, uni_table), (bi, bi_table)):
        if not wh.has_partition(table, "_epoch", epoch):
            wh.append(
                df.withColumn("_epoch", F.lit(epoch)),
                table,
                partition_by=("_epoch",),
            )
    return epoch


def lm_state(
    wh,
    uni_table: str = "lm_unigrams",
    bi_table: str = "lm_bigrams",
) -> tuple[DataFrame, DataFrame]:
    """The combined frozen model: (token, n) and BIGRAM_MIN_COUNT-pruned
    (prev, cur, n2) over every accepted epoch — feed straight into
    ``bigram_surprisal(batch, unigram_counts=uni, bigram_counts=bi)``.
    Pruning happens HERE (read time), on the summed counts."""
    uni = (
        wh.read(uni_table)
        .groupBy("token")
        .agg(F.sum("n").alias("n"))
    )
    bi = (
        wh.read(bi_table)
        .groupBy("prev", "cur")
        .agg(F.sum("n2").alias("n2"))
        .filter(F.col("n2") >= quality.BIGRAM_MIN_COUNT)
    )
    return uni, bi
