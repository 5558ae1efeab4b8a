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

Counts are stored RAW (no min_count prune): per-(bigram, epoch)
singletons must keep voting — a bigram appearing once per batch across
many batches is a real transition — and storing raw keeps the prune
threshold a read-time choice instead of a baked-in one.

Tokenization matches quality.bigram_surprisal exactly (lower-cased
whitespace tokens, empties dropped; zip_with adjacent pairing), so
``lm_state`` output feeds straight into its ``unigram_counts`` /
``bigram_counts`` parameters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import content_epoch
from ..functions.text import tokens


def _batch_lm_counts(
    batch: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """One batch's (token, n) and (prev, cur, n2) — the same derivation
    quality.bigram_surprisal performs on a self-modeled corpus.
    ``id_col`` is the column the batch-partitioning contract (see
    ingest_lm_batch) is keyed on; its presence is enforced here so a
    caller passing a batch without it fails loudly instead of silently
    ingesting rows the contract cannot cover."""
    if id_col not in batch.columns:
        raise ValueError(
            f"batch lacks id column {id_col!r} (columns: {batch.columns}); "
            "the epoch-log contract partitions the corpus by this column"
        )
    ltoks = F.filter(
        tokens(F.lower(F.col(text_col))), lambda t: t != F.lit("")
    )
    uni = (
        batch.select(F.explode(ltoks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bigrams = F.filter(
        F.zip_with(
            ltoks,
            F.slice(ltoks, 2, F.size(ltoks)),
            lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
        ),
        lambda s: s["cur"].isNotNull(),
    )
    bi = (
        batch.select(F.explode(bigrams).alias("bg"))
        .select(F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur"))
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("n2"))
    )
    return uni, bi


def ingest_lm_batch(
    wh,
    batch: DataFrame,
    uni_table: str = "lm_unigrams",
    bi_table: str = "lm_bigrams",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Fold one accepted batch into the persisted LM. Returns the
    content-addressed epoch id (a redelivery of the same batch lands
    the identical epoch — replay-idempotent by construction; pinned in
    tests). Batches must partition the accepted corpus by ``id_col``
    (append-only ids): the epoch-log mergeability contract."""
    uni, bi = _batch_lm_counts(batch, id_col, text_col)
    epoch = content_epoch(batch, id_col)
    # Epoch partitions are content-addressed, so a present partition is
    # BY CONTRACT identical to what this batch would write (append-only
    # ids, docs immutable under their id). Present => skip; absent =>
    # APPEND the one new partition (O(batch) manifest commit). The
    # crash-heal is order-independent: redelivery recomputes the same
    # epoch and appends only the missing table's partition.
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
    min_count: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """The combined frozen model: (token, n) and min_count-pruned
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
        .filter(F.col("n2") >= min_count)
    )
    return uni, bi
