"""Structured-Streaming incremental ingest: the reference's manual
"poll since checkpoint -> upsert -> advance watermark" loop (SURVEY
§2.8, C1-C4) expressed as streaming queries over warehouse sinks.

``readStream`` discovers new files; ``foreachBatch`` applies each
micro-batch through a replay-idempotent batch ingest (the reference's
Q9 healing property, but with the checkpointing, offset tracking, and
restart semantics supplied by the engine instead of hand-rolled SQL).
Structured Streaming's checkpointLocation replaces the reference's
``check_points`` table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sinks.warehouse import ParquetWarehouse


def _drain(spark: SparkSession, src_dir: str, schema, apply, checkpoint_dir: str):
    """The shared foreachBatch drain every ingest stream here runs:
    readStream over a file source, ``apply(batch, epoch_id)`` per
    micro-batch, offset checkpointing. The query drains the current
    backlog and stops (the scheduled-batch deployment shape).
    Exactly-once at the sink is the COMPOSITION contract each caller
    documents: the checkpoint gives at-least-once micro-batches, and
    the per-module batch ingest is replay-idempotent."""
    src = spark.readStream.schema(schema).parquet(src_dir)
    q = (
        src.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def rollup_maintenance_stream(
    spark: SparkSession,
    src_dir: str,
    schema,
    wh: ParquetWarehouse,
    table: str,
    checkpoint_dir: str = "",
):
    """Maintain a mergeable per-``user_id`` rollup (operators/rollup.py,
    sketch-extended with distinct ``event_id``) under Structured
    Streaming as an EPOCH LOG.

    Each micro-batch folds to a per-group increment tagged with its
    epoch id and lands via keyed merge into its own ``_epoch``
    partition. Idempotence under replay is structural: a re-delivered
    batch recomputes the identical increment and rewrites the SAME
    partition, so the at-least-once delivery of ``foreachBatch``
    degrades to exactly-once state — no read-modify-write of prior
    state inside the hot path, which would double-fold on replay and
    serialize every batch behind a full-table rewrite. Reading the
    rollup is a combine over epochs (``read_rollup_state``).
    """
    from ..operators.rollup import rollup_increment

    def _apply(batch: DataFrame, epoch_id: int) -> None:
        inc = rollup_increment(batch).withColumn("_epoch", F.lit(int(epoch_id)))
        wh.merge(
            inc,
            table,
            keys=("user_id", "day", "_epoch"),
            partition_by=("_epoch",),
        )

    return _drain(spark, src_dir, schema, _apply, checkpoint_dir)


def read_rollup_state(wh: ParquetWarehouse, table: str) -> DataFrame:
    """Read-time combine of the epoch log -> one state row per group.
    O(epochs) rows per group pre-combine."""
    from ..operators.rollup import combine_state

    return combine_state(wh.read(table).drop("_epoch"))


def dedup_ingest_stream(
    spark: SparkSession,
    src_dir: str,
    schema,
    wh: ParquetWarehouse,
    checkpoint_dir: str,
    corpus_table: str = "corpus_docs",
    index_table: str = "corpus_bands",
):
    """Streaming corpus ingest with near-duplicate rejection at the
    door: each micro-batch runs the persisted-band-index dedup
    transaction (operators/incremental_dedup.ingest_batch) — exact +
    MinHash-LSH against the stored corpus WITHOUT re-hashing it — and
    commits only the survivors.

    Exactly-once composition: the file-source offset checkpoint
    guarantees at-least-once micro-batch delivery, and ``ingest_batch``
    is replay-idempotent — a replayed batch's documents are already in
    the corpus, so the exact cross-batch anti-join removes every one of
    them and the replay commits nothing. Batch-split invariance (any
    micro-batching of the same files yields the same surviving corpus)
    is the two-batch ≡ full law pinned in
    ``test_incremental_dedup.py``, which is what makes the streaming
    form safe regardless of how the trigger slices the backlog.
    """
    from ..operators.incremental_dedup import ingest_batch

    def _apply(batch: DataFrame, epoch_id: int) -> None:
        ingest_batch(
            spark,
            wh,
            batch,
            corpus_table=corpus_table,
            index_table=index_table,
        )

    return _drain(spark, src_dir, schema, _apply, checkpoint_dir)


def corpus_refresh_stream(
    spark: SparkSession,
    src_dir: str,
    schema,
    wh: ParquetWarehouse,
    checkpoint_dir: str,
    benchmark: DataFrame,
    table: str = "training_corpus",
):
    """Streaming form of the COMPOSED corpus refresh: each
    micro-batch runs ``pipeline.corpus_pipeline.refresh_corpus`` — the
    whole product chain (persisted-band-index dedup -> frozen-benchmark
    decontamination -> scrub/quality gate/split -> pack continuation ->
    idempotent merge) — so documents landing as files flow into the
    published training corpus at O(batch) cost, end to end.

    ``benchmark`` is the PINNED eval release, captured once at stream
    start — exactly the frozen-benchmark contract that makes the batch
    refresh reproduce the one-shot (and the realistic one: eval suites
    do not grow with the crawl). Exactly-once composition is inherited
    stage by stage: the file-source checkpoint gives at-least-once
    micro-batches, ``ingest_batch`` dedups a replayed batch to an empty
    delta, and the publish step is a keyed MERGE — so a replay commits
    nothing. Pack continuity requires the same monotone-doc_id delivery
    order the batch law documents; a file source replays files in
    offset order, which preserves it."""
    from ..pipeline.corpus_pipeline import refresh_corpus

    def _apply(batch: DataFrame, epoch_id: int) -> None:
        refresh_corpus(
            spark,
            wh,
            batch,
            benchmark,
            table=table,
        )

    return _drain(spark, src_dir, schema, _apply, checkpoint_dir)


def pca_ingest_stream(
    spark: SparkSession,
    src_dir: str,
    schema,
    wh: ParquetWarehouse,
    checkpoint_dir: str,
    table: str = "pca_moments",
    dim: int = 64,
):
    """Streaming PCA-moment maintenance: each micro-batch's sufficient
    statistics fold into the content-addressed epoch log
    (operators/incremental_pca.ingest_pca_batch), so the projection /
    whitening model stays refittable from state while the corpus
    streams in — no history re-scan at any point.

    Exactly-once composition, the dedup_ingest_stream argument: the
    file-source offset checkpoint gives at-least-once micro-batch
    delivery, and a replayed batch derives the identical content
    address and rewrites the identical epoch partition — a bit-level
    no-op. Moments are exactly additive, so ANY micro-batching of the
    same files yields a combined state equal to the one-shot recount
    (n exactly; mean/covariance to addition-order rounding — the
    relative-1e-9 law the driver row flags).

    Empty micro-batches (a trigger firing with no new files) are
    skipped: there is nothing to address and nothing to add.
    """
    from ..operators.incremental_pca import ingest_pca_batch

    def _apply(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        ingest_pca_batch(
            wh, batch, table=table, dim=dim
        )

    return _drain(spark, src_dir, schema, _apply, checkpoint_dir)
