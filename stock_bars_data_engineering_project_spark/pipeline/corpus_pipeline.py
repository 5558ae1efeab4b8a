"""Training-corpus preparation pipeline — the composed product path.

The reference's pipeline (stock_pipeline.py) shows the orchestration
shape: extract -> transform -> load -> derived rebuild, checkpointed.
This module applies the same shape to the engine's training-data
operators, in the order a real corpus build runs them:

    raw documents
      0. optional Gopher rule gate (map-only heuristic filter — the
                                   cheapest stage, so it runs FIRST,
                                   before anything shuffles;
                                   off by default)
      1. exact dedup              (drop byte-identical copies)
      2. near-dup dedup           (MinHash-LSH pairs -> connected
                                   components -> canonical_selection
                                   keeps each cluster's BEST-quality
                                   member, not the lowest id)
      3. benchmark decontamination (drop docs overlapping the eval split)
      3b. optional boilerplate scrub (remove corpus-repeated k-gram
                                   spans from the surviving text —
                                   off by default)
      4. PII scrub                 (regex replace, audited)
      5. optional surprisal gate   (drop the worst tail by corpus-
                                   unigram-LM surprisal — off by default)
      5b. optional classifier gate (hashed linear quality classifier
                                   score floor — off by default)
      5c. optional alpha mixture   (temperature-rebalance the per-source
                                   mass — off by default; sits BEFORE
                                   the quality gate so the gate's
                                   observe() stays on a consumed-once
                                   linear chain)
      6. quality gate              (composite score threshold)
      7. stable train/val/test split
      8. token counts + sequence packing per (split, source) shard
      9. snapshot write, partitioned by split, + run-log row

Every stage is a pure DataFrame transform from the operator library —
the pipeline adds only ordering and bookkeeping, so it scales exactly
as its operators do. Stage row counts are collected once per stage
(driver-side scalars, the same pattern as the reference's A2 logging).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..materialize import materialize

from ..functions.quality_model import quality_scores
from ..functions.text import pii_scrub, quality_score, token_count
from ..operators.contamination import boilerplate_scrub, contamination_overlap
from ..operators.dedup import (
    canonical_selection,
    dedup_clusters,
    exact_dedup,
    minhash_lsh_pairs,
)
from ..operators.quality import (
    bigram_surprisal,
    gopher_panel,
    unigram_surprisal,
    word_counts,
)
from ..operators.sampling import alpha_mixture_sample, stable_split
from ..session import local_frame
from ..sinks.warehouse import ParquetWarehouse
from ..sources.readers import load_table



def prepare_corpus(
    docs: DataFrame,
    surprisal_keep_frac: float | None = None,
    surprisal_model: str = "unigram",
    boilerplate_df_cap: int | None = None,
    classifier_min_score: float | None = None,
    mixture_alpha: float | None = None,
    gopher: dict | None = None,
    keeper: str = "quality",
    benchmark: DataFrame | None = None,
) -> tuple[DataFrame, dict[str, int]]:
    """Run stages 1-8 and return (final corpus frame, per-stage counts).

    The benchmark used for decontamination is the deterministic
    doc_id % 20 == 0 slice (standing in for a real eval suite); those
    docs never enter the training corpus themselves. Pass ``benchmark``
    (a docs-shaped frame) to decontaminate against a FROZEN eval suite
    instead — the realistic deployment (an eval release is pinned
    before ingestion starts, it does not grow with the corpus), and the
    configuration under which an incremental refresh
    (:func:`refresh_corpus`) can reproduce this one-shot's output
    batch-by-batch. Benchmark ids are excluded from the training
    corpus either way.

    ``keeper`` picks the near-dup cluster keeper policy: ``"quality"``
    (default) keeps the best-quality member via canonical_selection;
    ``"first"`` keeps the lowest id — the order-invariant policy an
    incremental refresh with monotone ids reproduces exactly.

    ``surprisal_keep_frac`` (e.g. 0.9) switches on the unigram-LM gate:
    keep the fraction of documents with the LOWEST corpus-unigram
    surprisal (operators/quality.py), dropping the most-unusual tail —
    including token-less documents, which have no defined surprisal and
    nothing to train on. ``None`` (default) skips the stage entirely,
    leaving the plan untouched.

    ``boilerplate_df_cap`` (e.g. 5) switches on the corpus-level
    repeated-span scrub: 3-token spans appearing in >= cap distinct
    surviving docs are removed from every document's text
    (operators/contamination.boilerplate_scrub) BEFORE PII scrub and
    quality scoring, so downstream gates judge the cleaned text.

    ``classifier_min_score`` (e.g. 0.4) switches on the hashed linear
    quality-classifier gate (functions/quality_model.py): drop docs
    scoring below the floor. Feature-less docs have no score row and
    drop — same contract as the surprisal gate.

    ``mixture_alpha`` (e.g. 0.5) temperature-rebalances the per-source
    token mass right before splitting (operators/sampling.py
    alpha_mixture_sample) — 1.0 is a no-op natural distribution,
    smaller boosts rare sources toward parity.

    ``gopher`` (a threshold-override dict, ``{}`` for the paper's
    defaults) switches on the Gopher heuristic rule gate
    (operators/quality.gopher_panel) as stage 0: it is map-only, so it
    runs before anything shuffles and every later stage pays only for
    documents that pass. The paper thresholds assume prose; corpora
    like the synthetic test tables need overrides (e.g. lower
    ``min_words``, ``min_distinct_stopwords=0``).
    """
    counts: dict[str, int] = {"raw": docs.count()}

    if gopher is not None:
        docs = (
            gopher_panel(docs, **gopher)
            .filter(F.col("keep"))
            .select(*docs.columns)
        )
        counts["gopher_gated"] = docs.count()

    deduped = exact_dedup(docs)
    counts["exact_dedup"] = deduped.count()

    # keeper="quality": each near-dup cluster's best-quality member
    # (longest text), not merely the lowest id — canonical_selection's
    # keeper window. keeper="first": the lowest id (= cluster_id), the
    # order-invariant policy incremental refresh reproduces.
    clusters = dedup_clusters(minhash_lsh_pairs(deduped))
    if keeper == "quality":
        near_drops = canonical_selection(
            clusters, deduped
        ).filter(~F.col("keep")).select("doc_id")
    elif keeper == "first":
        near_drops = clusters.filter(
            F.col("doc_id") != F.col("cluster_id")
        ).select("doc_id")
    else:
        raise ValueError(
            f"keeper must be 'quality' or 'first', got {keeper!r}"
        )
    # truncate lineage here: everything upstream (shingling, 16-seed
    # MinHash, cluster iterations) would otherwise recompute on every
    # later stage count
    deduped = deduped.join(near_drops, "doc_id", "left_anti").transform(
        materialize
    )
    counts["near_dedup"] = deduped.count()

    if benchmark is None:
        bench_docs = deduped.filter(F.col("doc_id") % 20 == 0)
        corpus = deduped.filter(F.col("doc_id") % 20 != 0)
    else:
        bench_docs = benchmark
        corpus = deduped.join(
            benchmark.select("doc_id"), "doc_id", "left_anti"
        )
    contaminated = (
        contamination_overlap(corpus, bench_docs)
        .filter(F.col("contamination") > 0.5)
        .select("doc_id")
    )
    corpus = corpus.join(contaminated, "doc_id", "left_anti").transform(
        materialize
    )
    counts["decontaminated"] = corpus.count()

    if boilerplate_df_cap is not None:
        # corpus-level repeated-span removal on the SURVIVING corpus
        # (hot spans are counted after dedup/decontam so dropped docs
        # don't vote); the text column is replaced by the rebuilt clean
        # text. Two consumers of `corpus` (gram counting + the join
        # back), so checkpoint + explicit count like the other funnel
        # stages.
        clean = boilerplate_scrub(corpus, df_cap=boilerplate_df_cap).select(
            "doc_id", F.col("clean_text").alias("_clean")
        )
        corpus = (
            corpus.join(clean, "doc_id")
            .withColumn("text", F.col("_clean"))
            .drop("_clean")
            .transform(materialize)
        )
        counts["boilerplate_scrubbed"] = corpus.count()

    corpus = corpus.withColumn("text", pii_scrub("text"))

    if surprisal_keep_frac is not None:
        # corpus-unigram surprisal gate: keep the keep_frac least-
        # surprising documents (scored on the SCRUBBED text, the text
        # that will actually train). The threshold is one broadcast
        # scalar from the mergeable percentile sketch; the gate itself
        # is a semi-join on doc_id. Token-less docs have no score row
        # and are dropped by the semi-join — documented contract.
        if surprisal_model == "bigram":
            scores = bigram_surprisal(corpus, word_counts(corpus)).drop(
                "n_bigrams"
            )
        elif surprisal_model == "unigram":
            scores = unigram_surprisal(corpus, word_counts(corpus))
        else:
            raise ValueError(
                f"surprisal_model must be 'unigram' or 'bigram', got "
                f"{surprisal_model!r}"
            )
        thr = scores.agg(
            F.expr(
                f"percentile_approx(score, {surprisal_keep_frac}D, 10000)"
            ).alias("_thr")
        )
        keep_ids = (
            scores.crossJoin(F.broadcast(thr))
            .filter(F.col("score") <= F.col("_thr"))
            .select("doc_id")
        )
        # this stage consumes `corpus` twice (model + gate), so it keeps
        # an explicit count on a checkpointed frame like the earlier
        # funnel stages, not an observe()
        corpus = corpus.join(keep_ids, "doc_id", "left_semi").transform(
            materialize
        )
        counts["surprisal_gated"] = corpus.count()

    if classifier_min_score is not None:
        # hashed-classifier floor: one explode + partial-agg scoring
        # pass, gate as a semi-join (feature-less docs drop — contract)
        keep_ids = (
            quality_scores(corpus)
            .filter(F.col("qscore") >= classifier_min_score)
            .select("doc_id")
        )
        corpus = corpus.join(keep_ids, "doc_id", "left_semi").transform(
            materialize
        )
        counts["classifier_gated"] = corpus.count()

    if mixture_alpha is not None:
        # temperature rebalance of per-source token mass; map-only
        # membership once the tiny per-stratum threshold table exists
        corpus = alpha_mixture_sample(
            corpus, alpha=mixture_alpha, size=token_count("text")
        ).transform(materialize)
        counts["alpha_mixture"] = corpus.count()

    # quality_gated rides the FINAL count's job as an observe() metric:
    # from here to the end the frame is a linear chain consumed exactly
    # once, so the observation is correct and saves one full pass over
    # the corpus (the earlier funnel stages are each consumed twice in
    # their job — pair-generation + anti-join — where an observed count
    # would double-fire, so those keep explicit counts on checkpointed
    # frames).
    from pyspark.sql import Observation

    quality_obs = Observation("quality_gated")
    corpus = corpus.filter(quality_score("text") >= 0.3).observe(
        quality_obs, F.count(F.lit(1)).alias("n")
    )

    corpus = stable_split(corpus)
    w = (
        Window.partitionBy("split", "source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    corpus = (
        corpus.withColumn("n_tokens", token_count("text"))
        .withColumn("cum", F.sum("n_tokens").over(w))
        .withColumn(
            "pack_id",
            F.floor((F.col("cum") - F.col("n_tokens")) / 2048).cast("long"),
        )
        .drop("cum")
    )
    # Materialize ONCE: the scrub/score/split/pack tail is the most
    # expensive stage chain; counting it and then letting the caller's
    # snapshot write recompute it would run that tail twice. The eager
    # checkpoint runs the chain (firing the observation), the count is
    # then a cheap pass over checkpointed partitions, and the caller's
    # write reuses them too.
    corpus = materialize(corpus)
    final_n = corpus.count()
    counts["quality_gated"] = int(quality_obs.get["n"])
    counts["final"] = final_n
    return corpus, counts


def _mark_refresh_synced(
    spark: SparkSession, wh: ParquetWarehouse, sync_t: str, corpus_table: str
) -> None:
    """Record the corpus version this COMPLETED refresh covered — the
    1-row marker that lets in-sync refreshes skip the reconcile
    anti-join (see refresh_corpus's reconcile-gate comment). Skips the
    write when the marker already records this version: a no-op replay
    must not churn a snapshot version per redelivery."""
    v = wh.latest_version(corpus_table)
    if v is None:
        return
    if (
        wh.exists(sync_t)
        and wh.read(sync_t).first()["corpus_version"] == v
    ):
        return
    wh.overwrite(
        local_frame(spark, [(v,)], "corpus_version string"), sync_t
    )


def _record_processed(
    wh: ParquetWarehouse, ids: DataFrame, processed_t: str
) -> None:
    """Append a doc_id membership batch to the ``__processed`` table
    (create on first use). Ids are terminally-handled doc_ids —
    published, gate-dropped, or benchmark-excluded — so the reconcile
    anti-join stays crash-window-sized (refresh_corpus docstring).
    Empty batches append nothing — a no-op replay must not commit a
    new version (relinking every prior file) per redelivery."""
    if not wh.exists(processed_t):
        wh.overwrite(ids, processed_t)
    elif ids.limit(1).count():
        wh.append(ids, processed_t)


def refresh_corpus(
    spark: SparkSession,
    wh: ParquetWarehouse,
    batch: DataFrame,
    benchmark: DataFrame,
    table: str = "training_corpus",
    corpus_table: str = "corpus_docs",
    index_table: str = "corpus_bands",
) -> dict[str, int]:
    """Incrementally fold ONE document batch into the published
    training corpus — the composed refresh path: every stage
    of :func:`prepare_corpus`'s core chain runs at O(batch) cost
    against persisted state, never re-processing the corpus.

        batch
          1. exact + near-dup dedup against the PERSISTED corpus/band
             index (operators/incremental_dedup.ingest_batch — the
             batch is hashed once; the corpus is never re-shingled)
          2. benchmark-id exclusion + decontamination against the
             FROZEN benchmark (a pinned eval release — the realistic
             contract, and the one that makes incremental ≡ one-shot)
          3. PII scrub, composite quality gate, stable split
             (all map-only, per-document — batch-local by construction)
          4. sequence packing CONTINUED from the published corpus: the
             per-(split, source) token base is DERIVED from the
             published table with one skinny partial-agg (the bm25
             corpus-scalars stance — deriving rather than maintaining
             removes the crash window where a half-committed refresh
             leaves scalar state out of step), and the batch's
             running sums stack on top
          5. idempotent MERGE into the published table, then the
             batch's processed-id membership append

    Equivalence law (driver-gated as the 'refresh' arm of
    sampling_splits_suite, plus the pytest pin in
    tests/test_corpus_pipeline.py): refreshing batches with MONOTONE
    doc_ids (each batch's ids after every published id — the
    append-only ingest norm) reproduces
    ``prepare_corpus(union, keeper="first", benchmark=...)`` row for
    row. Monotonicity is what keeps both the lowest-id keeper and the
    pack cumsum order-invariant; near-dup relations that chain only
    through a dropped doc across batches could legitimately diverge
    (the incremental_dedup_two_batch caveat — absent on the driver
    corpora, which is what the arm checks).

    Crash/replay contract: commit order is (corpus+index) ->
    published-rows MERGE -> processed-ids append. Redelivery of a
    committed batch dedups to an empty delta (no-op); a crash anywhere
    in between is healed on the next call by the reconcile step —
    docs retained in the dedup corpus but never processed (the
    ``__processed`` membership anti-join) re-enter the gate chain,
    whose stages are all deterministic per-document, and the final
    merge is idempotent on doc_id."""
    from ..operators.incremental_dedup import _CORPUS_META_COLS, ingest_batch
    processed_t = f"{table}__processed"
    # Reconcile gate (the ingest __sync discipline): the
    # reconcile anti-join only ever finds docs stranded by a PREVIOUS
    # crashed refresh, so it is needed iff the 1-row marker recording
    # the corpus version the last COMPLETED refresh covered does not
    # match the pre-ingest corpus state. Checked BEFORE this call's
    # ingest advances the version; in the in-sync steady state the
    # reconcile (an O(corpus-ids) anti-join per refresh — the x64
    # soak's replay floor) collapses to this 1-row read.
    sync_t = f"{table}__sync"
    pre_v = wh.latest_version(corpus_table)
    reconcile_needed = not (
        pre_v is not None
        and wh.exists(sync_t)
        and wh.read(sync_t).first()["corpus_version"] == pre_v
    )
    _counts, survivors = ingest_batch(
        spark,
        wh,
        batch,
        corpus_table=corpus_table,
        index_table=index_table,
    )
    counts = dict(_counts)

    # reconcile: dedup-retained docs that never finished stage-B
    # processing (crash heal; empty in normal operation). Processed
    # membership covers published, gate-dropped, AND benchmark-excluded
    # docs (all terminally handled), so the anti-join is crash-window-
    # sized, not dropped-set-sized. The anti-join itself runs on a
    # skinny doc_id projection — text columns rejoin only for the
    # (normally empty) crash-window ids via a broadcast-sized semi
    # join, so the steady-state reconcile shuffles ids, never text.
    survivor_ids = survivors.select("doc_id")
    if reconcile_needed and wh.exists(corpus_table):
        # an absent __processed table means NOTHING is processed yet —
        # every corpus doc outside this batch's survivors is stranded
        # (docs ingested through ingest_batch/dedup_ingest_stream before
        # the first refresh are exactly this case; skipping them here
        # and then writing the marker would strand them permanently)
        unprocessed = wh.read(corpus_table).select("doc_id")
        if wh.exists(processed_t):
            unprocessed = unprocessed.join(
                wh.read(processed_t), "doc_id", "left_anti"
            )
        missing_ids = materialize(
            unprocessed.join(survivor_ids, "doc_id", "left_anti")
        )
        missing = (
            wh.read(corpus_table)
            # storage layout/metadata columns, not document schema
            .drop(*_CORPUS_META_COLS)
            .join(missing_ids, "doc_id", "left_semi")
        )
        handled = survivor_ids.unionByName(missing_ids)
        delta = survivors.unionByName(missing, allowMissingColumns=False)
    else:
        handled = survivor_ids
        delta = survivors
    delta = materialize(delta.join(
        benchmark.select("doc_id"), "doc_id", "left_anti"
    ))
    counts["delta"] = delta.count()
    if counts["delta"] == 0:
        # benchmark-excluded docs are terminally handled — record them
        # so they never re-enter the reconcile's 'missing' set
        _record_processed(wh, handled, processed_t)
        _mark_refresh_synced(spark, wh, sync_t, corpus_table)
        wh.log(
            f"{table}_runs",
            "refresh " + " -> ".join(f"{k}:{v}" for k, v in counts.items()),
        )
        return counts

    contaminated = (
        contamination_overlap(delta, benchmark)
        .filter(F.col("contamination") > 0.5)
        .select("doc_id")
    )
    clean = delta.join(contaminated, "doc_id", "left_anti")
    clean = clean.withColumn("text", pii_scrub("text"))
    clean = clean.filter(quality_score("text") >= 0.3)
    clean = stable_split(clean).withColumn(
        "n_tokens", token_count("text")
    )

    # pack base derived from the published table EXCLUDING the delta
    # ids (a crashed earlier attempt may have merged some of them
    # already — excluding makes the base deterministic under replay)
    if wh.exists(table):
        published = wh.read(table).join(
            delta.select("doc_id"), "doc_id", "left_anti"
        )
        base = published.groupBy("split", "source").agg(
            F.sum("n_tokens").alias("_base_cum")
        )
    else:
        base = None
    w = (
        Window.partitionBy("split", "source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rows = clean.withColumn("cum", F.sum("n_tokens").over(w))
    if base is not None:
        rows = (
            rows.join(base, ["split", "source"], "left")
            .withColumn(
                "cum", F.col("cum") + F.coalesce(F.col("_base_cum"), F.lit(0))
            )
            .drop("_base_cum")
        )
    rows = materialize(
        rows.withColumn(
            "pack_id",
            F.floor((F.col("cum") - F.col("n_tokens")) / 2048).cast(
                "long"
            ),
        ).drop("cum")
    )
    counts["published"] = rows.count()
    if counts["published"]:
        # O(batch) PHYSICAL publish: the published table is
        # hive-partitioned on a doc_id range shard, and the shard rides
        # in the merge key (sound ONLY because the shard is a fixed
        # pure function of doc_id — the width is the module constant
        # shared with the dedup corpus, never a per-call knob: two
        # calls disagreeing on it would file the same doc under two
        # partitions and the pruned merge could not evict the old row).
        # The warehouse's pruned merge then writes ONLY the shards the
        # batch lands in and hardlinks the rest forward; monotone
        # ingest ids cluster, so a refresh typically rewrites ONE shard
        # however large the published corpus — the x64 soak measured
        # the previous unpartitioned publish rewriting all of it.
        # ``_shard`` rides in the published schema as a declared
        # storage column (readers that need pure document schema drop
        # _CORPUS_META_COLS, as the laws and the driver arm do by
        # projecting explicitly). Tables that predate the shard (or
        # were written by run_corpus_pipeline's split-partitioned
        # one-shot) keep their legacy unsharded merge — correctness
        # identical, publish O(table) as before.
        if wh.exists(table) and "_shard" not in wh.read(table).columns:
            wh.merge(rows, table, keys=("doc_id",))
        else:
            from ..operators.incremental_dedup import _CORPUS_SHARD_DOCS

            rows = rows.withColumn(
                "_shard",
                F.floor(
                    F.col("doc_id") / F.lit(int(_CORPUS_SHARD_DOCS))
                ).cast("long"),
            )
            wh.merge(
                rows, table,
                keys=("_shard", "doc_id"), partition_by=("_shard",),
            )
    # `handled` (not `delta`): benchmark-excluded ids are terminally
    # handled too and must never re-enter the reconcile's missing set
    _record_processed(wh, handled, processed_t)
    # marker commits LAST (the ingest __sync discipline): a crash
    # anywhere above leaves it stale, re-arming the reconcile
    _mark_refresh_synced(spark, wh, sync_t, corpus_table)
    # K6 run-log parity with run_corpus_pipeline: one line per refresh
    wh.log(
        f"{table}_runs",
        "refresh " + " -> ".join(f"{k}:{v}" for k, v in counts.items()),
    )
    return counts


def run_corpus_pipeline(
    spark: SparkSession,
    sf_dir: str,
    warehouse_root: str,
    table: str = "training_corpus",
    export_jsonl_dir: str | None = None,
    **kwargs,
) -> dict[str, int]:
    """End-to-end: prepare, snapshot-write partitioned by split, log —
    and, when ``export_jsonl_dir`` is set, deliver the train split as
    gzip JSONL shards (the interchange format the training stack pulls;
    sinks/export.py)."""
    docs = load_table(spark, sf_dir, "documents")
    corpus, counts = prepare_corpus(docs, **kwargs)
    wh = ParquetWarehouse(spark, warehouse_root)
    wh.overwrite(corpus, table, partition_by=("split",))
    if export_jsonl_dir:
        from ..sinks.export import export_jsonl

        train = wh.read(table).filter("split = 'train'")
        export_jsonl(train, export_jsonl_dir)
        counts["exported_train"] = train.count()
    wh.log(
        f"{table}_runs",
        " -> ".join(f"{k}:{v}" for k, v in counts.items()),
    )
    return counts
