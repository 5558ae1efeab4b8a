"""End-to-end corpus-preparation pipeline: monotone stage funnel,
determinism across reruns, split integrity, warehouse landing."""

from __future__ import annotations

from pyspark.sql import functions as F

from stock_bars_data_engineering_project_spark.pipeline.corpus_pipeline import (
    run_corpus_pipeline,
)
from stock_bars_data_engineering_project_spark.sinks.warehouse import ParquetWarehouse

SF = "/root/testdata/sf0.001"


def test_corpus_pipeline_end_to_end(spark, tmp_path):
    counts = run_corpus_pipeline(spark, SF, str(tmp_path))
    # the funnel only ever removes documents, and each gate bites on this data
    order = ["raw", "exact_dedup", "near_dedup", "decontaminated", "quality_gated"]
    for a, b in zip(order, order[1:]):
        assert counts[a] >= counts[b], (a, b, counts)
    assert counts["raw"] > counts["decontaminated"]  # dedup+benchmark removal real
    assert counts["final"] > 0

    wh = ParquetWarehouse(spark, str(tmp_path))
    out = wh.read("training_corpus")
    assert out.count() == counts["final"]
    # split labels well-formed; benchmark slice never leaks into training
    splits = {r.split for r in out.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"}
    assert out.filter(F.col("doc_id") % 20 == 0).count() == 0
    # PII scrub ran before landing
    assert out.filter(F.col("text").rlike("@[a-z]+\\.")).count() == 0
    # pack ids: non-negative, contiguous-from-zero per (split, source)
    packs = out.groupBy("split", "source").agg(
        F.min("pack_id").alias("lo"), F.countDistinct("pack_id").alias("n"),
        F.max("pack_id").alias("hi"),
    )
    for r in packs.collect():
        assert r.lo == 0 and r.hi == r.n - 1

    # determinism: a second run lands an identical table (new snapshot)
    counts2 = run_corpus_pipeline(spark, SF, str(tmp_path))
    assert counts2 == counts
    again = wh.read("training_corpus")
    assert again.exceptAll(out).count() == 0 and out.exceptAll(again).count() == 0
    # and the run log recorded both runs
    assert wh.read("training_corpus_runs").count() == 2


def test_corpus_pipeline_exports_train_jsonl(spark, tmp_path):
    """--export-jsonl delivers exactly the train split as gzip shards."""
    import glob
    import os

    from stock_bars_data_engineering_project_spark.pipeline.corpus_pipeline import (
        run_corpus_pipeline,
    )
    out = str(tmp_path / "jsonl")
    counts = run_corpus_pipeline(
        spark, "/root/testdata/sf0.001", str(tmp_path / "wh"),
        export_jsonl_dir=out,
    )
    shards = glob.glob(os.path.join(out, "part-*.json.gz"))
    assert len(shards) == 8
    back = spark.read.json(out)
    assert back.count() == counts["exported_train"] > 0
    assert set(r.split for r in back.select("split").distinct().collect()) == {"train"}


def test_surprisal_gate_stage(spark, tmp_path):
    """With the gate on: the funnel gains a surprisal_gated stage that
    bites (keeps ~keep_frac), stays monotone, and keeps the best-scoring
    documents; with the gate off the counts dict has no such stage."""
    from stock_bars_data_engineering_project_spark.pipeline.corpus_pipeline import (
        run_corpus_pipeline,
    )

    counts = run_corpus_pipeline(
        spark, SF, str(tmp_path / "gated"), surprisal_keep_frac=0.8
    )
    assert "surprisal_gated" in counts
    assert counts["decontaminated"] >= counts["surprisal_gated"]
    assert counts["surprisal_gated"] >= counts["quality_gated"]
    # the gate actually bites: ~20% of the decontaminated corpus dropped
    assert counts["surprisal_gated"] < counts["decontaminated"]
    assert counts["surprisal_gated"] >= int(0.7 * counts["decontaminated"])

    counts_off = run_corpus_pipeline(spark, SF, str(tmp_path / "plain"))
    assert "surprisal_gated" not in counts_off


def test_surprisal_gate_bigram_model(spark, tmp_path):
    """surprisal_model='bigram' swaps in the stupid-backoff bigram LM:
    same funnel contract (stage present, bites, monotone); an unknown
    model name refuses loudly."""
    import pytest

    from stock_bars_data_engineering_project_spark.pipeline.corpus_pipeline import (
        run_corpus_pipeline,
    )

    counts = run_corpus_pipeline(
        spark,
        SF,
        str(tmp_path / "bigram"),
        surprisal_keep_frac=0.8,
        surprisal_model="bigram",
    )
    assert "surprisal_gated" in counts
    assert counts["surprisal_gated"] < counts["decontaminated"]
    assert counts["surprisal_gated"] >= int(0.7 * counts["decontaminated"])

    with pytest.raises(ValueError, match="surprisal_model"):
        run_corpus_pipeline(
            spark,
            SF,
            str(tmp_path / "bad"),
            surprisal_keep_frac=0.8,
            surprisal_model="trigram",
        )


def test_new_cleaning_stages(spark, tmp_path):
    """Boilerplate scrub, classifier gate and alpha mixture: funnel
    stages appear only when switched on, stay monotone, and the scrub
    really shrinks text."""
    from pyspark.sql import functions as F

    from stock_bars_data_engineering_project_spark.pipeline.corpus_pipeline import (
        prepare_corpus,
    )
    from stock_bars_data_engineering_project_spark.sources.readers import load_table

    docs = load_table(spark, SF, "documents")
    corpus, counts = prepare_corpus(
        docs,
        boilerplate_df_cap=5,
        classifier_min_score=0.05,
        mixture_alpha=0.5,
    )
    for stage in ("boilerplate_scrubbed", "classifier_gated", "alpha_mixture"):
        assert stage in counts
    # funnel order and monotonicity through the new stages
    assert counts["decontaminated"] == counts["boilerplate_scrubbed"]  # rewrite, not a drop
    assert counts["boilerplate_scrubbed"] >= counts["classifier_gated"]
    assert counts["classifier_gated"] >= counts["alpha_mixture"]
    assert counts["alpha_mixture"] >= counts["quality_gated"]

    # the scrub really removed corpus-hot spans: for documents present
    # in BOTH runs, per-doc text only differs by the boilerplate rewrite
    # (PII scrub applies in both; gates/mixture only drop rows), so the
    # joined text mass must strictly shrink
    plain, counts_off = prepare_corpus(docs)
    for stage in ("boilerplate_scrubbed", "classifier_gated", "alpha_mixture"):
        assert stage not in counts_off
    j = (
        corpus.select("doc_id", F.length("text").alias("la"))
        .join(plain.select("doc_id", F.length("text").alias("lb")), "doc_id")
        .agg(F.sum("la").alias("a"), F.sum("lb").alias("b"))
        .collect()[0]
    )
    assert j["a"] < j["b"]


def test_gopher_gate_stage(spark):
    """Stage 0 Gopher gate: appears only when switched on, runs before
    exact dedup (funnel order raw >= gopher_gated >= exact_dedup), and
    matches a direct gopher_panel filter on the same thresholds."""
    from stock_bars_data_engineering_project_spark.operators.quality import (
        gopher_panel,
    )
    from stock_bars_data_engineering_project_spark.pipeline.corpus_pipeline import (
        prepare_corpus,
    )
    from stock_bars_data_engineering_project_spark.sources.readers import load_table

    docs = load_table(spark, SF, "documents")
    # the synthetic corpus is word soup: a couple of paper thresholds
    # must be relaxed (few Gopher stopwords, short docs)
    overrides = {"min_words": 10, "min_distinct_stopwords": 1}
    _, counts = prepare_corpus(docs, gopher=overrides)
    assert "gopher_gated" in counts
    assert counts["raw"] >= counts["gopher_gated"] >= counts["exact_dedup"]

    expect = gopher_panel(docs, **overrides).filter("keep").count()
    assert counts["gopher_gated"] == expect

    _, counts_off = prepare_corpus(docs)
    assert "gopher_gated" not in counts_off


def test_incremental_refresh_equals_one_shot(spark, tmp_path):
    """The composed refresh law: two monotone-id batches
    through refresh_corpus (persisted-state dedup -> frozen-benchmark
    decontam -> scrub/gate/split -> pack-continuation -> merge) must
    publish exactly what prepare_corpus(union, keeper='first',
    benchmark=frozen) computes in one shot — without re-processing
    batch 1, and idempotently under batch replay."""
    from stock_bars_data_engineering_project_spark.pipeline.corpus_pipeline import (
        prepare_corpus,
        refresh_corpus,
    )
    from stock_bars_data_engineering_project_spark.sources.readers import load_table

    docs = load_table(spark, SF, "documents")
    benchmark = docs.filter(F.col("doc_id") % 20 == 0)
    half = docs.agg(F.expr("percentile(doc_id, 0.5D)")).first()[0]
    b1 = docs.filter(F.col("doc_id") <= half)
    b2 = docs.filter(F.col("doc_id") > half)

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    c1 = refresh_corpus(spark, wh, b1, benchmark)
    c2 = refresh_corpus(spark, wh, b2, benchmark)
    assert c1["published"] > 0 and c2["published"] > 0

    got = wh.read("training_corpus").select(
        "doc_id", "split", "n_tokens", "pack_id", F.md5("text").alias("h")
    )
    want, _ = prepare_corpus(docs, keeper="first", benchmark=benchmark)
    want = want.select(
        "doc_id", "split", "n_tokens", "pack_id", F.md5("text").alias("h")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # replaying a committed batch is a no-op: empty delta, table unchanged
    c3 = refresh_corpus(spark, wh, b2, benchmark)
    assert c3["delta"] == 0
    again = wh.read("training_corpus").select(
        "doc_id", "split", "n_tokens", "pack_id", F.md5("text").alias("h")
    )
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, got.collect()))


def test_refresh_processed_covers_benchmark_excluded(spark, tmp_path):
    """Benchmark-excluded docs are terminally handled and must be
    recorded in __processed: otherwise every
    subsequent refresh re-discovers them as 'missing' and pays an
    O(dropped-set) reconcile forever. Steady-state law: after any
    committed refresh, corpus_docs anti-join __processed is EMPTY."""
    from stock_bars_data_engineering_project_spark.pipeline.corpus_pipeline import (
        refresh_corpus,
    )
    from stock_bars_data_engineering_project_spark.sources.readers import load_table

    docs = load_table(spark, SF, "documents")
    benchmark = docs.filter(F.col("doc_id") % 20 == 0)
    half = docs.agg(F.expr("percentile(doc_id, 0.5D)")).first()[0]
    b1 = docs.filter(F.col("doc_id") <= half)

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    c1 = refresh_corpus(spark, wh, b1, benchmark)
    assert c1["published"] > 0
    stranded = wh.read("corpus_docs").join(
        wh.read("training_corpus__processed"), "doc_id", "left_anti"
    )
    assert stranded.count() == 0

    # a batch that is ENTIRELY benchmark ids takes the delta==0 early
    # return — its ids must still land in __processed
    pure_bench = docs.filter(
        (F.col("doc_id") > half) & (F.col("doc_id") % 20 == 0)
    )
    c2 = refresh_corpus(spark, wh, pure_bench, benchmark)
    assert c2["delta"] == 0
    stranded2 = wh.read("corpus_docs").join(
        wh.read("training_corpus__processed"), "doc_id", "left_anti"
    )
    assert stranded2.count() == 0


def test_incremental_refresh_crash_heal(spark, tmp_path):
    """A crash between the dedup-state commit and the publish merge
    (simulated by ingesting a batch into the dedup state only) is
    healed by the next refresh's reconcile step: the stranded docs
    re-enter the gate chain and the final table equals the one-shot."""
    from stock_bars_data_engineering_project_spark.operators.incremental_dedup import (
        ingest_batch,
    )
    from stock_bars_data_engineering_project_spark.pipeline.corpus_pipeline import (
        prepare_corpus,
        refresh_corpus,
    )
    from stock_bars_data_engineering_project_spark.sources.readers import load_table

    docs = load_table(spark, SF, "documents")
    benchmark = docs.filter(F.col("doc_id") % 20 == 0)
    half = docs.agg(F.expr("percentile(doc_id, 0.5D)")).first()[0]
    b1 = docs.filter(F.col("doc_id") <= half)
    b2 = docs.filter(F.col("doc_id") > half)

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    c1 = refresh_corpus(spark, wh, b1, benchmark)
    assert c1["published"] > 0
    # crash simulation: batch 2's dedup state commits, publish never runs
    ingest_batch(spark, wh, b2)
    # redelivery: the batch dedups to nothing, but the reconcile
    # anti-join finds the stranded survivors and publishes them
    c2 = refresh_corpus(spark, wh, b2, benchmark)
    assert c2["survivors"] == 0 and c2["delta"] > 0 and c2["published"] > 0

    got = wh.read("training_corpus").select(
        "doc_id", "split", "n_tokens", "pack_id", F.md5("text").alias("h")
    )
    want, _ = prepare_corpus(docs, keeper="first", benchmark=benchmark)
    want = want.select(
        "doc_id", "split", "n_tokens", "pack_id", F.md5("text").alias("h")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_streaming_corpus_refresh_equals_one_shot(spark, tmp_path):
    """corpus_refresh_stream: documents delivered as two
    parquet file waves through a REAL readStream + foreachBatch drain
    must publish exactly prepare_corpus(union, keeper='first',
    benchmark=frozen) — the streaming form of the batch refresh law,
    with the offset checkpoint supplying at-least-once delivery and
    every stage replay-idempotent."""
    import os

    from stock_bars_data_engineering_project_spark.pipeline.corpus_pipeline import (
        prepare_corpus,
    )
    from stock_bars_data_engineering_project_spark.sources.readers import load_table
    from stock_bars_data_engineering_project_spark.streaming.incremental import (
        corpus_refresh_stream,
    )

    docs = load_table(spark, SF, "documents")
    benchmark = docs.filter(F.col("doc_id") % 20 == 0)
    half = docs.agg(F.expr("percentile(doc_id, 0.5D)")).first()[0]

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    src = os.path.join(str(tmp_path), "_src")
    ckpt = os.path.join(str(tmp_path), "_ckpt")

    docs.filter(F.col("doc_id") <= half).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    corpus_refresh_stream(spark, src, docs.schema, wh, ckpt, benchmark)
    n_after_wave1 = wh.read("training_corpus").count()
    assert n_after_wave1 > 0

    docs.filter(F.col("doc_id") > half).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    corpus_refresh_stream(spark, src, docs.schema, wh, ckpt, benchmark)

    got = wh.read("training_corpus").select(
        "doc_id", "split", "n_tokens", "pack_id", F.md5("text").alias("h")
    )
    want, _ = prepare_corpus(docs, keeper="first", benchmark=benchmark)
    want = want.select(
        "doc_id", "split", "n_tokens", "pack_id", F.md5("text").alias("h")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # a third drain with no new files is a clean no-op
    corpus_refresh_stream(spark, src, docs.schema, wh, ckpt, benchmark)
    assert wh.read("training_corpus").count() == want.count()


def test_refresh_on_legacy_one_shot_table(spark, tmp_path):
    """A published table written by run_corpus_pipeline (split-
    partitioned, no _shard column) must keep working under
    refresh_corpus: the publish detects the legacy layout and merges
    unsharded instead of crashing on a missing merge-key column."""
    from stock_bars_data_engineering_project_spark.pipeline.corpus_pipeline import (
        refresh_corpus,
        run_corpus_pipeline,
    )
    from stock_bars_data_engineering_project_spark.sources.readers import load_table

    run_corpus_pipeline(spark, SF, str(tmp_path / "wh"))
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    n_before = wh.read("training_corpus").count()
    assert "_shard" not in wh.read("training_corpus").columns

    docs = load_table(spark, SF, "documents")
    top = docs.agg(F.max("doc_id")).first()[0]
    batch = docs.limit(200).select(
        (F.col("doc_id") + F.lit(int(top) + 1)).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    benchmark = docs.filter(F.col("doc_id") % 20 == 0)
    counts = refresh_corpus(spark, wh, batch, benchmark)
    assert counts["published"] > 0
    out = wh.read("training_corpus")
    assert "_shard" not in out.columns  # legacy layout preserved
    assert out.count() > n_before
    assert out.filter(F.col("doc_id") > top).count() == counts["published"]


def test_first_refresh_heals_pre_refresh_stream_ingested_corpus(spark, tmp_path):
    """Docs ingested through the dedup path BEFORE any refresh (the
    dedup_ingest_stream composition: corpus_docs populated, no
    __processed table) must be published by the FIRST refresh — the
    reconcile gate treats an absent __processed as 'nothing
    processed', not 'nothing missing' (review finding: the old skip
    plus the sync marker would have stranded them permanently)."""
    from stock_bars_data_engineering_project_spark.operators.incremental_dedup import (
        ingest_batch,
    )
    from stock_bars_data_engineering_project_spark.pipeline.corpus_pipeline import (
        prepare_corpus,
        refresh_corpus,
    )
    from stock_bars_data_engineering_project_spark.sources.readers import load_table

    docs = load_table(spark, SF, "documents")
    benchmark = docs.filter(F.col("doc_id") % 20 == 0)
    half = docs.agg(F.expr("percentile(doc_id, 0.5D)")).first()[0]
    b1 = docs.filter(F.col("doc_id") <= half)
    b2 = docs.filter(F.col("doc_id") > half)

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    ingest_batch(spark, wh, b1)  # stream-style ingest, no refresh ran
    c = refresh_corpus(spark, wh, b2, benchmark)
    assert c["published"] > 0

    got = wh.read("training_corpus").select(
        "doc_id", "split", "n_tokens", "pack_id", F.md5("text").alias("h")
    )
    want, _ = prepare_corpus(docs, keeper="first", benchmark=benchmark)
    want = want.select(
        "doc_id", "split", "n_tokens", "pack_id", F.md5("text").alias("h")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_noop_replay_churns_no_versions(spark, tmp_path):
    """A replayed committed batch must not grow ANY state table: no new
    __processed version, no __sync rewrite, no corpus/published version
    (an empty append would commit a version per redelivery, each one
    relinking every file of the table)."""
    from stock_bars_data_engineering_project_spark.pipeline.corpus_pipeline import (
        refresh_corpus,
    )
    from stock_bars_data_engineering_project_spark.sources.readers import load_table

    docs = load_table(spark, SF, "documents")
    benchmark = docs.filter(F.col("doc_id") % 20 == 0)
    batch = docs.limit(300)
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    refresh_corpus(spark, wh, batch, benchmark)
    refresh_corpus(spark, wh, batch, benchmark)  # first replay
    tables = [
        "training_corpus", "training_corpus__processed",
        "training_corpus__sync", "corpus_docs", "corpus_bands",
        "corpus_bands__sync",
    ]
    before = {t: wh.latest_version(t) for t in tables if wh.exists(t)}
    c = refresh_corpus(spark, wh, batch, benchmark)  # second replay
    assert c["delta"] == 0
    after = {t: wh.latest_version(t) for t in before}
    assert after == before
