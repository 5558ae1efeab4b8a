"""Hashed linear text-quality classifier (fastText-style scoring).

Production corpus pipelines gate documents with a cheap linear
classifier over hashed n-gram features (fastText's architecture:
CCNet/LLaMA-style "looks like Wikipedia" filters). This module
implements the SCORING side of that pattern Spark-first:

- features = lowercased unigrams + adjacent bigrams, built with array
  ops on the token array (zip_with over two slices) — map-side, no
  per-row Python;
- each feature hashes into a 2^20-bucket weight table (the "hashing
  trick" — vocabulary-free, OOV-safe, fixed memory);
- the per-doc margin is the mean bucket weight; score = sigmoid(margin
  * GAIN).

The weight table here is DERIVED, not trained: bucket b's weight is a
deterministic hash of ``w:<b>`` mapped to [-1, 1). That keeps the whole
path engine-portable (the registered query's DuckDB oracle replays the
identical md5 arithmetic, gating the plumbing end-to-end) and makes the
scoring layer a drop-in: swapping in real fastText weights is a
broadcast join against a (bucket, weight) table of at most 2^20 rows —
the plan shape does not change.

Scale shape: one explode + one partial-aggregable groupBy(doc_id) —
map-side combine absorbs the feature fan-out before the shuffle, and
every expression is whole-stage-codegen (no UDFs, no Python).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize
from .hashing import md5_bucket48
from .text import corpus_tokens

N_BUCKETS = 1 << 20
# 2^48 — the hash-prefix width used across functions/hashing idioms:
# 48 bits < 2^53 stay exact in double arithmetic on every engine
_HASH_SPAN = float(1 << 48)
# spreads the mean-of-[-1,1) margin over sigmoid's responsive range
GAIN = 8.0
# full-batch iterations and step size of train_quality_classifier
N_ITERS = 8
LR = 16.0


def doc_features() -> Column:
    """The corpus word model's unigrams + adjacent ``a_b`` bigrams of
    ``text`` as one array — pure array expressions (slice/zip_with),
    map-side."""
    toks = corpus_tokens()
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat(a, F.lit("_"), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, bigrams)


def feature_bucket(feat: Column) -> Column:
    """Hashing trick: the shared 48-bit md5 bucket idiom mod 2^20
    (features come from explode and are never NULL, so the raw
    primitive applies)."""
    return md5_bucket48(feat, N_BUCKETS)


def bucket_weight(bucket: Column) -> Column:
    """Deterministic pseudo-weight in [-1, 1) for a bucket id — the
    stand-in for a trained weight table (see module docstring)."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("w:"), bucket.cast("string"))), 1, 12),
        16,
        10,
    ).cast("long")
    return h / F.lit(_HASH_SPAN) * 2.0 - 1.0


def quality_scores(df: DataFrame) -> DataFrame:
    """Per-document classifier score in (0, 1): sigmoid(GAIN * mean
    feature weight). Documents with no non-empty token produce no
    feature rows and drop out (same contract as the surprisal arm).

    Returns ``(doc_id, n_features, qscore)``.
    """
    feats = df.select(
        F.col("doc_id"), F.explode(doc_features()).alias("_feat")
    )
    weighted = feats.select(
        "doc_id", bucket_weight(feature_bucket(F.col("_feat"))).alias("_w")
    )
    margin = F.avg("_w") * GAIN
    return weighted.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_features"),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))).alias("qscore"),
    )


def train_quality_classifier(
    df: DataFrame,
    label_col: str,
    stats: dict | None = None,
) -> DataFrame:
    """Train the hashed linear classifier IN the engine — full-batch
    logistic regression over the same unigram+bigram hashing-trick
    features :func:`quality_scores` scores with, so the trained
    ``(bucket, weight)`` table is a drop-in replacement for the derived
    one (swap = the same broadcast/shuffle join, plan shape unchanged).

    Per iteration (the Lloyd-iteration discipline of
    operators/similarity.kmeans_refine):
      1. margins: features ⋈ weights (hash join on the bucket id) +
         ONE partial-aggregable groupBy(doc) — p_d = sigmoid(GAIN *
         mean bucket weight);
      2. gradient: residuals GAIN*(p_d - y_d)/n_d joined back to the
         feature table (join on the doc id), then ONE partial-agg
         groupBy(bucket) taking the per-bucket MEAN residual — a
         deterministic document-frequency preconditioner (plain
         sum-gradient descent is hopelessly ill-conditioned here: a
         Zipf-head bucket's gradient is ~1000x a discriminative rare
         bucket's, and any single learning rate either diverges on the
         head or never moves the tail; dividing by the bucket's
         occurrence count equalizes per-bucket step sizes, the same
         diagonal trick AdaGrad approximates adaptively);
      3. update: weights left-join gradient, w -= LR * g, then
         materialize() (the repo's checkpoint choke point — honors the
         durable-checkpoint session switch; raw localCheckpoint would
         not) — persist alone leaves the logical plan
         nested and Catalyst re-analysis grows quadratically with the
         iteration count (measured: >600 s for 8 iterations with
         persist, 8 s with checkpoint truncation; the bpe.py /
         kmeans_refine lesson).

    ``stats`` (optional dict) receives ``loss`` and ``acc`` lists with
    N_ITERS+1 entries — evaluated BEFORE each update plus once after
    the last, so callers can assert the training laws (loss monotone
    non-increasing, accuracy above the label prior). Mean margins and
    mean gradients are partial-agg floats, so trained weights are NOT
    bit-replayable cross-engine; gate them with law flags (the
    kmeans 'trained_laws' pattern), and pin arithmetic against a numpy
    replay in pytest with a tolerance.

    Returns the trained ``(bucket, weight)`` table (every bucket seen
    in the corpus; weights start at 0, so the init loss is ln 2).
    """
    if label_col not in df.columns:
        raise ValueError(f"label column {label_col!r} not in input")

    feats = (
        df.select(
            F.col("doc_id").alias("_id"),
            F.col(label_col).cast("double").alias("_y"),
            F.explode(doc_features()).alias("_f"),
        )
        .select("_id", "_y", feature_bucket(F.col("_f")).alias("bucket"))
        .transform(materialize)
    )
    weights = (
        feats.select("bucket").distinct().withColumn("w", F.lit(0.0))
        .transform(materialize)
    )
    # The per-iteration loss/acc probe is a MONITOR, not a dependency
    # of the weight update, so it rides the update job as OBSERVED
    # METRICS: ``observe`` computes the two aggregates
    # over the margins rows as they flow through the update's own
    # execution — zero extra driver jobs and zero recompute, where the
    # previous structure paid a separate checkpoint + collect per
    # iteration (~2 of the 3 serialized jobs each round). Margins are
    # no longer materialized either: lineage stays bounded (feats and
    # weights are both checkpoints) and the forward pass fuses into the
    # update job. The probe aggregates ride a different partial-agg
    # order than the materialized-margins form, so loss/acc can move in
    # the last ulps — exactly the non-bit-replayability the training
    # laws already tolerate (their flags carry 1e-9 relative slack, and
    # the iteration-0 loss is ln 2 exactly under any order because
    # every summand is 0.0). Results drain in iteration order, so
    # ``stats`` is unchanged.
    from pyspark.sql import Observation

    _loss_expr = F.avg(
        -(
            F.col("_y") * F.log(F.greatest(F.col("_p"), F.lit(1e-12)))
            + (1 - F.col("_y"))
            * F.log(F.greatest(1 - F.col("_p"), F.lit(1e-12)))
        )
    ).alias("loss")
    _acc_expr = F.avg(
        ((F.col("_p") >= 0.5).cast("double") == F.col("_y")).cast("double")
    ).alias("acc")

    losses: list[float] = []
    accs: list[float] = []
    observations: list[Observation] = []
    for i in range(N_ITERS + 1):
        margins = (
            # weights is bounded at 2^20 rows BY CONSTRUCTION (the
            # hashing trick), so it broadcasts at any corpus scale —
            # the corpus-sized feature table is never shuffled by
            # this join (guide §3.1)
            feats.join(F.broadcast(weights), "bucket", "left")
            .groupBy("_id", "_y")
            .agg(
                F.sum(F.coalesce(F.col("w"), F.lit(0.0))).alias("_s"),
                F.count(F.lit(1)).alias("_nf"),
            )
            .withColumn(
                "_p",
                F.lit(1.0)
                / (
                    F.lit(1.0)
                    + F.exp(-F.lit(GAIN) * F.col("_s") / F.col("_nf"))
                ),
            )
        )
        obs = Observation(f"train_probe_{i}")
        margins = margins.observe(obs, _loss_expr, _acc_expr)
        observations.append(obs)
        if i == N_ITERS:
            # no update consumes the final margins — one noop action
            # executes them so the last probe's metrics materialize
            margins.write.mode("overwrite").format("noop").save()
            break
        resid = margins.select(
            "_id",
            (
                F.lit(GAIN) * (F.col("_p") - F.col("_y")) / F.col("_nf")
            ).alias("_r"),
        )
        grad = feats.join(resid, "_id").groupBy("bucket").agg(
            F.avg("_r").alias("_g")
        )
        weights = (
            # both sides are bucket-bounded; broadcasting the fresh
            # gradient keeps the update map-side
            weights.join(F.broadcast(grad), "bucket", "left")
            .select(
                "bucket",
                (
                    F.col("w")
                    - F.lit(LR) * F.coalesce(F.col("_g"), F.lit(0.0))
                ).alias("w"),
            )
            .transform(materialize)
        )
    for obs in observations:
        row = obs.get
        if row["loss"] is None:
            raise ValueError(
                "train_quality_classifier: no document yielded features "
                "(all texts NULL/empty?) — nothing to train on"
            )
        losses.append(float(row["loss"]))
        accs.append(float(row["acc"]))
    if stats is not None:
        stats["loss"] = losses
        stats["acc"] = accs
    return weights.select("bucket", F.col("w").alias("weight"))


def score_with_weights(df: DataFrame, weights: DataFrame) -> DataFrame:
    """Score documents with a TRAINED ``(bucket, weight)`` table — the
    same plan shape as :func:`quality_scores` with the derived-weight
    expression swapped for the join this module's docstring promises.
    Unseen buckets score 0 (the training init). Returns
    ``(doc_id, n_features, qscore)``."""
    feats = df.select(
        F.col("doc_id"), F.explode(doc_features()).alias("_feat")
    ).select("doc_id", feature_bucket(F.col("_feat")).alias("bucket"))
    joined = feats.join(weights, "bucket", "left").select(
        "doc_id", F.coalesce(F.col("weight"), F.lit(0.0)).alias("_w")
    )
    margin = F.avg("_w") * GAIN
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_features"),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))).alias("qscore"),
    )
