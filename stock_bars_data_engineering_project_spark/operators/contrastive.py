"""Contrastive training-pair mining over an embedding corpus.

Retrieval / embedding models train on (anchor, positive, negatives)
tuples. Mining them at corpus scale is three different problems with
three different scale shapes, composed here from this engine's existing
primitives:

- **positives**: the anchor's nearest neighbors above a similarity
  floor — the ANN problem (operators/similarity.py). The anchor set is
  small relative to the corpus (training batches are sampled), so the
  broadcast-anchors + salted-top-k plan applies; swap in the LSH/IVF
  path when the anchor set itself is corpus-sized.
- **hard negatives**: the next ranks after the positive window — the
  semi-hard band that makes contrastive losses work. Free: same ANN
  call, wider k, role decided by rank.
- **random negatives**: deterministic salted-hash picks, NOT ``rand()``
  — membership must be reproducible across runs/engines and stable
  under corpus growth (same discipline as operators/sampling.py). Each
  corpus row hashes to a bucket; negative slot j of anchor a wants
  bucket ``h(a, j)`` and takes the row-hash-minimal corpus row there —
  an ordinary equi-join on the bucket id (fan-in = corpus/n_buckets
  rows per slot), no per-anchor shuffle, no cross join. Slots that
  land in an empty bucket drop (rare once n_buckets <= corpus size;
  the count contract is "at most N_RAND", like every hash-sampling op
  here). Picks colliding with ANYTHING the ANN call saw for that anchor
  (positives, hard band, even floor-rejected near neighbors) are
  anti-joined away rather than resampled, and same-anchor duplicate
  picks keep only their lowest slot — deterministic beats exactly-n.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sampling import hash_bucket
from .similarity import cosine_topk

# per anchor: positives, hard negatives, random-negative slots
N_POS, N_HARD, N_RAND = 3, 2, 2


def contrastive_pairs(
    corpus: DataFrame,
    anchors: DataFrame,
) -> DataFrame:
    """Mine (anchor_id, role, other_id, score, slot) rows: roles
    'pos' (rank 1..N_POS), 'hard' (rank N_POS+1..N_POS+N_HARD), 'rand'
    (N_RAND hash-addressed slots, score NULL). Neighbors come from the
    brute-force ``cosine_topk`` over ``vec_id``/``embedding``.
    """
    neighbors = cosine_topk(corpus, anchors, k=N_POS + N_HARD)
    pos = neighbors.filter(F.col("rank") <= N_POS).select(
        F.col("query_id").alias("anchor_id"),
        F.lit("pos").alias("role"),
        F.col("vec_id").alias("other_id"),
        F.col("cos").alias("score"),
        F.col("rank").cast("int").alias("slot"),
    )
    hard = neighbors.filter(F.col("rank") > N_POS).select(
        F.col("query_id").alias("anchor_id"),
        F.lit("hard").alias("role"),
        F.col("vec_id").alias("other_id"),
        F.col("cos").alias("score"),
        (F.col("rank") - N_POS).cast("int").alias("slot"),
    )

    # one expected row per bucket keeps the slot join's fan-in
    # at O(1) rows; a 1-row aggregate, broadcast into the plan
    n_buckets = max(1, corpus.count())
    rows = corpus.select(
        F.col("vec_id").alias("other_id"),
        hash_bucket(F.col("vec_id"), n_buckets, salt="negrow").alias("_bkt"),
    )
    slots = anchors.select(F.col("vec_id").alias("anchor_id")).crossJoin(
        F.broadcast(
            anchors.sparkSession.range(1, N_RAND + 1).select(
                F.col("id").cast("int").alias("slot")
            )
        )
    ).select(
        "anchor_id",
        "slot",
        hash_bucket(
            F.concat_ws("#", F.col("anchor_id"), F.col("slot")),
            n_buckets,
            salt="negslot",
        ).alias("_bkt"),
    )
    picked = (
        # anchors are training-batch-sized (module contract), so the
        # (anchor x slot) table broadcasts and the corpus rows side
        # never shuffles — without the hint Spark falls back to a
        # corpus-wide SortMergeJoin on the bucket id
        F.broadcast(slots).join(rows, "_bkt")
        .filter(F.col("other_id") != F.col("anchor_id"))
        .groupBy("anchor_id", "slot")
        # deterministic pick inside the bucket: hash-minimal row
        .agg(F.min_by("other_id", F.md5(F.col("other_id").cast("string"))).alias("other_id"))
        # two slots of one anchor can hash to the same bucket and
        # pick the same row — keep one (lowest slot), a duplicate
        # negative teaches nothing and double-counts in the loss
        .groupBy("anchor_id", "other_id")
        .agg(F.min("slot").alias("slot"))
    )
    # a random pick colliding with this anchor's near-neighborhood
    # would poison the loss — exclude EVERYTHING the ANN call saw
    # (positives and hard negatives alike)
    taken = neighbors.select(
        F.col("query_id").alias("anchor_id"), F.col("vec_id").alias("other_id")
    )
    rand = (
        # same size contract: |anchors| x k id pairs — broadcast the
        # exclusion set rather than sort-merge two tiny tables
        picked.join(
            F.broadcast(taken), ["anchor_id", "other_id"], "left_anti"
        )
        .select(
            "anchor_id",
            F.lit("rand").alias("role"),
            "other_id",
            F.lit(None).cast("double").alias("score"),
            F.col("slot").cast("int").alias("slot"),
        )
    )
    return pos.unionByName(hard).unionByName(rand)
