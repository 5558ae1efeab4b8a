"""Semantic deduplication (SemDeDup-style): cluster-then-pairwise
pruning of embedding-space near-duplicates.

The third blocking strategy for embedding near-dup detection, alongside
dedup.py's hyperplane-LSH and the brute-force recall oracle: first
coarse-cluster the corpus with the IVF quantizer (k-means centroids),
then compare pairs ONLY within each cluster; the verified pairs feed
``dedup.dedup_clusters``, which keeps one member of every connected
duplicate group (Abbas et al. 2023, "SemDeDup:
Data-efficient learning at web-scale through semantic deduplication" —
the published recipe prunes within k-means clusters exactly like this).

Scale shape:

- assignment is ivf_assign's map-only broadcast-argmin pass;
- within-cluster pair emission reuses dedup._bucket_pairs — one
  groupBy(cid) and an in-bucket expansion, never a self-join; a vector
  lives in exactly ONE cluster, so every pair has a unique emission
  site and the distinct-pair shuffle is skipped entirely
  (``distinct=False``);
- the cosine verify runs as a codegen row filter between the expansion
  and any shuffle, so only verified duplicate pairs (a tiny set) ever
  move;
- K must scale with the corpus (K ≈ N/target_cluster_size) to hold the
  per-cluster expansion bounded — same dial as the LSH plane count in
  SCALING.md. The method's documented approximation: near-duplicates
  that straddle a cluster boundary are not compared (that recall trade
  is the published algorithm's, not an implementation shortcut; the
  LSH path in dedup.py makes the opposite trade).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import round_half_up
from ..functions.vectors import as_double, cosine_from_norms_sql, dot_sql, norm
from .dedup import _bucket_pairs
from .similarity import ivf_assign

# cosine at or above which a training vector counts as eval leakage
DECONTAM_COS = 0.4


# cosine at or above which semantic_dup_pairs verifies a pair
SEMDEDUP_COS = 0.4


def semantic_dup_pairs(emb: DataFrame) -> DataFrame:
    """The SemDeDup candidate/verify stage on its own: verified
    within-cell duplicate pairs ``(doc_a, doc_b, cos)`` with
    ``doc_a < doc_b``, cosine rounded to 4 for display and verified at
    6-digit rounding >= ``SEMDEDUP_COS`` (the shared oracle discipline).
    The centroids are every 125th vector.
    """
    centroids = emb.filter(F.col("vec_id") % 125 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    assigned = ivf_assign(emb, centroids)
    return _pairs_from_assigned(assigned)


def _pairs_from_assigned(assigned: DataFrame) -> DataFrame:
    # Norms hoisted to once-per-vector BEFORE the in-cell expansion —
    # the embedding_dup_pairs_blocked verify discipline (dedup.py): the
    # per-pair predicate then pays ONE dot fold instead of three
    # (dot + both norms), which is the cost driver when cells are
    # ~stride-sized (BASELINE.md, "Other figures moved out of code
    # comments"). Bit-identical to cosine()'s fold — norm(as_double(v))
    # is the same expression on the same values and the division
    # associates identically — so the DuckDB oracle hash holds.
    with_n = assigned.withColumn("_n", norm("embedding"))
    # one F.expr parse per consumer: _bucket_pairs always
    # evaluates pair_pred on the named struct columns a/b, so the SQL
    # references are stable
    pair_cos_sql = cosine_from_norms_sql(
        dot_sql("a.embedding", "b.embedding"), "a._n", "b._n"
    )
    return _bucket_pairs(
        with_n,
        keys=["cid"],
        id_col="vec_id",
        payload_cols=("embedding", "_n"),
        pair_pred=lambda a, b: round_half_up(F.expr(pair_cos_sql), 6)
        >= SEMDEDUP_COS,
        distinct=False,  # one cluster per vector -> one emission site
    ).select(
        F.col("a.id").alias("doc_a"),
        F.col("b.id").alias("doc_b"),
        round_half_up(F.expr(pair_cos_sql), 4).alias("cos"),
    )


def _best_eval_match(scored: DataFrame) -> DataFrame:
    """Shared reduce for the decontamination arms: per train vector,
    the best (highest-cosine) eval match. Ties on the raw double break
    to the LOWEST eval id via lexicographic struct max over
    ``(cos, -eval_id)`` — the deterministic rule the DuckDB oracle
    replays as ``ORDER BY cos_raw DESC, eval_id``. The max is a
    partial-aggregable groupBy (map-side combine), so the only shuffle
    carries one pre-reduced row per train vector per partition."""
    best = scored.groupBy("vec_id").agg(
        F.max(
            F.struct(
                F.col("_cos_raw").alias("c"), (-F.col("_eid")).alias("nid")
            )
        ).alias("_b")
    )
    return best.select(
        "vec_id",
        (-F.col("_b.nid")).cast("long").alias("near_eval_id"),
        round_half_up(F.col("_b.c"), 4).alias("cos"),
        (round_half_up(F.col("_b.c"), 6) >= F.lit(DECONTAM_COS)).alias(
            "contaminated"
        ),
    )


def _decontam_guard(train: DataFrame, eval_set: DataFrame) -> None:
    taken = {"near_eval_id", "cos", "contaminated"}
    colliding = sorted(taken & set(train.columns))
    if colliding:
        raise ValueError(
            f"semantic_decontaminate: column names {colliding} are "
            "reserved for the output; rename them on the input first"
        )
    # the argmax tie-break negates the eval id, so it must be numeric —
    # a string id would silently cast to NULL and corrupt near_eval_id
    from pyspark.sql import types as T

    dt = eval_set.schema["vec_id"].dataType
    if not isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        raise ValueError(
            "semantic_decontaminate: eval id column 'vec_id' must "
            f"be an integer type (got {dt.simpleString()}) — the argmax "
            "tie-break orders on its negation; map string ids to a "
            "surrogate long first"
        )


def semantic_decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
) -> DataFrame:
    """Embedding-space benchmark decontamination, exact form: score
    every training vector by its maximum cosine against the held-out
    evaluation set and flag the ones at or above ``DECONTAM_COS``
    (6-digit-rounded compare, 4-digit display — the shared oracle
    discipline). The token-level twin is
    ``contamination.contamination_overlap``; this catches paraphrased /
    re-embedded eval leakage that shingle overlap cannot (the semantic
    decontamination step of modern pre-training pipelines).

    Returns ``(vec_id, near_eval_id, cos, contaminated)`` — one row per
    training vector (the full scored table, not just the flagged ones),
    with ``near_eval_id`` the argmax eval vector (ties -> lowest id).

    Scale shape: an eval set is SMALL by construction (benchmarks are
    thousands of rows, not billions), so it broadcasts with hoisted
    norms and the scan side is one map-only pass — the per-row cost is
    |eval| dot folds, and the groupBy max partial-aggregates map-side,
    so nothing corpus-sized shuffles. When the eval side outgrows a
    broadcast, use :func:`semantic_decontaminate_blocked`.

    An empty eval set yields an empty result (no baseline to leak
    against), not an all-false table — callers gating a corpus on the
    output must treat "no eval set" upstream.
    """
    _decontam_guard(train, eval_set)
    ev = F.broadcast(
        eval_set.select(
            F.col("vec_id").cast("long").alias("_eid"),
            as_double("embedding").alias("_ev"),
        ).withColumn("_en", norm("_ev"))
    )
    tr = train.select(
        F.col("vec_id"), as_double("embedding").alias("_tv")
    ).withColumn("_tn", norm("_tv"))
    # hoisted-norm cosine: the same fold and division as
    # functions.vectors.cosine and the oracle's _COS_DOUBLE, so values
    # are bit-identical across engines
    scored = tr.crossJoin(ev).withColumn(
        "_cos_raw",
        F.expr(cosine_from_norms_sql(dot_sql("_tv", "_ev"), "_tn", "_en")),
    )
    return _best_eval_match(scored)


def semantic_decontaminate_blocked(
    train: DataFrame,
    eval_set: DataFrame,
) -> DataFrame:
    """Blocked form of :func:`semantic_decontaminate` for eval sets too
    large to broadcast-scan: both sides of the 64-dim embeddings get the
    deterministic n-bit hyperplane sign bucket (similarity.lsh_bucket;
    n = similarity.lsh_planes of the training corpus, 8 at this suite's
    sizes), the eval side explodes each bucket into its full hamming-2
    ball (1 + C(n,1) + C(n,2) keys, 37 at n = 8 — the ball
    lives on the SMALL side, never the corpus), and candidates meet on
    a bucket equi-join; the exact hoisted-norm cosine verifies
    candidates only. Output schema matches the exact form, but only
    training vectors with >= 1 in-radius candidate appear, and
    ``near_eval_id``/``cos`` are the argmax over CANDIDATES — the
    documented recall trade (same as embedding_dup_pairs_blocked), which
    the oracle replays exactly via ``bit_count(xor(bucket_a, bucket_b))
    <= 2``.

    Scale shape: one map-only bucket pass per side, a bucket equi-join
    (broadcast when eval fits, hash-shuffle on the bucket key when not
    — either way no cross join), verify folds on candidates only, then
    the same partial-aggregable max reduce.
    """
    from itertools import combinations

    from .similarity import lsh_bucket, lsh_planes

    _decontam_guard(train, eval_set)
    n_planes = lsh_planes(train)
    masks = [0, *(1 << i for i in range(n_planes))]
    masks += [(1 << i) | (1 << j) for i, j in combinations(range(n_planes), 2)]

    bucket = lsh_bucket("_ev", 64, n_planes)
    ev = (
        eval_set.select(
            F.col("vec_id").cast("long").alias("_eid"),
            as_double("embedding").alias("_ev"),
        )
        .withColumn("_en", norm("_ev"))
        .withColumn("_eb", bucket)
        .withColumn(
            "_probe",
            F.explode(
                F.array(*[F.col("_eb").bitwiseXOR(F.lit(m)) for m in masks])
            ),
        )
    )
    tr = (
        train.select(F.col("vec_id"), as_double("embedding").alias("_tv"))
        .withColumn("_tn", norm("_tv"))
        .withColumn("_tb", lsh_bucket("_tv", 64, n_planes))
    )
    scored = tr.join(
        F.broadcast(ev), tr["_tb"] == ev["_probe"]
    ).withColumn(
        "_cos_raw",
        F.expr(cosine_from_norms_sql(dot_sql("_tv", "_ev"), "_tn", "_en")),
    )
    return _best_eval_match(scored)
