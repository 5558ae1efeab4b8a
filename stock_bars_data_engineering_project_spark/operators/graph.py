"""Iterative graph algorithms over pair/edge frames.

The near-dup pipeline already runs one graph algorithm — large-star/
small-star connected components (operators/dedup.dedup_clusters).
This module adds PageRank over the same verified-pair graph: within a
duplicate cluster, the highest-PageRank member is the most-connected
copy (the one most other near-dups point at), a centrality signal
complementary to canonical_selection's quality argmax, and the
standard example of an iteration Spark expresses as join+aggregate
rounds (cf. GraphX/GraphFrames, the original Pregel paper's running
example).

Determinism contract (cross-engine oracle discipline): every
iteration's rank is rounded to ``round_dp`` BEFORE it feeds the next
round — identical inputs each round, so the only wiggle is each
round's SUM fold order, absorbed by the rounding (values are O(1e-2),
ULP noise is O(1e-18), the 9dp boundary is a 1e-9-probability
coincidence). Damping constants are written as the LITERALS 0.15 and
0.85 on both engines: ``1 - 0.85`` constant-folds to a DIFFERENT
double than the literal ``0.15``.

Scale shape: each round is one shuffle join + one aggregate on the
edge frame (pair-graph-sized — a small fraction of the corpus, the
dedup_clusters bound) with the node count as a broadcast 1-row
scalar; rounds materialize via the shared lineage-truncation switch
(durable checkpoints on a real cluster, by session conf). Fixed ``n_iter`` keeps the
oracle expressible as unrolled SQL rounds (the BPE discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import round_half_up
from ..materialize import materialize


def pagerank(pairs: DataFrame) -> DataFrame:
    """Three rounds of PageRank over an undirected pair graph: (node, pr) for every
    node appearing in some pair. Symmetric edges, no self-loops; every
    node has degree >= 1 by construction, so there is no dangling-mass
    term. Damping is the literal 0.85 the shipped oracles fold (see
    module docstring on constant folding)."""
    edges = materialize(
        pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ).unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        ).distinct()
    )
    # deg/contrib/n are static across rounds, so they materialize ONCE:
    # reusing only the plan objects would re-execute the degree groupBy,
    # the edges-deg join, and the countDistinct against the checkpointed
    # edges inside every round's plan — one redundant edge scan per round
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n = materialize(edges.agg(F.countDistinct("src").cast("double").alias("n")))
    teleport = F.lit(0.15)

    pr = materialize(
        edges.select("src")
        .distinct()
        .crossJoin(F.broadcast(n))
        .select(
            F.col("src").alias("node"),
            round_half_up(F.lit(1.0) / F.col("n"), 9).alias("pr"),
        )
    )
    # (src, dst, deg) — static per run, computed once
    contrib_src = materialize(edges.join(deg, "src"))
    for _ in range(3):
        pr = materialize(
            contrib_src.join(
                pr.select(F.col("node").alias("src"), "pr"), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("_s"))
            .crossJoin(F.broadcast(n))
            .select(
                "node",
                round_half_up(
                    teleport / F.col("n") + F.lit(0.85) * F.col("_s"),
                    9,
                ).alias("pr"),
            )
        )
    return pr
