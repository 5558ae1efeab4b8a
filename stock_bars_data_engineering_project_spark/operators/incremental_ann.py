"""Incremental ANN index maintenance — a persisted IVF index that
absorbs new vector batches without retraining or re-assigning the
existing corpus.

The vector analog of the band-index dedup module
(``incremental_dedup.py``): at 100 TB you cannot re-run even a
map-only assignment over the whole corpus for every arriving batch,
and you certainly cannot re-train. The warehouse keeps two tables:

- ``<table>__centroids`` — (cid, cv), the coarse quantizer, a few
  hundred rows, trained ONCE (stride seed + Lloyd polish);
- ``<table>`` — (vec_id, embedding, cid), the inverted lists,
  hive-partitioned by cid.

A new batch then costs exactly one broadcast-argmin assignment of the
BATCH (``ivf_assign`` — map-only, centroid array broadcast) plus a
keyed merge whose rewrite prunes to the cid partitions the batch
touches. Queries probe 3 lists; because the probed cid set is
bounded by K (the centroid count) no matter how many queries arrive,
the probe filter is a driver-side literal list — STATIC partition
pruning on the index scan, so a query touches 3/K of the files on
disk, not just 3/K of the rows.

Drift contract: centroids are frozen between rebuilds, so heavy
ingestion skews list occupancy and degrades recall gradually (the
standard IVF operational trade); a rebuild (:func:`build_ann_index`
over the stored vectors) retrains them.

Deletes and the layout-preserving tombstone fold are the shared index
lifecycle (``operators/index_maint.py``, layout
:data:`~.index_maint.IVF`: ids in ``vec_id``, lists partitioned by
``cid``); centroids are untouched by a fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import round_half_up
from ..functions.vectors import cosine
from ..sinks.warehouse import ParquetWarehouse
from .index_maint import not_deleted
from .similarity import ivf_assign, kmeans_refine, l2sq
from .skew import salted_topk


def _centroids_table(table: str) -> str:
    return f"{table}__centroids"


# quantizer training of build_ann_index: every CENTROID_STRIDE-th
# vec_id seeds a centroid, then REFINE_ITERS Lloyd passes
CENTROID_STRIDE = 100
REFINE_ITERS = 0


def build_ann_index(
    wh: ParquetWarehouse,
    corpus: DataFrame,
    table: str = "ann_index",
) -> None:
    """Train the quantizer (deterministic stride seed + ``REFINE_ITERS``
    Lloyd passes) and materialize the inverted lists, partitioned by
    cid. One assignment pass over the corpus — the only time the full
    corpus is ever assigned."""
    seed = corpus.filter(F.col("vec_id") % CENTROID_STRIDE == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    cent = kmeans_refine(corpus, seed, REFINE_ITERS)
    # co-locate each inverted list before the hive-partitioned write:
    # without this, every one of the assignment's N shuffle partitions
    # writes its own sliver into every cid dir — N x K tiny files where
    # K files suffice (the small-files problem that makes list scans
    # metadata-bound at scale)
    assigned = ivf_assign(corpus, cent).repartition("cid")
    # a crashed build (centroids written, lists not) is rebuilt from
    # scratch: the centroids→lists window was never crash-atomic
    wh.overwrite(cent, _centroids_table(table))
    wh.overwrite(assigned, table, partition_by=("cid",))


def ingest_vectors(
    wh: ParquetWarehouse,
    batch: DataFrame,
    table: str = "ann_index",
) -> None:
    """Fold a new vector batch into the index: assign against the
    FROZEN stored centroids (map-only) and merge into the lists. The
    merge keys include cid so the rewrite prunes to the partitions the
    batch lands in; re-ingesting an identical batch rewrites identical
    partitions — idempotent."""
    cent = wh.read(_centroids_table(table))
    # tombstoned ids are dead to re-ingest until apply_deletes drops
    # them physically — without this anti-join the merge would rewrite
    # a row the query path anti-joins out anyway, paying a partition
    # rewrite for a vector that stays invisible
    live_batch = not_deleted(wh, table, batch, "vec_id")
    # same list co-location as the build write (see build_ann_index)
    assigned = ivf_assign(live_batch, cent).repartition("cid")
    wh.merge(assigned, table, keys=("cid", "vec_id"), partition_by=("cid",))


def ann_query(
    wh: ParquetWarehouse,
    queries: DataFrame,
    table: str = "ann_index",
) -> DataFrame:
    """Probe the stored index: the 3 nearest lists per query, exact
    cosine top-10 within the probed lists, salted bounded-fan-in ranking —
    identical semantics to ``ivf_topk`` with the same centroids, minus
    any corpus-side recompute.

    The probed cid set is collected driver-side as a literal IN filter:
    it is bounded by K (≤ centroid count) regardless of |queries| — the
    same sanctioned bounded-scalar class as the 10-row symbol list —
    and it is what turns the probe into static partition pruning on the
    cid-partitioned scan."""
    cent = wh.read(_centroids_table(table)).select(
        "cid", F.col("cv").alias("cv")
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    qc = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("d2", l2sq("q_vec", "cv"))
        .withColumn(
            "probe_rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("d2", "cid")
            ),
        )
        .filter(F.col("probe_rank") <= 3)
        .select("query_id", "q_vec", "cid")
    )
    probed_cids = [r["cid"] for r in qc.select("cid").distinct().collect()]
    # tombstones anti-join out on the already-pruned probe slice, not
    # the whole index
    index = not_deleted(
        wh, table, wh.read(table).filter(F.col("cid").isin(probed_cids)), "vec_id"
    )
    cand = index.join(F.broadcast(qc), "cid").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.withColumn(
        "cos", round_half_up(cosine("q_vec", "embedding"), 6)
    )
    return salted_topk(scored, ("query_id",), "cos", "vec_id", 10).select(
        "query_id", "vec_id", "cos", "rank"
    )
