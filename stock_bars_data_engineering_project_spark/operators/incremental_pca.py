"""Incrementally maintained PCA sufficient statistics — the persisted
counterpart of operators/pca.py, completing the incremental-model
family (band-index dedup, IVF ANN, BM25 postings, n-gram LM state).

At 100 TB the whitening/projection model is refit as new batches are
accepted, and refitting must not re-scan history: PCA's sufficient
statistics (count, column sum, Gram matrix) are EXACTLY additive, so
each accepted batch's moments land in their own content-addressed
epoch partition (the same exactly-once-under-at-least-once epoch-log
discipline as lm_state: a redelivered batch derives the identical
epoch, finds its partition present and writes nothing — no
read-modify-write crash window), and the combined state is a pure
epoch-sum read feeding the same driver-side eigensolve ``fit_pca``
uses.

Storage shape: one (i, v) row per moment component per epoch —
i in [0, d) is the column sum, [d, d + d^2) the row-major Gram, and
i = -1 carries the row count (as a double: counts stay integer-exact
to 2^53, far beyond any corpus). The long-format rows make the
combined read ONE groupBy(i).sum — no array alignment, no ordering
assumptions — and keep a 3072-dim model at ~9.4M tiny rows per epoch,
still warehouse-trivial.

Unlike the LM's integer counts, double moments accumulate with
addition-order rounding, so "combined state ≡ full recount" here is a
relative-1e-9 LAW (flag-gated in the driver row), not a bit-identity;
replay idempotence IS exact because it is STRUCTURAL — a redelivered
batch's epoch is found already present and skipped before any moment
is recomputed, so the state bytes cannot move.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import content_epoch
from .pca import suffstats_rows


def _batch_moment_rows(batch: DataFrame, dim: int) -> DataFrame:
    """One batch's moments as (i int, v double) rows — the per-partition
    suffstats reduced by one tiny shuffle over d*(d+1) keys."""
    parts = suffstats_rows(batch, dim=dim)
    moments = (
        parts.select(
            F.posexplode(F.concat("colsum", "gram")).alias("i", "v")
        )
        .groupBy("i")
        .agg(F.sum("v").alias("v"))
        .select(F.col("i").cast("int").alias("i"), "v")
    )
    nrow = parts.agg(F.sum("n").cast("double").alias("v")).select(
        F.lit(-1).cast("int").alias("i"), "v"
    )
    return moments.unionByName(nrow)


def ingest_pca_batch(
    wh,
    batch: DataFrame,
    table: str = "pca_moments",
    dim: int = 64,
) -> str:
    """Fold one accepted batch's moments into the persisted state.
    Returns the content-addressed epoch id. Replay idempotence is
    STRUCTURAL: a redelivered batch derives the identical epoch, whose
    partition is found already present (a filesystem probe, no job) and
    skipped before any moment is computed — the state bytes are
    untouched, so idempotence never depends on bit-identical
    recomputation of shuffled double sums (Spark's partial-agg merge
    order is not deterministic; a rewrite could legally differ in the
    last ULP). Batches must partition the
    accepted corpus by ``vec_id`` (append-only ids), the standard
    epoch-log mergeability contract; empty batches are rejected loudly
    (an empty frame has no content address and no moments — the count
    rides the epoch string, so the check is free).

    A new epoch costs ONE suffstats pass over the batch, appended as its
    own partition, plus the id-column scan the content address needs.
    ``dim`` is stamped onto every state row; the read side refuses a
    state whose epochs disagree on it."""
    epoch = content_epoch(batch, "vec_id")
    if int(epoch.rsplit("n", 1)[-1]) == 0:
        raise ValueError("ingest_pca_batch: empty batch — nothing to ingest")
    if not wh.has_partition(table, "_epoch", epoch):
        wh.append(
            _batch_moment_rows(batch, dim)
            .withColumn("_epoch", F.lit(epoch))
            .withColumn("_dim", F.lit(dim)),
            table,
            partition_by=("_epoch",),
        )
    return epoch


def pca_moments_state(
    wh, table: str = "pca_moments", dim: int = 64
) -> tuple[int, np.ndarray, np.ndarray]:
    """The combined (n, mean, covariance) over every accepted epoch —
    a pure epoch-sum read (one groupBy(i) over the tiny state table),
    returned in exactly ``covariance_stats``'s shape so
    ``fit_pca_from_moments`` consumes it directly. The collect is
    d*(d+1) + 1 rows — driver-sized by design, same as
    covariance_stats' own reduction."""
    try:
        state = wh.read(table)
    except FileNotFoundError as e:
        raise ValueError(
            f"pca_moments_state: state table {table!r} is empty or lacks "
            "the count row — ingest at least one batch first"
        ) from e
    dims = [r._dim for r in state.select("_dim").distinct().collect()]
    if dims and (len(dims) > 1 or dims[0] != dim):
        # a 32-dim epoch's i-range is a SUBSET of a 64-dim one, so mixed
        # ingests could otherwise pass the row-count shape check below
        # and silently pollute the covariance
        raise ValueError(
            f"pca_moments_state: state table {table!r} holds dim(s) "
            f"{sorted(dims)}, read requested dim {dim} — wrong dim or a "
            "mixed-dim ingest"
        )
    summed = (
        state.groupBy("i")
        .agg(F.sum("v").alias("v"))
        .orderBy("i")
        .collect()
    )
    if not summed or summed[0].i != -1:
        raise ValueError(
            f"pca_moments_state: state table {table!r} is empty or lacks "
            "the count row — ingest at least one batch first"
        )
    n_total = int(summed[0].v)
    flat = np.array([r.v for r in summed[1:]])
    if flat.shape[0] != dim + dim * dim:
        raise ValueError(
            f"pca_moments_state: {flat.shape[0]} moment rows != "
            f"dim + dim^2 = {dim + dim * dim} — wrong dim for this state?"
        )
    colsum, gram = flat[:dim], flat[dim:].reshape(dim, dim)
    mean = colsum / n_total
    cov = gram / n_total - np.outer(mean, mean)
    return n_total, mean, cov
