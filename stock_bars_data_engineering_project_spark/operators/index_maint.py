"""Shared maintenance machinery for the persisted indexes.

The three index modules (``incremental_ann``, ``incremental_retrieval``,
``incremental_trgm``) share one lifecycle contract — O(batch) ingest,
O(ids) tombstones, fold-read-rebuild maintenance. The ANN rebuild is
geometric (retrain the quantizer) and stays in its module; the two
LEXICAL rebuilds are the SAME operation — re-hash postings into
factor× more buckets and publish atomically via the ``__meta``
generation pointer — so the generation addressing, the policy loop,
and the orphan sweep live here once (round-10 review: the two modules
had byte-identical 80-line copies that had to evolve in lockstep).

Atomic-publish protocol (shared wording of both module docstrings):
generation 0 is the plain ``<table>__postings``; a rebuild writes
generation g+1 COLD under ``<table>__postings_g{g+1}`` — no reader
resolves it — and ONE ``__meta`` snapshot swap publishes
(n_buckets, postings_gen) together. A crash before the swap leaves
every reader on the old generation, fully consistent; orphan
generations are swept by the next maintenance call. Re-bucketing is
answer-preserving by construction: bucket ids prune, never score.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_bucket48
from ..memo import build_once
from ..sinks.warehouse import ParquetWarehouse


def postings_table(table: str, gen: int = 0) -> str:
    """Generation-addressed postings table name (module docstring)."""
    return f"{table}__postings" if not gen else f"{table}__postings_g{gen}"


def read_meta(wh: ParquetWarehouse, meta_table: str) -> tuple[int, int]:
    """(n_buckets, postings_gen) from the one-row ``__meta`` table.
    ``postings_gen`` is absent on pre-rebuild indexes — read as 0.

    Memoized per committed version directory: every write path (ingest,
    tombstone fold, rebuild publish) commits a new one, so a hit never
    serves stale meta and plan construction skips the one-row scan
    job."""

    def _scan() -> tuple[int, int]:
        row = wh.read(meta_table).collect()[0].asDict()
        return int(row["n_buckets"]), int(row.get("postings_gen") or 0)

    version = wh._latest_version(meta_table)
    if version is None:
        # no committed snapshot — let wh.read raise its own loud error
        return _scan()
    vdir = os.path.join(wh.table_path(meta_table), version)
    return build_once(("index_meta",), (vdir,), _scan)


def sweep_generations(
    wh: ParquetWarehouse, table: str, current_gen: int
) -> None:
    """Drop every postings generation except the published one — the
    GC half of the atomic-publish protocol (superseded generations
    after a successful rebuild, cold orphans after a crashed one)."""
    prefix = f"{table}__postings_g"
    for t in wh.tables():
        if t == f"{table}__postings":
            if current_gen != 0:
                wh.drop(t)
            continue
        if t.startswith(prefix):
            tail = t[len(prefix):]
            if tail.isdigit() and int(tail) != current_gen:
                wh.drop(t)


def log_maintenance(wh: ParquetWarehouse, table: str, decision: dict) -> None:
    """K6 run-log line for an index-maintenance decision — the
    operational record the reference keeps for every pipeline run
    (log_metadata.py), applied to the maintenance loop so drift policy
    firings are auditable after the fact. Shared by all three index
    policies; one append-only row per call."""
    wh.log(
        f"{table}_maintenance",
        "maintain " + " ".join(f"{k}:{v}" for k, v in sorted(decision.items())),
    )


def maintain_bucketed_index(
    wh: ParquetWarehouse,
    table: str,
    meta_table: str,
    apply_deletes_fn,
    occupancy_fn,
    hash_col: str,
    carry_cols: tuple[str, ...],
    max_skew: float,
    rebucket_factor: int,
) -> dict:
    """The lexical index maintenance policy (maintain_ann_index's
    three-step contract, re-bucket instead of retrain):

    1. fold tombstones (``apply_deletes_fn`` — always, no-op clean);
    2. read the LIVE bucket skew (``occupancy_fn``);
    3. past ``max_skew``, re-hash ``hash_col`` into ``rebucket_factor``
       × more buckets (splits colliding-term hotspots; a single hot
       term's posting list is irreducible by any bucketing) and
       publish atomically via the generation pointer.

    ``carry_cols`` are the postings columns copied through the rebuild
    (hash_col first). Returns ``{"skew_ratio", "rebuilt", "n_buckets"}``
    after writing the K6 audit row."""
    if rebucket_factor < 2:
        raise ValueError(
            f"rebucket_factor must be >= 2, got {rebucket_factor}"
        )
    apply_deletes_fn(wh, table)
    n_buckets, gen = read_meta(wh, meta_table)
    occ = occupancy_fn(wh, table=table).select("skew_ratio").limit(1).collect()
    skew = float(occ[0]["skew_ratio"]) if occ else 0.0
    rebuilt = False
    if skew > max_skew:
        new_n = n_buckets * rebucket_factor
        new_gen = gen + 1
        old = wh.read(postings_table(table, gen))
        rebucketed = old.select(
            md5_bucket48(F.col(hash_col), new_n).alias("bkt"),
            *[F.col(c) for c in carry_cols],
        ).repartition("bkt")
        wh.overwrite(
            rebucketed, postings_table(table, new_gen), partition_by=("bkt",)
        )
        spark = old.sparkSession
        # the atomic publish: one snapshot swap flips n_buckets and the
        # postings generation together
        wh.overwrite(
            spark.createDataFrame(
                [(new_n, new_gen)], "n_buckets int, postings_gen int"
            ),
            meta_table,
        )
        n_buckets, gen, rebuilt = new_n, new_gen, True
    sweep_generations(wh, table, gen)
    decision = {
        "skew_ratio": skew, "rebuilt": rebuilt, "n_buckets": n_buckets
    }
    log_maintenance(wh, table, decision)
    return decision
