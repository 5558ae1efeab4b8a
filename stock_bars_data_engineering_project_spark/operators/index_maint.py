"""The persisted-index lifecycle, defined once for the IVF ANN index
(``incremental_ann``) and the two lexical indexes (BM25,
``incremental_retrieval``; trigram, ``incremental_trgm``).

Tables (``table`` = the index name):

- lexical: ``<table>__postings``, hive-partitioned by ``bkt`` = the
  48-bit md5 bucket of the term; ``<table>__docs``, the membership
  (doc_id plus family columns); ``<table>__meta``, ONE row (n_buckets).
- ANN: ``<table>`` (the inverted lists, hive-partitioned by ``cid``)
  and ``<table>__centroids``.
- all three: ``<table>__deleted``, the tombstones (one id column).

Contract:

- **Build** (lexical: :func:`build_lexical_index`) writes postings and
  membership as two overlapped jobs and commits ``__meta`` LAST: every
  reader resolves the index through it, so a crashed build is an
  unpublished directory the next build overwrites.
- **Ingest** (lexical: :func:`ingest_docs`) is O(batch) and
  replay-idempotent: ids already in the membership anti-join away, then
  the survivors' postings append BEFORE their membership rows. A crash
  between the two appends leaves orphan postings; redelivery appends
  them again, and the queries' full-row dedup on the pruned probe slice
  heals the overlap. Ids are non-NULL (a NULL can neither be
  replay-deduped nor tombstoned) and immutable: a changed text under an
  old id is ignored, not merged.
- **Delete** (:func:`delete_ids`) appends ids to ``__deleted``, O(ids);
  every query anti-joins them (:func:`not_deleted`) out of its pruned
  probe slice. A tombstoned id stays dead to queries and re-ingest
  until :func:`apply_deletes` rewrites the row tables without it
  (keeping their hive layout) and clears the tombstones. Duplicate
  tombstones change nothing.
"""

from __future__ import annotations

import os
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize
from ..memo import build_once, run_chains
from ..session import local_frame
from ..sinks.warehouse import ParquetWarehouse


def postings_table(table: str) -> str:
    return f"{table}__postings"


def docs_table(table: str) -> str:
    return f"{table}__docs"


def meta_table(table: str) -> str:
    return f"{table}__meta"


def deleted_table(table: str) -> str:
    return f"{table}__deleted"


def read_meta(wh: ParquetWarehouse, table: str) -> int:
    """n_buckets of a lexical index.

    Memoized per committed ``__meta`` version directory: every write
    path commits a new one, so a hit never serves stale meta and plan
    construction skips the one-row scan job."""
    meta = meta_table(table)

    def _scan() -> int:
        return int(wh.read(meta).collect()[0]["n_buckets"])

    version = wh.latest_version(meta)
    if version is None:
        # no committed snapshot: let wh.read raise its own loud error
        return _scan()
    vdir = os.path.join(wh.table_path(meta), version)
    return build_once(("index_meta",), (vdir,), _scan)


class Layout(NamedTuple):
    """What the tombstone path needs to know about an index layout."""

    id_col: str  # the id column of the row tables and the tombstones
    hive_col: str  # the partition column apply_deletes preserves
    # name suffixes of the tables holding index rows, the
    # hive-partitioned one first
    row_suffixes: tuple[str, ...]

    def row_tables(self, table: str) -> list[str]:
        return [table + suffix for suffix in self.row_suffixes]


BUCKETED = Layout("doc_id", "bkt", ("__postings", "__docs"))
IVF = Layout("vec_id", "cid", ("",))


def _reject_nulls(df: DataFrame, col: str, message: str) -> DataFrame:
    """Raise ``message`` when a row with a NULL ``col`` is evaluated; a
    filter-borne raise_error survives any downstream projection."""
    return df.filter(
        F.when(
            F.col(col).isNull(), F.raise_error(F.lit(message)).cast("boolean")
        ).otherwise(F.lit(True))
    )


def delete_ids(
    wh: ParquetWarehouse, ids, table: str, layout: Layout
) -> None:
    """Tombstone ``ids`` (a 1-column DataFrame or an iterable of ints)
    in the ``table`` index. Raises FileNotFoundError when the index was
    never built, and on evaluation of a NULL id."""
    for t in layout.row_tables(table):
        if not wh.exists(t):
            raise FileNotFoundError(
                f"no such table: {t} (build index {table!r} first)"
            )
    if not isinstance(ids, DataFrame):
        ids = local_frame(
            wh.spark, [(int(i),) for i in ids], f"{layout.id_col} long"
        )
    ids = _reject_nulls(
        ids.select(F.col(ids.columns[0]).alias(layout.id_col)),
        layout.id_col,
        f"{table} index: NULL {layout.id_col} tombstone",
    )
    if wh.exists(deleted_table(table)):
        wh.append(ids, deleted_table(table))
    else:
        wh.overwrite(ids, deleted_table(table))


def not_deleted(
    wh: ParquetWarehouse, table: str, df: DataFrame, id_col: str
) -> DataFrame:
    """``df`` without the rows whose ``id_col`` is tombstoned."""
    if not wh.exists(deleted_table(table)):
        return df
    dead = wh.read(deleted_table(table))
    dead = dead.select(F.col(dead.columns[0]).alias("__dead_id")).distinct()
    return df.join(dead, df[id_col] == dead["__dead_id"], "left_anti")


def apply_deletes(wh: ParquetWarehouse, table: str, layout: Layout) -> None:
    """Compaction: rewrite every row table without the tombstoned ids,
    re-partitioned by ``layout.hive_col`` where the table carries it
    (so probe-time static partition pruning survives), then clear the
    tombstones. Afterwards a deleted id may be re-ingested."""
    if not wh.exists(deleted_table(table)):
        return
    hive = layout.hive_col
    for t in layout.row_tables(table):
        rows = not_deleted(wh, table, wh.read(t), layout.id_col)
        if hive in rows.columns:
            wh.overwrite(
                materialize(rows.repartition(hive)), t, partition_by=(hive,)
            )
        else:
            wh.overwrite(materialize(rows), t)
    wh.drop(deleted_table(table))


class LexicalFamily(NamedTuple):
    """The batch transforms that make a lexical index BM25 or trigram.

    Both read the batch's ``doc_id`` and ``text``: ``postings(batch,
    n_buckets)`` returns (bkt, term, doc_id, ...), term first after bkt;
    ``members(batch)`` returns (doc_id, ...)."""

    postings: Callable[[DataFrame, int], DataFrame]
    members: Callable[[DataFrame], DataFrame]


def _require_ids(batch: DataFrame, table: str) -> DataFrame:
    return _reject_nulls(
        batch,
        "doc_id",
        f"{table} index: NULL doc_id — ids must be non-NULL for "
        "replay-idempotent ingest",
    )


def build_lexical_index(
    wh: ParquetWarehouse,
    docs: DataFrame,
    table: str,
    family: LexicalFamily,
) -> None:
    """Build a lexical index from scratch (module docstring, Build)."""
    docs = _require_ids(docs, table)
    run_chains(
        postings=lambda: wh.overwrite(
            family.postings(docs, 64),
            postings_table(table),
            partition_by=("bkt",),
        ),
        members=lambda: wh.overwrite(
            family.members(docs), docs_table(table)
        ),
    )
    wh.overwrite(
        local_frame(wh.spark, [(64,)], "n_buckets int"),
        meta_table(table),
    )


def ingest_docs(
    wh: ParquetWarehouse,
    batch: DataFrame,
    table: str,
    family: LexicalFamily,
) -> int:
    """Fold ``batch`` into a lexical index (module docstring, Ingest).
    Returns the number of newly indexed documents."""
    n_buckets = read_meta(wh, table)
    batch = _require_ids(batch, table)
    known = wh.read(docs_table(table)).select("doc_id")
    new_docs = materialize(
        batch.join(known, batch["doc_id"] == known["doc_id"], "left_anti")
    )  # consumed twice below; the anti-join runs once
    members = family.members(new_docs)
    n_new = int(members.agg(F.count(F.lit(1)).alias("n")).collect()[0].n)
    if n_new == 0:
        return 0
    wh.append(
        family.postings(new_docs, n_buckets),
        postings_table(table),
    )
    wh.append(members, docs_table(table))
    return n_new
