"""Versioned parquet warehouse — the engine's durable table store.

The reference's durable store is PostgreSQL with three load methods —
insert / overwrite / upsert-on-PK
(/root/reference/etl_project/connectors/postgresql.py:70-91) — and its
upsert is the one operation plain parquet cannot do transactionally
(SURVEY §4). This module supplies the missing piece without requiring
Delta/Iceberg jars: each table is a directory of immutable snapshot
versions plus an atomically-replaced pointer file.

    <root>/<table>/v000001/part-*.parquet      immutable snapshot
    <root>/<table>/v000002/...
    <root>/<table>/_LATEST                     text file: "v000002"

Writers never mutate a live snapshot: they write a NEW version directory
then ``os.replace`` the pointer — readers of the old snapshot are
unaffected (snapshot isolation for free), and a crashed write leaves only
an unreferenced directory. This is the same commit-protocol idea as
Delta's _delta_log, reduced to a single pointer.

Every version directory is self-contained: it holds every data file of
its snapshot, so a read, a vacuum or a restore looks at one directory.
APPEND is O(batch) in bytes, not O(table): it writes only the batch's
files into the new version directory, then hardlinks every parquet file
of the live snapshot into it (:meth:`_carry_over`, the same step merge
and delete_where use for untouched partitions). Data files are
immutable once written, so sharing inodes is safe, costs O(files)
metadata, and survives ``vacuum`` (deleting an old version dir unlinks
names, never a shared inode). At 100 TB on an object store this step is
a file-reference manifest (Iceberg/Delta); hardlinks are its local-FS
realization. One version dir holds one schema: a numeric-widening
append rewrites the table in the wider types instead of linking files
of the narrower ones beside it.

Scale posture: snapshots can be hive-partitioned (``partition_by``), and
``merge`` prunes the rewrite to ONLY the partitions present in the
source batch — at 100 TB with date-partitioned facts an incremental
upsert rewrites a handful of date partitions, not the table. The
unpartitioned fallback is a full anti-join rewrite, which is what
MERGE degenerates to on any engine when the target isn't partitioned.

Layout rule (every write verb): a new table takes the caller's
``partition_by`` (none if omitted); an existing table keeps the layout
its live snapshot recorded (``_LAYOUT``) when ``partition_by`` is
``None`` or equal to it. A different layout is a full rewrite, so only
``overwrite`` accepts it; ``append`` and ``merge`` raise
``ValueError`` — their batch writes and pruned rewrites share the
live snapshot's files, which a second layout would make unreadable or
silently drop. ``delete_where`` and ``compact`` always keep the
recorded layout.
"""

from __future__ import annotations

import contextlib
import fcntl
import glob
import os
import shutil
import socket
import tempfile
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import materialize
from ..memo import build_once
from ..session import local_frame

_POINTER = "_LATEST"
_LAYOUT = "_LAYOUT"
# a contended writer lock is retried this many times, with exponential
# backoff from the base delay (~3 s in total)
LOCK_RETRIES = 5
LOCK_RETRY_BASE_S = 0.1
# newest snapshots vacuum keeps besides the live one
VACUUM_KEEP_LAST = 2


def _read_version_dir(spark: SparkSession, path: str) -> DataFrame:
    # Version dirs are immutable once written (module contract above),
    # so the read of one (file listing + parquet schema inference) is
    # memoizable per session. The path's stat in the key guards the one
    # path that can reuse a version dir with new content: drop_table +
    # recreate restarts the version counter. DataFrames are immutable
    # plans, so consumers can share one.
    return build_once(
        ("version_read", id(spark)), (path,), lambda: spark.read.parquet(path)
    )


def _local_path(p: str) -> str:
    """Local filesystem path of a ``_metadata.file_path`` value, which
    Spark reports as a file: URI (``file:///...`` or ``file:/...``)."""
    if p.startswith("file:"):
        from urllib.parse import unquote, urlparse

        return unquote(urlparse(p).path)
    return p


_NUMERIC_TYPES = {"tinyint", "smallint", "int", "bigint", "float", "double"}


def _types_compatible(a: str, b: str) -> bool:
    """True when Spark's union alignment resolves the pair implicitly
    (numeric widening family, incl. decimals) — the read stays sound,
    so the append type-drift guard lets it through."""
    if a == b:
        return True
    num_a = a in _NUMERIC_TYPES or a.startswith("decimal")
    num_b = b in _NUMERIC_TYPES or b.startswith("decimal")
    return num_a and num_b


def _partition_values_pred(parts: list[tuple], partition_by) -> "Column":
    """Static partition-pruning predicate from a bounded list of touched
    partition-value tuples (NULL-safe): OR over per-partition AND terms;
    false for no tuples."""
    pred = None
    for vals in parts:
        conj = None
        for c, v in zip(partition_by, vals):
            term = F.col(c).isNull() if v is None else (F.col(c) == F.lit(v))
            conj = term if conj is None else (conj & term)
        pred = conj if pred is None else (pred | conj)
    return F.lit(False) if pred is None else pred


def _colocated(df: DataFrame, partition_by: tuple[str, ...]) -> DataFrame:
    """Co-locate each hive partition before a write: without it each of
    the upstream shuffle's N partitions writes a sliver into every
    partition dir — N×P files where P suffice, and every later read of
    the table pays for listing them."""
    if partition_by:
        return df.repartition(*[F.col(c) for c in partition_by])
    return df


@dataclass
class ParquetWarehouse:
    spark: SparkSession
    root: str

    # -- catalog (S7/S8: probe + schema reflection) -------------------------

    def table_path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        """S7: catalog probe (reference: inspect(engine).has_table,
        stock_bars.py:36)."""
        return os.path.isfile(os.path.join(self.table_path(table), _POINTER))

    def schema(self, table: str):
        """S8: schema reflection off the live table (stock_bars.py:63-66)."""
        return self.read(table).schema

    def drop(self, table: str) -> None:
        shutil.rmtree(self.table_path(table), ignore_errors=True)

    def tables(self) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(
            t for t in os.listdir(self.root) if self.exists(t)
        )

    def latest_version(self, table: str) -> str | None:
        """The live snapshot's version id (``None`` for a missing table);
        it changes on every committed write."""
        try:
            with open(os.path.join(self.table_path(table), _POINTER)) as f:
                return f.read().strip()
        except FileNotFoundError:
            return None

    def has_partition(self, table: str, column: str, value) -> bool:
        """True iff the live snapshot holds the hive partition
        ``column=value`` — a filesystem probe of its version dir, no
        Spark job. ``str(value)`` must be a literal dir name (nothing
        Spark would escape)."""
        v = self.latest_version(table)
        layout = self._layout(table, v) if v else ()
        if column not in layout:
            return False
        seg = ["*"] * layout.index(column) + [glob.escape(f"{column}={value}")]
        return bool(glob.glob(os.path.join(self.table_path(table), v, *seg)))

    # -- snapshot machinery -------------------------------------------------

    @contextlib.contextmanager
    def _write_lock(self, table: str):
        """Per-table writer mutex for the read->snapshot->commit span.

        Two concurrent writers would otherwise both read the same
        ``_LATEST``, compute the same next version, and the second
        pointer flip would silently discard the first writer's committed
        rows (lost update — the reference's PostgreSQL store is
        transactional here).

        Contention policy: TRANSIENT contention is legitimate
        concurrency — two pipeline steps appending different batches to
        the same table are both correct, just serialized — so a failed
        claim retries ``LOCK_RETRIES`` times with exponential backoff
        (base ``LOCK_RETRY_BASE_S``) and proceeds once the holder
        commits; version allocation happens UNDER the lock, so the
        retried writer correctly builds on the winner's commit.

        The lock is a ``flock`` on ``._writer_lock``, a file that is
        never deleted; the kernel releases it when its holder exits, so
        a crashed writer leaves nothing to break by hand. The holder's
        ``host:pid`` is written into the file for the error message
        only. Contention that OUTLASTS the budget fails loudly with the
        holder.
        """
        tdir = self.table_path(table)
        os.makedirs(tdir, exist_ok=True)
        fd = os.open(os.path.join(tdir, "._writer_lock"), os.O_CREAT | os.O_RDWR)
        try:
            for attempt in range(LOCK_RETRIES + 1):
                if attempt:
                    time.sleep(LOCK_RETRY_BASE_S * (2 ** (attempt - 1)))
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except BlockingIOError:
                    continue
            else:
                holder = os.pread(fd, 256, 0).decode(errors="replace").strip()
                raise RuntimeError(
                    f"concurrent writer on table {table!r} (lock held by "
                    f"{holder or 'unknown'} past {LOCK_RETRIES} backoff "
                    f"retries); single-writer-per-table is the contract"
                )
            os.ftruncate(fd, 0)
            os.pwrite(fd, f"{socket.gethostname()}:{os.getpid()}".encode(), 0)
            yield
        finally:
            os.close(fd)  # releases the lock

    def _version(self, table: str, version: str | None = None) -> str:
        """``version``, or the live one; raises for a missing table."""
        v = version or self.latest_version(table)
        if v is None:
            raise FileNotFoundError(f"no such table: {table}")
        return v

    def _resolve_layout(
        self,
        table: str,
        partition_by: tuple[str, ...] | None,
        relayout: bool = False,
    ) -> tuple[str, ...]:
        """The hive layout a write commits, by the module's layout rule;
        ``relayout`` marks the full rewrites that may change it. Call
        under the table's writer lock."""
        cur = self.latest_version(table)
        if cur is None:
            return tuple(partition_by or ())
        live = self._layout(table, cur)
        if partition_by is None:
            return live
        if tuple(partition_by) != live and not relayout:
            raise ValueError(
                f"{table!r} is laid out by partition_by={live!r}, not "
                f"{tuple(partition_by)!r}; only overwrite may "
                "change a table's layout"
            )
        return tuple(partition_by)

    def _next_version(self, table: str) -> str:
        # Allocate past the max ON-DISK version, not the _LATEST pointer:
        # after restore() the pointer points backwards, and pointer-based
        # allocation would re-issue an existing version number — the new
        # write would then clobber a retained snapshot that a pinned
        # reader or a later restore still expects to be immutable.
        on_disk = self.versions(table)
        n = int(on_disk[-1][1:]) + 1 if on_disk else 1
        return f"v{n:06d}"

    def _commit(self, table: str, version: str) -> None:
        """Atomic pointer flip — the entire 'transaction'."""
        tdir = self.table_path(table)
        fd, tmp = tempfile.mkstemp(dir=tdir, prefix="._ptr")
        with os.fdopen(fd, "w") as f:
            f.write(version)
        os.replace(tmp, os.path.join(tdir, _POINTER))

    def _write_snapshot(
        self, df: DataFrame, table: str, partition_by: tuple[str, ...] = ()
    ) -> str:
        version = self._next_version(table)
        path = os.path.join(self.table_path(table), version)
        if os.path.exists(path):
            # snapshot dirs are immutable once written; an existing dir
            # here means version allocation went wrong — refuse rather
            # than overwrite a retained snapshot
            raise RuntimeError(
                f"refusing to write snapshot {version} of {table!r}: "
                f"{path} already exists (version allocation bug)"
            )
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        if partition_by:
            # the recorded layout is what later writes resolve against
            # (module docstring, layout rule)
            with open(os.path.join(path, _LAYOUT), "w") as f:
                f.write(",".join(partition_by))
        return version

    def _layout(self, table: str, version: str) -> tuple[str, ...]:
        """Partition columns the snapshot was written with (() if
        unpartitioned) — read from the version's _LAYOUT record."""
        try:
            with open(
                os.path.join(self.table_path(table), version, _LAYOUT)
            ) as f:
                cols = f.read().strip()
                return tuple(c for c in cols.split(",") if c)
        except FileNotFoundError:
            return ()

    # -- reads --------------------------------------------------------------

    def read(self, table: str, version: str | None = None) -> DataFrame:
        """S5: full-table scan of the latest (or a pinned) snapshot."""
        v = self._version(table, version)
        return _read_version_dir(self.spark, os.path.join(self.table_path(table), v))

    # -- writes (K1/K2/K3/K4) ----------------------------------------------

    def append(
        self,
        df: DataFrame,
        table: str,
        partition_by: tuple[str, ...] | None = None,
    ) -> None:
        """K1: append insert (postgresql.py:70-73) — new snapshot = old ∪ batch.

        Only the batch's files are written (O(batch) I/O however large
        the table — the requirement at 100 TB, where rewriting a table
        to add a day of data is the difference between a pipeline and a
        joke); every file of the live snapshot then carries into the new
        version dir as a hardlink (:meth:`_carry_over`). Snapshot
        isolation is unchanged: the pointer flip is still the whole
        transaction, and a crash before it leaves an orphan dir that no
        reader sees and ``vacuum`` reaps.

        Schema drift refuses loudly, at write time, where the writer can
        still fix the batch. A numeric-widening batch (int into a bigint
        table, or the reverse) cannot share a dir with the table's files
        — a single-dir parquet read takes its schema from one footer and
        mis-reads the others — so it rewrites the table as
        ``existing ∪ batch`` in the wider types.
        """
        with self._write_lock(table):
            partition_by = self._resolve_layout(table, partition_by)
            prev = self.latest_version(table)
            if prev is None:
                version = self._write_snapshot(df, table, partition_by)
                self._commit(table, version)
                return
            existing = self.read(table)
            prev_cols = set(existing.columns)
            if set(df.columns) != prev_cols:
                raise ValueError(
                    f"append to {table!r}: schema drift (batch columns "
                    f"{sorted(set(df.columns) ^ prev_cols)} differ)"
                )
            # TYPE drift too: a same-name INCOMPATIBLE type change
            # passes the column-set check but detonates at READ time,
            # turning a bad write into a poisoned table. Numeric-widening
            # pairs are fine (the union below resolves them), and hive
            # partition columns are exempt — their read-back dtype is
            # DIRNAME INFERENCE (a bigint bkt comes back int), not
            # anything the writer controls.
            prev_types = dict(existing.dtypes)
            changed = [
                (c, t, prev_types[c])
                for c, t in df.dtypes
                if c not in partition_by and prev_types[c] != t
            ]
            mismatched = [m for m in changed if not _types_compatible(m[1], m[2])]
            if mismatched:
                raise ValueError(
                    f"append to {table!r}: type drift — "
                    + ", ".join(
                        f"{c!r} is {t} but the table has {pt}"
                        for c, t, pt in mismatched
                    )
                    + "; cast the batch to the table's types"
                )
            if changed:
                version = self._write_snapshot(
                    existing.unionByName(df), table, partition_by
                )
            else:
                # the table's column order, so whichever footer a read
                # samples carries the same schema
                version = self._write_snapshot(
                    df.select(*existing.columns), table, partition_by
                )
                self._carry_over(table, prev, version, len(partition_by), set())
            self._commit(table, version)

    def overwrite(
        self,
        df: DataFrame,
        table: str,
        partition_by: tuple[str, ...] | None = None,
    ) -> None:
        """K2: drop-and-replace (postgresql.py:75-77) as a snapshot flip.

        ``partition_by=None`` (the default) keeps the live snapshot's
        recorded hive layout; an explicit layout, ``()`` included,
        re-lays the table out (module docstring, layout rule).
        """
        with self._write_lock(table):
            partition_by = self._resolve_layout(
                table, partition_by, relayout=True
            )
            version = self._write_snapshot(df, table, partition_by)
            self._commit(table, version)

    def merge(
        self,
        source: DataFrame,
        table: str,
        keys: tuple[str, ...],
        partition_by: tuple[str, ...] | None = None,
    ) -> None:
        """K3: keyed upsert — MERGE WHEN MATCHED UPDATE SET * / WHEN NOT
        MATCHED INSERT * (postgresql.py:79-91).

        Source is deduped on the keys first: PG's ON CONFLICT errors if one
        statement touches a PK twice (SURVEY Q6), so unique-by-key is part
        of the operation's contract, made explicit here.

        The deduped batch is evaluated exactly once, through
        ``materialize``, before the writer lock is taken; the partition
        probe, the anti-join, the union and a first write all read that
        one result. A live source (a REST API, a stream) can return
        different rows to two evaluations, and the merge would then
        write a duplicate key or drop a row; and a slow source evaluated
        under the lock would hold every other writer of the table off
        while it runs.

        new = source ∪ (target ⟕anti source on keys) — one shuffle each
        side on the key columns. When the table is hive-partitioned on
        columns of the merge key, the rewrite is pruned PHYSICALLY to
        the partitions the source touches (:meth:`_rewrite_partitions`):
        only their merged rows are written and every untouched
        partition's files carry over as hardlinks, so merge I/O is
        O(touched + batch) however large the table.
        """
        from ..operators.merge import upsert_frames

        src = materialize(source.dropDuplicates(list(keys)))
        with self._write_lock(table):
            partition_by = self._resolve_layout(table, partition_by)
            prev = self.latest_version(table)
            if prev is None:
                version = self._write_snapshot(
                    _colocated(src, partition_by), table, partition_by
                )
                self._commit(table, version)
                return

            def upsert(target: DataFrame) -> DataFrame:
                return upsert_frames(target, src, keys, source_unique=True)

            target = self.read(table)

            def data_types(df: DataFrame) -> dict[str, str]:
                return {c: t for c, t in df.dtypes if c not in partition_by}

            if (
                partition_by
                and set(partition_by) <= set(src.columns)
                and set(partition_by) <= set(keys)
                and data_types(src) == data_types(target)
            ):
                # The pruned rewrite is SOUND ONLY when (a) the partition
                # columns are part of the merge key — otherwise a key
                # whose partition value changed (id=1 moving from date
                # D1 to D2) leaves its old row in an untouched partition
                # the anti-join cannot evict; (b) the batch carries the
                # table's data types — rewritten and linked files share
                # one dir, and a single-dir read takes its schema from
                # one footer, so an int file beside a bigint one makes
                # the snapshot unreadable. Anything else takes the full
                # rewrite. The touched values are batch-derived and
                # bounded, so they collect to driver literals.
                values = src.select(*partition_by).distinct()
                parts = [tuple(r) for r in values.collect()]
                version = self._rewrite_partitions(
                    table, prev, target, partition_by, parts, values, upsert
                )
            else:
                version = self._write_snapshot(
                    _colocated(upsert(target), partition_by),
                    table,
                    partition_by,
                )
            self._commit(table, version)

    def delete_where(self, table: str, predicate) -> int:
        """DML DELETE as a snapshot write — the verb the append/merge
        pair was missing, and the one GDPR/right-to-be-forgotten makes
        mandatory at 100 TB. ``predicate`` (a Column or SQL string)
        selects rows to DELETE; rows where it evaluates NULL are KEPT
        (SQL DELETE semantics — a NULL condition deletes nothing).

        On a hive-partitioned table the rewrite is
        merge's physical partition-pruned rewrite
        (:meth:`_rewrite_partitions`): one pushdown-filtered scan finds
        the touched partition values (bounded driver metadata), only
        those partitions' SURVIVORS are rewritten, and every untouched
        partition's immutable files hardlink-carry into the new
        snapshot — I/O is O(touched), however large the table. Unlike
        merge's pruned path this needs no key/partition containment
        condition: deletes never move a row between partitions.

        Returns the number of touched partitions (0 = nothing matched,
        in which case NO new version is committed — so replaying a
        delete is a no-op, the idempotence contract every mutation here
        carries). Unpartitioned tables take the full-rewrite fallback
        (correct, not pruned).
        """
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        hit = F.coalesce(pred.cast("boolean"), F.lit(False))
        with self._write_lock(table):
            prev = self._version(table)
            partition_by = self._layout(table, prev)
            target = self.read(table)
            if partition_by:
                # ONE pushdown-filtered scan finds both the
                # touched partition VALUES (for the survivor rewrite)
                # and the touched leaf DIR names (collected from
                # _metadata.file_path — Spark-written names, no value
                # re-escaping). The dirs must be excluded from the
                # carry-over explicitly: a partition whose rows are ALL
                # deleted writes no survivor leaf dir, and inferring
                # touched-ness from the new snapshot's dirs would
                # hardlink the old files back in — a delete that
                # empties a partition (the most common GDPR shape)
                # silently resurrected.
                vdir = os.path.abspath(os.path.join(self.table_path(table), prev))
                touched_vals: set[tuple] = set()
                touched_rel: set[str] = set()
                for r in (
                    target.filter(hit)
                    .select(
                        F.col("_metadata.file_path").alias("__fp"),
                        *partition_by,
                    )
                    .distinct()
                    .collect()
                ):
                    touched_vals.add(tuple(r[c] for c in partition_by))
                    leaf = os.path.dirname(_local_path(r["__fp"]))
                    touched_rel.add(os.path.relpath(leaf, vdir))
                if not touched_vals:
                    return 0
                values = target.filter(hit).select(*partition_by).distinct()
                version = self._rewrite_partitions(
                    table, prev, target, partition_by, list(touched_vals),
                    values, lambda touched: touched.filter(~hit),
                    exclude=touched_rel,
                )
                self._commit(table, version)
                return len(touched_vals)
            # full-rewrite fallback; commit only if something matched
            if target.filter(hit).limit(1).count() == 0:
                return 0
            version = self._write_snapshot(
                target.filter(~hit), table, partition_by
            )
            self._commit(table, version)
            return 1

    def _partition_leaf_dirs(self, base: str, depth: int) -> dict[str, str]:
        """Hive partition leaf dirs exactly ``depth`` levels under
        ``base`` as {relative path: absolute path} — named by Spark at
        write time, so dir-name comparison between two snapshots of the
        same layout needs no value re-escaping."""
        out: dict[str, str] = {}

        def walk(d: str, rel: str, lvl: int) -> None:
            if lvl == 0:
                out[rel] = d
                return
            for name in os.listdir(d):
                p = os.path.join(d, name)
                if os.path.isdir(p) and "=" in name:
                    walk(p, os.path.join(rel, name) if rel else name, lvl - 1)

        walk(base, "", depth)
        return out

    def _rewrite_partitions(
        self,
        table: str,
        prev: str,
        target: DataFrame,
        partition_by: tuple[str, ...],
        parts: list[tuple],
        values: DataFrame,
        rewrite,
        exclude: set[str] = frozenset(),
    ) -> str:
        """Partition-pruned rewrite of snapshot ``prev`` (read as
        ``target``), shared by merge and delete_where; returns the new,
        uncommitted version.

        The touched partitions are ``parts``, their value tuples; the
        target read is STATICALLY partition-pruned to them with a
        literal predicate (without it a semi join scans every partition
        just to discover which rows it keeps, an O(table) read that
        defeats the O(touched) write). Above 1000 tuples the literal
        predicate would blow up, so a broadcast semi join against
        ``values`` (the same tuples as a frame) selects them instead.
        ``rewrite(touched)`` is written co-located; every partition leaf
        dir it did not write — and that is not in ``exclude``, the
        touched dirs a rewrite may leave empty — carries into the new
        snapshot (:meth:`_carry_over`)."""
        if len(parts) > 1000:
            touched = target.join(
                F.broadcast(values), on=list(partition_by), how="left_semi"
            )
        else:
            touched = target.filter(_partition_values_pred(parts, partition_by))
        version = self._write_snapshot(
            _colocated(rewrite(touched), partition_by), table, partition_by
        )
        new_dir = os.path.join(self.table_path(table), version)
        depth = len(partition_by)
        rewritten = set(self._partition_leaf_dirs(new_dir, depth)) | set(exclude)
        self._carry_over(table, prev, version, depth, rewritten)
        return version

    def _carry_over(
        self, table: str, prev: str, version: str, depth: int, skip: set[str]
    ) -> None:
        """Hardlink the parquet files of snapshot ``prev`` into the
        uncommitted ``version``, partition leaf dir by leaf dir
        (``depth`` partition columns; 0 carries the root dir), except
        the leaf dirs named in ``skip``. Data files are immutable once
        written (the snapshot contract), so sharing inodes is safe,
        O(files) metadata, and vacuum-proof. Falls back to a physical
        copy per file where the filesystem refuses a link — still
        correct, just not free — but never over an existing name: a
        Spark write names its files uniquely, so a clash is a bug and
        raises ``FileExistsError``."""
        tdir = self.table_path(table)
        new_dir = os.path.join(tdir, version)
        leaves = self._partition_leaf_dirs(os.path.join(tdir, prev), depth)
        for rel, src in leaves.items():
            if rel in skip:
                continue
            dest = os.path.join(new_dir, rel)
            os.makedirs(dest, exist_ok=True)
            for name in os.listdir(src):
                if not name.endswith(".parquet") or name.startswith(("_", ".")):
                    continue
                try:
                    os.link(os.path.join(src, name), os.path.join(dest, name))
                except FileExistsError:
                    raise
                except OSError:
                    shutil.copy2(os.path.join(src, name), os.path.join(dest, name))

    # -- table maintenance (beyond the reference; required at 100 TB) -------

    def data_files(self, table: str) -> list[str]:
        """Data files of the live snapshot — the observable compaction
        metric."""
        v = self._version(table)
        out: list[str] = []
        for dirpath, dirs, names in os.walk(os.path.join(self.table_path(table), v)):
            # prune metadata/hidden DIRS too (Spark's listing rule)
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            out.extend(
                os.path.join(dirpath, n)
                for n in names
                if n.endswith(".parquet") and not n.startswith(("_", "."))
            )
        return sorted(out)

    def compact(self, table: str) -> None:
        """Small-file compaction: rewrite the latest snapshot into
        ceil(bytes / 128 MiB) files (per partition when hive-partitioned —
        one file per partition directory, the right shape for pruned
        reads). Micro-batch appends/merges accrete small files; at scale
        the fix is a periodic rewrite sized to the parquet row-group
        sweet spot (~128 MB), exactly Delta OPTIMIZE / Iceberg rewrite.
        Runs as an ordinary snapshot write + pointer flip, so readers
        see either the old or the compacted snapshot, never a mix. The
        table keeps its recorded layout.
        """
        with self._write_lock(table):
            partition_by = self._resolve_layout(table, None)
            df = self.read(table)
            if partition_by:
                df = _colocated(df, partition_by)
            else:
                # size the file count from actual bytes; stat-walking a
                # large snapshot while holding the writer lock is not
                # free, and a partitioned table does not need it
                total = sum(os.path.getsize(f) for f in self.data_files(table))
                df = df.repartition(max(1, -(-total // (128 * 1024 * 1024))))
            version = self._write_snapshot(df, table, partition_by)
            self._commit(table, version)

    def changes(
        self,
        table: str,
        from_version: str,
        keys: tuple[str, ...],
    ) -> DataFrame:
        """Change data feed from ``from_version`` to the live snapshot:
        one row per changed key with ``_change_type`` ∈ insert / update /
        delete (update carries the post-image; delete carries the
        pre-image).

        The reference has no history at all (PostgreSQL tables are
        mutated in place); versioned snapshots make CDC a pure read:
        full-outer keyed diff of the two snapshots, change classified by
        a null-safe struct comparison of the non-key columns — exact
        (no row-hash collision class, which a null shifting between
        adjacent columns can hit under column-concat hashing) and free,
        since the post/pre-image payload rides the same shuffle either
        way. One shuffle per side on the key columns; at 100 TB both
        sides prune to the partitions a downstream consumer asks for,
        since the diff is lazy like any other read.
        """
        if not keys:
            raise ValueError("changes() needs the table's logical key columns")
        old = self.read(table, from_version)
        new = self.read(table)
        val_cols = sorted(c for c in new.columns if c not in keys)
        if sorted(old.columns) != sorted(new.columns):
            # schema drift between the snapshots: compare only the shared
            # value columns (added/removed columns are visible in the
            # carried images; rows existing on both sides with equal
            # shared values are not "updates" of the keyed payload)
            val_cols = sorted(set(val_cols) & set(old.columns))

        # both images align to the union of columns (new-snapshot order,
        # old-only columns appended) so coalesce over the two structs
        # resolves even across schema drift; a drift-added column is
        # null in delete pre-images, a drift-dropped one null in
        # insert/update post-images
        out_cols = list(new.columns) + [c for c in old.columns if c not in new.columns]
        col_type = {f.name: f.dataType for f in old.schema.fields}
        col_type.update({f.name: f.dataType for f in new.schema.fields})

        def _packed(df: DataFrame, tag: str) -> DataFrame:
            have = set(df.columns)
            img = [
                (F.col(c) if c in have else F.lit(None).cast(col_type[c])).alias(c)
                for c in out_cols
            ]
            vals = (
                F.struct(*[F.col(c) for c in val_cols]) if val_cols else F.lit(0)
            )
            return df.select(
                *[F.col(k) for k in keys],
                F.struct(*img).alias(f"_row_{tag}"),
                vals.alias(f"_vals_{tag}"),
            )

        j = _packed(old, "old").join(_packed(new, "new"), on=list(keys), how="full_outer")
        classified = j.select(
            *keys,
            F.when(F.col("_row_old").isNull(), F.lit("insert"))
            .when(F.col("_row_new").isNull(), F.lit("delete"))
            .when(~F.col("_vals_old").eqNullSafe(F.col("_vals_new")), F.lit("update"))
            .alias("_change_type"),
            F.coalesce(F.col("_row_new"), F.col("_row_old")).alias("_row"),
        ).filter(F.col("_change_type").isNotNull())
        return classified.select(
            "_change_type", *[F.col("_row")[c].alias(c) for c in out_cols]
        )

    def restore(self, table: str, version: str) -> None:
        """Point-in-time rollback: flip the pointer back to an existing
        snapshot (Delta RESTORE). Pure metadata — no data rewrite — so
        a bad load is undone in O(1); ``vacuum`` permanently removes
        restore targets older than its retention, which is the same
        trade Delta documents."""
        with self._write_lock(table):
            vdir = os.path.join(self.table_path(table), version)
            if not os.path.isdir(vdir):
                raise FileNotFoundError(
                    f"cannot restore {table!r} to {version}: snapshot missing "
                    "(vacuumed or never written)"
                )
            self._commit(table, version)

    def versions(self, table: str) -> list[str]:
        """Snapshot versions still on disk, oldest first — the restore /
        changes() targets."""
        tdir = self.table_path(table)
        if not os.path.isdir(tdir):
            return []
        return sorted(
            d
            for d in os.listdir(tdir)
            if d.startswith("v") and os.path.isdir(os.path.join(tdir, d))
        )

    def vacuum(self, table: str) -> None:
        """Drop snapshot directories older than the newest
        ``VACUUM_KEEP_LAST``, never touching the version the pointer
        references. Every version dir is self-contained, and the files
        a kept version shares with a dropped one are hardlinks whose
        inodes outlive the dropped name, so deletion needs no reference
        tracking. Bounds storage growth the same way Delta VACUUM does;
        readers pinned to a vacuumed version fail loudly on next read
        rather than seeing partial data. The orphan dir of a crashed
        write is an old version like any other once newer ones exist.
        """
        current = self.latest_version(table)
        tdir = self.table_path(table)
        versions = self.versions(table)
        keep = set(versions[-VACUUM_KEEP_LAST:]) | ({current} if current else set())
        for v in versions:
            if v not in keep:
                shutil.rmtree(os.path.join(tdir, v), ignore_errors=True)

    # -- K6: run-metadata log ----------------------------------------------

    def log(self, table: str, message: str) -> None:
        """K6: append-only (timestamp, log_message) run log
        (log_metadata.py:34-38)."""
        row = local_frame(
            self.spark, [(time.time(), message)], "unix_ts double, log_message string"
        ).select(
            F.timestamp_seconds(F.col("unix_ts")).alias("timestamp"), "log_message"
        )
        self.append(row, table)
