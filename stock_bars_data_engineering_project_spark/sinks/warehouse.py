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

APPEND is O(batch), not O(table): an appended version directory holds
ONLY the new batch's files plus a ``_MANIFEST`` text file naming the
member version directories (oldest first, itself last) whose combined
contents ARE the snapshot — the same file-reference idea as a Delta
add-file log. Reads union the members; ``vacuum`` keeps every member
directory any retained version references; ``overwrite``/``merge``/
``compact`` write full (manifest-free) snapshots, so a compaction
naturally collapses a long append chain, and ``append`` itself
materializes a full snapshot once the chain reaches
``manifest_limit`` members (bounding read fan-in between compactions).

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
``overwrite`` and ``compact`` accept it; ``append`` and ``merge`` raise
``ValueError`` — their batch members and pruned rewrites share the
live snapshot's files, which a second layout would make unreadable or
silently drop. ``delete_where`` always keeps the recorded layout.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import materialize
from ..memo import build_once
from ..session import local_frame

_POINTER = "_LATEST"
_MANIFEST = "_MANIFEST"
_LAYOUT = "_LAYOUT"
_STATS = "_STATS"
_CLUSTER = "_CLUSTER"


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


def _stats_of_rows(
    rows: DataFrame,
    cols: list[str],
    bloom_cols: tuple[str, ...],
    bloom_bits: int,
    bloom_hashes: int,
) -> DataFrame:
    """Per-file stats aggregation over a (file_path, *cols) frame —
    shared by the full-snapshot scan (`file_stats`) and the new-files-
    only incremental path (`refresh_stats`)."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
            F.count(c).alias(f"{c}__nonnull"),
        ]
    out = rows.groupBy("file_path").agg(*aggs)
    for c in bloom_cols:
        out = out.join(
            _file_bloom(rows, c, bloom_bits, bloom_hashes),
            "file_path",
            "left",
        ).withColumn(
            f"{c}__bloom",
            # a file with zero non-NULL values gets the empty bitmap
            # (all zeros) — correctly skippable for any equality
            F.coalesce(
                F.col(f"{c}__bloom"),
                F.array_repeat(F.lit(0).cast("long"), bloom_bits // 32),
            ),
        ).withColumn(
            f"{c}__bloom_m", F.lit(bloom_bits)
        ).withColumn(f"{c}__bloom_k", F.lit(bloom_hashes))
    return out


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


def _union(parts: list[DataFrame]) -> DataFrame:
    """unionByName of snapshot-member reads, aligning drift-appended
    members the way ``append(allow_schema_drift=True)`` aligned them."""
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def _file_bloom(
    rows: DataFrame, col: str, m_bits: int, n_hashes: int
) -> DataFrame:
    """(file_path, {col}__bloom) — per-file bloom word arrays on
    operators/bloom.py's hash family and word layout (its `_positions`
    and `_WORD` are imported, not re-derived, so a change there cannot
    silently diverge from these bitmaps); the driver-side probe
    (:func:`_py_bloom_positions`) is the pure-Python twin of the same
    positions. NULL values contribute nothing (equality never matches
    NULL)."""
    from ..operators.bloom import _WORD, _positions

    n_words = m_bits // _WORD
    pos = F.explode(
        F.array(*_positions(F.col(col), m_bits, n_hashes))
    ).alias("pos")
    words = (
        rows.filter(F.col(col).isNotNull())
        .select("file_path", pos)
        .select(
            "file_path",
            (F.col("pos") / _WORD).cast("int").alias("w"),
            F.pow(F.lit(2.0), F.col("pos") % _WORD).cast("long").alias("b"),
        )
        .groupBy("file_path", "w")
        .agg(F.bit_or("b").alias("bits"))
    )
    assemble = F.transform(
        F.sequence(F.lit(0), F.lit(n_words - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("_wmap"), i.cast("int")), F.lit(0).cast("long")
        ),
    )
    return (
        words.groupBy("file_path")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("w", "bits"))
            ).alias("_wmap")
        )
        .select("file_path", assemble.alias(f"{col}__bloom"))
    )


def _py_bloom_positions(value, m_bits: int, n_hashes: int) -> list[int]:
    """Driver-side twin of the md5_bucket48 bloom positions. The value
    is stringified the way Spark's string cast renders it — exact for
    strings and integers (the sane equality-skipping key types; float
    equality pruning is a bug farm and deliberately unsupported)."""
    import hashlib as _hashlib

    if isinstance(value, bool) or not isinstance(value, (str, int)):
        raise ValueError(
            f"equality skipping supports string/integer values, got "
            f"{type(value).__name__}"
        )
    return [
        int(
            _hashlib.md5(f"bloom{i}:{value}".encode()).hexdigest()[:12], 16
        )
        % m_bits
        for i in range(n_hashes)
    ]


@dataclass
class ParquetWarehouse:
    spark: SparkSession
    root: str
    # Writer-lock contention policy: transient contention — another
    # pipeline step holding the same table's lock for the
    # read->snapshot->commit span — retries with exponential backoff
    # before failing. 0 attempts restores the fail-fast posture.
    lock_retries: int = 5
    lock_retry_base_s: float = 0.1

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

    # -- snapshot machinery -------------------------------------------------

    @contextlib.contextmanager
    def _write_lock(self, table: str):
        """Per-table writer mutex for the read->snapshot->commit span.

        Two concurrent writers would otherwise both read the same
        ``_LATEST``, compute the same next version, and the second
        pointer flip would silently discard the first writer's committed
        rows (lost update — the reference's PostgreSQL store is
        transactional here). An ``O_CREAT|O_EXCL`` lock file makes the
        claim atomic on POSIX filesystems.

        Contention policy: TRANSIENT contention is legitimate
        concurrency — two pipeline steps appending different batches to
        the same table are both correct, just serialized — so a failed
        claim retries ``lock_retries`` times with exponential backoff
        (base ``lock_retry_base_s``, ~3 s total at the defaults) and
        proceeds once the holder commits; version allocation happens
        UNDER the lock, so the retried writer correctly builds on the
        winner's commit. Contention that OUTLASTS the budget still
        fails loudly with the holder's pid: a long-held or crashed-
        writer (stale) lock is an operational situation to surface, not
        to spin on — the same manual-unlock tradeoff as a stale Delta
        _delta_log lock on non-transactional stores.
        ``lock_retries=0`` restores the strict fail-fast posture.
        """
        tdir = self.table_path(table)
        os.makedirs(tdir, exist_ok=True)
        lock = os.path.join(tdir, "._writer_lock")
        fd = None
        for attempt in range(max(0, self.lock_retries) + 1):
            if attempt:
                time.sleep(self.lock_retry_base_s * (2 ** (attempt - 1)))
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                continue
        if fd is None:
            # The holder may release (delete) the lock between our failed
            # O_EXCL claim and this diagnostic read; default first so the
            # message never references an unbound name in that race.
            holder = "unknown"
            with contextlib.suppress(OSError):
                holder = open(lock).read().strip() or "unknown"
            raise RuntimeError(
                f"concurrent writer on table {table!r} (lock held by pid "
                f"{holder} past {max(0, self.lock_retries)} backoff "
                f"retries); single-writer-per-table is the contract — if "
                f"the holder crashed, remove {lock}"
            ) from None
        try:
            with os.fdopen(fd, "w") as f:
                f.write(str(os.getpid()))
            yield
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.remove(lock)

    def _latest_version(self, table: str) -> str | None:
        try:
            with open(os.path.join(self.table_path(table), _POINTER)) as f:
                return f.read().strip()
        except FileNotFoundError:
            return None

    def _version(self, table: str, version: str | None = None) -> str:
        """``version``, or the live one; raises for a missing table."""
        v = version or self._latest_version(table)
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
        cur = self._latest_version(table)
        if cur is None:
            return tuple(partition_by or ())
        live = self._layout(table, cur)
        if partition_by is None:
            return live
        if tuple(partition_by) != live and not relayout:
            raise ValueError(
                f"{table!r} is laid out by partition_by={live!r}, not "
                f"{tuple(partition_by)!r}; only overwrite and compact may "
                "change a table's layout"
            )
        return tuple(partition_by)

    def _next_version(self, table: str) -> str:
        # Allocate past the max ON-DISK version, not the _LATEST pointer:
        # after restore() the pointer points backwards, and pointer-based
        # allocation would re-issue an existing version number — the new
        # write would then clobber a directory that later manifest
        # snapshots reference as an immutable member, silently corrupting
        # every version that shares it.
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
            # than overwrite a directory other manifests may reference
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

    def _has_data_files(self, table: str, version: str) -> bool:
        """True iff the version dir holds at least one parquet data
        file — a pure filesystem probe (no Spark job)."""
        for dirpath, _dirnames, filenames in os.walk(
            os.path.join(self.table_path(table), version)
        ):
            if any(f.endswith(".parquet") for f in filenames):
                return True
        return False

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

    def _manifest_members(self, table: str, version: str) -> list[str]:
        """Member version dirs of a snapshot — [version] itself when the
        snapshot is a full (manifest-free) write."""
        mf = os.path.join(self.table_path(table), version, _MANIFEST)
        try:
            with open(mf) as f:
                return [line.strip() for line in f if line.strip()]
        except FileNotFoundError:
            return [version]

    # -- reads --------------------------------------------------------------

    def read(self, table: str, version: str | None = None) -> DataFrame:
        """S5: full-table scan of the latest (or a pinned) snapshot.

        A manifest snapshot reads as the unionByName of its member
        directories (each member read whole, so hive-partition columns
        survive); ``allowMissingColumns`` aligns drift-appended members
        the same way ``append(allow_schema_drift=True)`` aligned them at
        write time."""
        v = self._version(table, version)
        return _union([
            _read_version_dir(
                self.spark, os.path.join(self.table_path(table), m)
            )
            for m in self._manifest_members(table, v)
        ])

    # -- writes (K1/K2/K3/K4) ----------------------------------------------

    def append(
        self,
        df: DataFrame,
        table: str,
        partition_by: tuple[str, ...] | None = None,
        allow_schema_drift: bool = False,
        manifest_limit: int = 64,
    ) -> None:
        """K1: append insert (postgresql.py:70-73) — new snapshot = old ∪ batch,
        committed as a MANIFEST snapshot: only the batch's files are
        written (O(batch) I/O however large the table — the requirement
        at 100 TB, where rewriting a table to add a day of data is the
        difference between a pipeline and a joke), and the new version's
        ``_MANIFEST`` names the prior snapshot's member dirs plus this
        one. Readers of the committed version union the members;
        snapshot isolation is unchanged (the pointer flip is still the
        whole transaction, and member dirs are immutable).

        ``manifest_limit`` bounds the chain: when the member count would
        exceed it, this append materializes a full snapshot instead
        (the same collapse ``compact``/``overwrite`` perform), so read
        fan-in stays bounded between compactions.

        Schema drift refuses loudly unless ``allow_schema_drift`` —
        checked HERE, at write time, because the manifest read aligns
        members with allowMissingColumns and would otherwise mask a
        drifted append forever.
        """
        with self._write_lock(table):
            partition_by = self._resolve_layout(table, partition_by)
            prev = self._latest_version(table)
            if prev is None:
                version = self._write_snapshot(df, table, partition_by)
                self._commit(table, version)
                return
            existing = None
            if not allow_schema_drift:
                existing = self.read(table)
                prev_cols = set(existing.columns)
                if set(df.columns) != prev_cols:
                    raise ValueError(
                        f"append to {table!r}: schema drift (batch columns "
                        f"{sorted(set(df.columns) ^ prev_cols)} differ); pass "
                        "allow_schema_drift=True to align by name"
                    )
                # TYPE drift too: a same-name INCOMPATIBLE type change
                # passes the column-set check but detonates at READ time
                # (the manifest union can't align string vs long),
                # turning a bad write into a poisoned table. Checked
                # here, where the writer can still fix the batch.
                # Numeric-widening pairs are fine (the union resolves
                # them), and hive partition columns are exempt — their
                # read-back dtype is DIRNAME INFERENCE (a bigint bkt
                # comes back int), not anything the writer controls.
                prev_types = dict(existing.dtypes)
                mismatched = [
                    (c, t, prev_types[c])
                    for c, t in df.dtypes
                    if c not in partition_by
                    and prev_types.get(c, t) != t
                    and not _types_compatible(t, prev_types[c])
                ]
                if mismatched:
                    raise ValueError(
                        f"append to {table!r}: type drift — "
                        + ", ".join(
                            f"{c!r} is {t} but the table has {pt}"
                            for c, t, pt in mismatched
                        )
                        + "; cast the batch to the table's types"
                    )
            chain = self._manifest_members(table, prev)
            if len(chain) + 1 > manifest_limit:
                if existing is None:
                    existing = self.read(table)
                merged = existing.unionByName(
                    df, allowMissingColumns=allow_schema_drift
                )
                version = self._write_snapshot(merged, table, partition_by)
                self._commit(table, version)
                return
            version = self._write_snapshot(df, table, partition_by)
            members = [*chain, version]
            if not self._has_data_files(table, version):
                # empty batch: old ∪ ∅ = old. A PARTITIONED write of an
                # empty frame emits no data files at all, and a member
                # dir without parquet files poisons every later read
                # (UNABLE_TO_INFER_SCHEMA on the union) — so commit the
                # version with the prior members only and never list
                # the file-less dir.
                members = chain
            mf = os.path.join(self.table_path(table), version, _MANIFEST)
            with open(mf, "w") as f:
                f.write("\n".join(members) + "\n")
            self._commit(table, version)

    def overwrite(
        self,
        df: DataFrame,
        table: str,
        partition_by: tuple[str, ...] | None = None,
        cluster_by: tuple[str, ...] = (),
        zorder_by: tuple[str, ...] = (),
        zorder_scaler: str = "minmax",
        n_files: int | None = None,
    ) -> None:
        """K2: drop-and-replace (postgresql.py:75-77) as a snapshot flip.

        ``partition_by=None`` (the default) keeps the live snapshot's
        recorded hive layout; an explicit layout, ``()`` included,
        re-lays the table out (module docstring, layout rule).

        ``cluster_by`` range-partitions and sorts the snapshot on the
        given columns before writing: every data file then covers a
        disjoint range, so a pushed-down predicate on the cluster key
        skips whole files/row-groups via parquet min/max stats — the
        single biggest read-amplification lever for time-filtered scans
        at 100 TB. Lexicographic, so only the LEADING column's file
        stats stay tight.

        ``zorder_by`` (mutually exclusive) clusters on the Morton
        interleaving of 2-3 columns instead: each file covers a small
        hyper-rectangle of the key space, so min/max skipping works for
        predicates on ANY of the z-dimensions (functions/zorder.py).
        ``zorder_scaler="quantile"`` swaps the min/max grid for
        equal-mass approx-quantile cells — the layout that keeps
        skipping effective under value skew (Zipf heads, outlier
        tails).
        """
        if cluster_by and zorder_by:
            raise ValueError("cluster_by and zorder_by are mutually exclusive")
        if zorder_by:
            from ..functions.zorder import with_zorder_key

            df = with_zorder_key(df, zorder_by, scaler=zorder_scaler)
            args = ([n_files] if n_files else []) + [F.col("_zorder")]
            df = (
                df.repartitionByRange(*args)
                .sortWithinPartitions("_zorder")
                .drop("_zorder")
            )
        if cluster_by:
            # explicit n_files pins the range-split width (AQE otherwise
            # coalesces small data to one file, defeating the layout)
            args = ([n_files] if n_files else []) + [F.col(c) for c in cluster_by]
            df = df.repartitionByRange(*args).sortWithinPartitions(*cluster_by)
        with self._write_lock(table):
            partition_by = self._resolve_layout(
                table, partition_by, relayout=True
            )
            version = self._write_snapshot(df, table, partition_by)
            # record the layout INTENT beside the snapshot, so compact
            # can re-apply it instead of silently degrading every
            # stats-skipping property the layout bought
            if zorder_by:
                self._record_cluster(
                    table, version, "zorder", zorder_by, zorder_scaler
                )
            elif cluster_by:
                self._record_cluster(
                    table, version, "cluster", cluster_by, "minmax"
                )
            self._commit(table, version)

    def _record_cluster(
        self, table: str, version: str, kind: str, cols, scaler: str
    ) -> None:
        """Write a (kind, cols, scaler) cluster intent, the triple
        :meth:`_cluster_spec` reads back; only z-order has a scaler."""
        spec = f"{kind}:{','.join(cols)}"
        if kind == "zorder":
            spec += f":{scaler}"
        with open(
            os.path.join(self.table_path(table), version, _CLUSTER), "w"
        ) as f:
            f.write(spec)

    def _cluster_spec(
        self, table: str
    ) -> tuple[str, tuple[str, ...], str] | None:
        """The table's most recent recorded cluster intent: walk
        versions newest-first (appends between clusterings record no
        spec — their members stay unclustered until the next compact,
        the Delta OPTIMIZE contract). Returns (kind, cols, scaler)."""
        for v in reversed(self.versions(table)):
            try:
                with open(
                    os.path.join(self.table_path(table), v, _CLUSTER)
                ) as f:
                    spec = f.read().strip()
            except FileNotFoundError:
                continue
            kind, cols, *scaler = spec.split(":")
            return kind, tuple(cols.split(",")), (scaler or ["minmax"])[0]
        return None

    def merge(
        self,
        source: DataFrame,
        table: str,
        keys: tuple[str, ...],
        partition_by: tuple[str, ...] | None = None,
        allow_schema_drift: bool = False,
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
            prev = self._latest_version(table)
            if prev is None:
                version = self._write_snapshot(
                    _colocated(src, partition_by), table, partition_by
                )
                self._commit(table, version)
                return

            def upsert(target: DataFrame) -> DataFrame:
                return upsert_frames(
                    target, src, keys, allow_schema_drift, source_unique=True
                )

            target = self.read(table)
            if (
                partition_by
                and set(partition_by) <= set(src.columns)
                and set(partition_by) <= set(keys)
                and not allow_schema_drift
                and self._members_schema_consistent(table, prev)
            ):
                # The pruned rewrite is SOUND ONLY when (a) the partition
                # columns are part of the merge key — otherwise a key
                # whose partition value changed (id=1 moving from date
                # D1 to D2) leaves its old row in an untouched partition
                # the anti-join cannot evict; (b) no schema drift —
                # linked files collapse into one dir, and a single-dir
                # read does not name-align drifted schemas the way the
                # manifest union does. Anything else takes the full
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

        On a hive-partitioned, schema-consistent table the rewrite is
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
        carries). Unpartitioned/drifted tables take the full-rewrite
        fallback (correct, not pruned).
        """
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        hit = F.coalesce(pred.cast("boolean"), F.lit(False))
        with self._write_lock(table):
            prev = self._version(table)
            partition_by = self._layout(table, prev)
            target = self.read(table)
            if partition_by and self._members_schema_consistent(table, prev):
                # ONE pushdown-filtered scan per member finds both the
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
                tdir = self.table_path(table)
                touched_vals: set[tuple] = set()
                touched_rel: set[str] = set()
                for m in self._manifest_members(table, prev):
                    mdir = os.path.abspath(os.path.join(tdir, m))
                    mdf = _read_version_dir(self.spark, mdir)
                    for r in (
                        mdf.filter(hit)
                        .select(
                            F.col("_metadata.file_path").alias("__fp"),
                            *partition_by,
                        )
                        .distinct()
                        .collect()
                    ):
                        touched_vals.add(tuple(r[c] for c in partition_by))
                        leaf = os.path.dirname(_local_path(r["__fp"]))
                        touched_rel.add(os.path.relpath(leaf, mdir))
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

    def _members_schema_consistent(self, table: str, version: str) -> bool:
        """True when every manifest member of a snapshot carries the
        same column set and types. The hardlink carry-over collapses
        member files into ONE directory, and a single-dir parquet read
        does not name-align drifted schemas the way the manifest union
        does (it samples one footer) — so a drift-appended history must
        fall back to the full rewrite, which re-aligns it. One driver
        footer read per member, members bounded by manifest_limit;
        the overwhelmingly common single-member case is free."""
        members = self._manifest_members(table, version)
        if len(members) <= 1:
            return True
        schemas = set()
        for m in members:
            df = _read_version_dir(
                self.spark, os.path.join(self.table_path(table), m)
            )
            schemas.add(
                tuple(sorted((f.name, str(f.dataType)) for f in df.schema))
            )
        return len(schemas) == 1

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
        snapshot by hardlinking its parquet files. Data files are
        immutable once written (the snapshot contract), so sharing
        inodes is safe, O(files) metadata, and vacuum-proof (deleting
        the old version dir unlinks names, never shared inodes). At
        100 TB on an object store this step is a file-reference
        manifest (Iceberg/Delta); hardlinks are its exact local-FS
        realization. Falls back to a physical copy per file where the
        filesystem refuses links — still correct, just not free."""
        if len(parts) > 1000:
            touched = target.join(
                F.broadcast(values), on=list(partition_by), how="left_semi"
            )
        else:
            touched = target.filter(_partition_values_pred(parts, partition_by))
        version = self._write_snapshot(
            _colocated(rewrite(touched), partition_by), table, partition_by
        )
        tdir = self.table_path(table)
        new_dir = os.path.join(tdir, version)
        depth = len(partition_by)
        rewritten = set(self._partition_leaf_dirs(new_dir, depth)) | set(exclude)
        for member in self._manifest_members(table, prev):
            mdir = os.path.join(tdir, member)
            for rel, absd in self._partition_leaf_dirs(mdir, depth).items():
                if rel in rewritten:
                    continue
                dest = os.path.join(new_dir, rel)
                os.makedirs(dest, exist_ok=True)
                for name in os.listdir(absd):
                    if not name.endswith(".parquet") or name.startswith(
                        ("_", ".")
                    ):
                        continue
                    target_path = os.path.join(dest, name)
                    if os.path.exists(target_path):
                        continue  # same immutable file via another member
                    try:
                        os.link(os.path.join(absd, name), target_path)
                    except OSError:
                        shutil.copy2(os.path.join(absd, name), target_path)
        return version

    # -- table maintenance (beyond the reference; required at 100 TB) -------

    def data_files(self, table: str, version: str | None = None) -> list[str]:
        """Data files of a snapshot (manifest members included) — the
        observable compaction metric."""
        v = self._version(table, version)
        out: list[str] = []
        for member in self._manifest_members(table, v):
            for dirpath, dirs, names in os.walk(
                os.path.join(self.table_path(table), member)
            ):
                # prune metadata/hidden DIRS too (Spark's listing rule):
                # a crashed ._stats_tmp dir must not leak its part files
                # into the data set
                dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
                out.extend(
                    os.path.join(dirpath, n)
                    for n in names
                    if n.endswith(".parquet") and not n.startswith(("_", "."))
                )
        return sorted(out)

    def export_manifest(
        self, table: str, version: str | None = None, dest: str | None = None
    ) -> str:
        """Write a snapshot's data-file list as ONE newline-delimited
        text file of absolute parquet paths and return its path — the
        symlink-format-manifest idiom (what Delta emits for Presto/
        Trino/Athena), making any table version directly readable by an
        EXTERNAL engine without implementing the ``_MANIFEST`` pointer
        protocol: the files are plain immutable parquet, so
        ``duckdb.read_parquet(<the list>, hive_partitioning=true,
        union_by_name=true)`` reconstructs exactly what :meth:`read`
        returns (hive_partitioning recovers the directory-encoded
        partition columns of partitioned snapshots; union_by_name
        aligns drift-appended manifest members the way ``read``'s
        allowMissingColumns does). Defaults to
        ``<table>/<version>/_FILELIST`` next to the snapshot it
        describes — immutable because the snapshot dir is; pass
        ``dest`` to export elsewhere. O(files) driver metadata, no data
        movement."""
        v = self._version(table, version)
        files = self.data_files(table, v)
        out = dest or os.path.join(self.table_path(table), v, "_FILELIST")
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(out), prefix="._fl")
        with os.fdopen(fd, "w") as f:
            f.write("\n".join(os.path.abspath(p) for p in files) + "\n")
        os.replace(tmp, out)
        return out

    # -- file-level data skipping (Delta stats / Iceberg manifest idiom) ----

    def file_stats(
        self,
        table: str,
        cols: list[str],
        version: str | None = None,
        bloom_cols: tuple[str, ...] = (),
        bloom_bits: int = 1024,
        bloom_hashes: int = 4,
    ) -> DataFrame:
        """Per-data-file column statistics (row count, min, max,
        non-null count) for a snapshot — the metadata Delta keeps in
        its transaction log and Iceberg in manifest files, so the
        PLANNER can drop files from the read set without opening a
        single parquet footer. Computed as ONE distributed scan per
        manifest member grouped on the ``_metadata.file_path`` hidden
        column, column-pruned to the requested stat columns.

        Drift-appended members that lack a requested column contribute
        NULL min/max for it (union alignment) — exactly right for
        skipping, because a range predicate can never match NULL.
        Hive partition columns are fair stat targets too (Spark
        synthesizes them from the directory, so min==max per file).

        ``bloom_cols`` additionally builds a PER-FILE bloom bitmap
        (``{c}__bloom``: array<long> of ``bloom_bits/32`` words, the
        operators/bloom.py word layout on the same md5_bucket48 hash
        family) — what min/max cannot give you: pruning for an
        EQUALITY predicate on a high-cardinality column in an
        unclustered layout, where every file's [min, max] spans the
        whole domain. The parquet-bloom-filter idea lifted to the
        planner's metadata, so membership is testable without opening
        a footer. One partial-aggregable pass per bloom column
        (explode k positions -> per-(file, word) bit_or -> word-array
        assembly), all bounded by files x bloom_bits/32.
        """
        v = self._version(table, version)
        if bloom_bits <= 0 or bloom_bits % 32 != 0:
            raise ValueError(f"bloom_bits must be a positive multiple of 32")
        want = list(dict.fromkeys([*cols, *bloom_cols]))
        parts = []
        seen: set[str] = set()
        for m in self._manifest_members(table, v):
            df = _read_version_dir(
                self.spark, os.path.join(self.table_path(table), m)
            )
            present = [c for c in want if c in df.columns]
            seen.update(present)
            parts.append(
                df.select(
                    F.col("_metadata.file_path").alias("file_path"), *present
                )
            )
        missing = [c for c in want if c not in seen]
        if missing:
            raise ValueError(
                f"file_stats({table!r}): no snapshot member has column(s) "
                f"{missing}"
            )
        rows = _union(parts)
        # bloom columns get min/max too ('want', not 'cols'): skip_files'
        # persisted-stats gate requires {c}__min for EVERY predicate
        # column, so a bloom-only column would silently demote every
        # equality plan to a live full scan
        return _stats_of_rows(rows, want, bloom_cols, bloom_bits, bloom_hashes)

    def write_stats(
        self,
        table: str,
        cols: list[str],
        version: str | None = None,
        bloom_cols: tuple[str, ...] = (),
        bloom_bits: int = 1024,
        bloom_hashes: int = 4,
    ) -> str:
        """Materialize :meth:`file_stats` as ONE immutable parquet file
        (``_STATS``) next to the snapshot it describes, so subsequent
        :meth:`skip_files` calls are pure O(files) metadata reads with
        no data scan at all — the stats-collection half of Delta's
        ``OPTIMIZE``/checkpoint loop. Immutable because snapshot
        members are: a version's file set never changes, so its stats
        never go stale. Returns the manifest path."""
        v = self._version(table, version)
        vdir = os.path.join(self.table_path(table), v)
        tmp = os.path.join(vdir, f"._stats_tmp_{os.getpid()}")
        # Spark writes the tmp dir (type-exact for timestamps/decimals,
        # unlike a pandas round-trip); the single part file is then
        # atomically renamed to _STATS. Underscore-prefixed, so data
        # listings (Spark's and data_files') never mistake it for data.
        self.file_stats(
            table,
            cols,
            v,
            bloom_cols=bloom_cols,
            bloom_bits=bloom_bits,
            bloom_hashes=bloom_hashes,
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dest = os.path.join(vdir, _STATS)
        os.replace(os.path.join(tmp, part), dest)
        shutil.rmtree(tmp)
        return dest

    def refresh_stats(self, table: str, version: str | None = None) -> dict:
        """Bring a snapshot's ``_STATS`` current at O(new files) — the
        per-commit stats-maintenance discipline (Delta writes stats in
        the transaction log at commit time; here the equivalent is a
        refresh after each append/merge/delete that REUSES every prior
        row instead of rescanning the table).

        Identity is the file INODE ``(st_dev, st_ino)``: manifest-
        chain members keep their paths, and merge/delete carry
        untouched partitions as hardlinks — both share inodes with the
        prior version's files, and immutability is the snapshot
        contract, so a prior stats row is exact for the same inode.
        Only files with no donor row (the new batch / the rewritten
        partitions) are scanned, per member with ``basePath`` so hive
        partition stats survive. Stat/bloom columns and bloom sizing
        are inherited from the newest prior ``_STATS`` manifest
        (raises if none exists — seed with :meth:`write_stats` once).

        Returns ``{"path", "reused", "computed"}`` — the reuse count
        is the O(new) claim, observable."""
        import pyarrow.parquet as pq

        v = self._version(table, version)
        vdir = os.path.join(self.table_path(table), v)
        donor = None
        # newest manifest wins, the target version's own included — a
        # refresh of an already-statsed version is a pure-reuse no-op
        for prior in reversed(self.versions(table)):
            p = os.path.join(self.table_path(table), prior, _STATS)
            if os.path.exists(p):
                donor = p
                break
        if donor is None:
            raise ValueError(
                f"refresh_stats({table!r}): no prior _STATS manifest to "
                "inherit columns from — seed with write_stats() once"
            )
        donor_tbl = pq.read_table(donor)
        names = donor_tbl.column_names
        cols = [n[: -len("__min")] for n in names if n.endswith("__min")]
        bloom_cols = tuple(
            n[: -len("__bloom")] for n in names if n.endswith("__bloom")
        )
        donor_rows = donor_tbl.to_pylist()
        bloom_bits, bloom_hashes = 1024, 4
        if bloom_cols and donor_rows:
            bloom_bits = donor_rows[0][f"{bloom_cols[0]}__bloom_m"]
            bloom_hashes = donor_rows[0][f"{bloom_cols[0]}__bloom_k"]
        by_inode = {}
        for r in donor_rows:
            p = _local_path(r["file_path"])
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue  # vacuumed since
            by_inode[(st.st_dev, st.st_ino)] = r
        reused, new_by_member = [], {}
        tdir = self.table_path(table)
        members = self._manifest_members(table, v)
        for f in self.data_files(table, v):
            st = os.stat(f)
            prior = by_inode.get((st.st_dev, st.st_ino))
            if prior is not None:
                reused.append({**prior, "file_path": os.path.abspath(f)})
                continue
            member = next(
                m
                for m in members
                if os.path.abspath(f).startswith(
                    os.path.abspath(os.path.join(tdir, m)) + os.sep
                )
            )
            new_by_member.setdefault(member, []).append(f)
        computed = []
        if new_by_member:
            parts = []
            for m, files in new_by_member.items():
                base = os.path.abspath(os.path.join(tdir, m))
                df = self.spark.read.option("basePath", base).parquet(*files)
                present = [c for c in {*cols, *bloom_cols} if c in df.columns]
                parts.append(
                    df.select(
                        F.col("_metadata.file_path").alias("file_path"),
                        *present,
                    )
                )
            stats = _stats_of_rows(
                _union(parts), cols, bloom_cols, bloom_bits, bloom_hashes
            )
            computed = [
                {**r.asDict(), "file_path": _local_path(r["file_path"])}
                for r in stats.collect()
            ]
        import pyarrow as pa

        merged = pa.Table.from_pylist(
            [*reused, *computed], schema=donor_tbl.schema
        )
        dest = os.path.join(vdir, _STATS)
        fd, tmp = tempfile.mkstemp(dir=vdir, prefix="._stats")
        os.close(fd)
        pq.write_table(merged, tmp)
        os.replace(tmp, dest)
        return {"path": dest, "reused": len(reused), "computed": len(computed)}

    def skip_files(
        self,
        table: str,
        ranges: dict[str, tuple] | None = None,
        version: str | None = None,
        equals: dict[str, object] | None = None,
    ) -> list[str]:
        """File-skipping plan: the data files of a snapshot whose
        [min, max] stats intersect EVERY predicate range in ``ranges``
        (``{col: (lo, hi)}``, closed intervals, ``None`` = unbounded on
        that side). Uses the persisted ``_STATS`` manifest when it
        covers the predicate columns (pure metadata read), else
        computes stats live. Driver-side O(files) — this IS the
        planner's job, the same loop Delta/Iceberg run over their
        logs. All-NULL files are skipped: a range predicate never
        matches NULL. Skipping is a pure file-set reduction — callers
        must still apply the predicate to the surviving rows (stats
        prune files, never rows), which :meth:`read_skipped` does.

        ``equals`` (``{col: value}`` or ``{col: [values]}`` for an IN
        predicate — a file survives if ANY candidate might be present;
        string/integer values) prunes by min/max AND — when the stats
        carry a ``{col}__bloom`` bitmap — by per-file bloom membership:
        the pruning that works for an equality on a high-cardinality
        column in an UNCLUSTERED layout, where [min, max] never
        excludes anything. False positives keep a file (bloom
        semantics); the residual filter owns row truth."""
        ranges = ranges or {}
        equals = equals or {}
        v = self._version(table, version)
        if not ranges and not equals:
            raise ValueError(
                f"skip_files({table!r}): no predicate — pass ranges and/or "
                "equals (an unpredicated read is just read())"
            )
        overlap = set(ranges) & set(equals)
        if overlap:
            raise ValueError(
                f"skip_files({table!r}): column(s) {sorted(overlap)} in both "
                "ranges and equals — express each predicate once"
            )
        for c, (lo, hi) in ranges.items():
            if lo is None and hi is None:
                raise ValueError(
                    f"skip_files({table!r}): range for {c!r} is unbounded on "
                    "both sides — drop the column from the predicate instead"
                )
        equals = {
            c: list(v) if isinstance(v, (list, tuple, set)) else [v]
            for c, v in equals.items()
        }  # a list is an IN predicate: keep a file if ANY value might be in it
        for c, vals in equals.items():
            if not vals:
                raise ValueError(
                    f"skip_files({table!r}): equals on {c!r} is an empty "
                    "list — IN () matches nothing, the result is empty"
                )
            for val in vals:
                if val is None:
                    raise ValueError(
                        f"skip_files({table!r}): equals on {c!r} is NULL — "
                        "equality never matches NULL, the result is empty"
                    )
                if isinstance(val, bool) or not isinstance(val, (str, int)):
                    raise ValueError(
                        f"skip_files({table!r}): equals on {c!r} must be "
                        f"string/integer value(s), got {type(val).__name__} — "
                        "float equality pruning is deliberately unsupported"
                    )
        cols = [*ranges, *equals]
        stats_path = os.path.join(self.table_path(table), v, _STATS)
        rows = None
        if os.path.exists(stats_path):
            # driver-side pyarrow read: the persisted plan input is pure
            # metadata, so planning runs ZERO Spark jobs (also: Spark's
            # file source ignores underscore-prefixed paths by design).
            # Column-pruned to the predicate's stats — a range-only plan
            # must not materialize other columns' bloom word arrays
            # (measured: 512 files x 2048-word blooms made to_pylist the
            # whole planning cost)
            import pyarrow.parquet as pq

            names = set(pq.read_schema(stats_path).names)
            if all(f"{c}__min" in names for c in cols):
                want = ["file_path"]
                for c in cols:
                    want += [f"{c}__min", f"{c}__max"]
                blooms = {}
                for c in equals:
                    trio = [f"{c}__bloom", f"{c}__bloom_m", f"{c}__bloom_k"]
                    if all(t in names for t in trio):
                        want += trio[1:]
                        blooms[c] = trio[0]
                tbl = pq.read_table(stats_path, columns=want + list(blooms.values()))
                # bloom word arrays stay in Arrow buffers, probed via
                # numpy views — to_pylist on files x words ints IS the
                # planning cost at scale (measured 0.5 s at just
                # 512 files x 2048 words)
                rows = tbl.select(want).to_pylist()
                for c, name in blooms.items():
                    arr = tbl[name].combine_chunks()
                    off = arr.offsets.to_numpy()
                    flat = arr.values.to_numpy(zero_copy_only=False)
                    valid = arr.is_valid().to_numpy(zero_copy_only=False)
                    for i, r in enumerate(rows):
                        r[f"{c}__bloom"] = (
                            flat[off[i] : off[i + 1]] if valid[i] else None
                        )
        if rows is None:
            rows = [
                r.asDict()
                for r in self.file_stats(
                    table, cols, v, bloom_cols=tuple(equals)
                ).collect()
            ]
        out = []
        for r in rows:  # O(files) metadata rows
            keep = True
            for c, (lo, hi) in ranges.items():
                mn, mx = r[f"{c}__min"], r[f"{c}__max"]
                try:
                    if (
                        mn is None
                        or (lo is not None and mx < lo)
                        or (hi is not None and mn > hi)
                    ):
                        keep = False
                        break
                except TypeError:
                    raise ValueError(
                        f"skip_files({table!r}): range bound for {c!r} "
                        f"({type((lo if lo is not None else hi)).__name__}) "
                        f"does not compare with the column's stats "
                        f"({type(mn).__name__}) — pass a bound of the "
                        "column's type"
                    ) from None
            if keep:
                for c, vals in equals.items():
                    mn, mx = r[f"{c}__min"], r[f"{c}__max"]
                    words = r.get(f"{c}__bloom")
                    any_possible = False
                    for val in vals:
                        try:
                            if mn is None or mn > val or mx < val:
                                continue
                        except TypeError:
                            raise ValueError(
                                f"skip_files({table!r}): equals value for "
                                f"{c!r} ({type(val).__name__}) does not "
                                f"compare with the column's stats "
                                f"({type(mn).__name__}) — pass a value of "
                                "the column's type"
                            ) from None
                        if words is not None:
                            m, k = r[f"{c}__bloom_m"], r[f"{c}__bloom_k"]
                            if any(
                                not (int(words[p // 32]) >> (p % 32)) & 1
                                for p in _py_bloom_positions(val, m, k)
                            ):
                                continue
                        any_possible = True
                        break
                    if not any_possible:
                        keep = False
                        break
            if keep:
                out.append(_local_path(r["file_path"]))
        return sorted(out)

    def read_skipped(
        self,
        table: str,
        ranges: dict[str, tuple] | None = None,
        version: str | None = None,
        equals: dict[str, object] | None = None,
    ) -> DataFrame:
        """Stats-pruned read: :meth:`skip_files` drops files whose
        stats cannot satisfy the ranges, the survivors are read with
        each manifest member's own ``basePath`` (so hive partition
        columns survive a file-list read), and the range predicate is
        re-applied as a residual filter — correctness never depends on
        the stats, they only shrink I/O. On a ``cluster_by``/
        ``zorder_by`` layout this is the end-to-end data-skipping
        path: a selective range touches a handful of files out of
        thousands before Spark plans a single task."""
        ranges = ranges or {}
        equals = equals or {}
        v = self._version(table, version)
        pred = None
        for c, (lo, hi) in ranges.items():
            for bound, op in ((lo, "ge"), (hi, "le")):
                if bound is None:
                    continue
                e = F.col(c) >= F.lit(bound) if op == "ge" else F.col(c) <= F.lit(bound)
                pred = e if pred is None else pred & e
        for c, val in equals.items():
            vals = list(val) if isinstance(val, (list, tuple, set)) else [val]
            e = F.col(c).isin(vals)
            pred = e if pred is None else pred & e
        files = set(self.skip_files(table, ranges, v, equals=equals))
        if not files:
            return self.read(table, v).where(pred).limit(0)
        parts = []
        for m in self._manifest_members(table, v):
            base = os.path.abspath(os.path.join(self.table_path(table), m))
            mine = [f for f in sorted(files) if f.startswith(base + os.sep)]
            if mine:
                parts.append(
                    self.spark.read.option("basePath", base).parquet(*mine)
                )
        return _union(parts).where(pred)

    def compact(
        self,
        table: str,
        target_file_bytes: int = 128 * 1024 * 1024,
        partition_by: tuple[str, ...] | None = None,
    ) -> None:
        """Small-file compaction: rewrite the latest snapshot into
        ceil(bytes / target) files (per partition when hive-partitioned —
        one file per partition directory, the right shape for pruned
        reads). Micro-batch appends/merges accrete small files; at scale
        the fix is a periodic rewrite sized to the parquet row-group
        sweet spot (~128 MB), exactly Delta OPTIMIZE / Iceberg rewrite.
        Runs as an ordinary snapshot write + pointer flip, so readers
        see either the old or the compacted snapshot, never a mix.

        A recorded ``cluster_by``/``zorder_by`` intent (written by
        ``overwrite``) is RE-APPLIED: compaction is exactly when
        append-accreted unclustered members get folded back into the
        layout (Delta's OPTIMIZE ZORDER), and a plain repartition here
        would silently destroy every stats-skipping property the
        layout bought. On a hive-partitioned table the cluster sort
        applies within each partition's files.
        """
        with self._write_lock(table):
            partition_by = self._resolve_layout(
                table, partition_by, relayout=True
            )
            df = self.read(table)
            spec = self._cluster_spec(table)
            sort_cols: list[str] = []
            if spec:
                kind, cols, scaler = spec
                sort_cols = list(cols)
                if kind == "zorder":
                    from ..functions.zorder import with_zorder_key

                    df = with_zorder_key(df, cols, scaler=scaler)
                    sort_cols = ["_zorder"]
            if partition_by:
                df = _colocated(df, partition_by)
            else:
                # size the file count from actual bytes; stat-walking a
                # large snapshot while holding the writer lock is not
                # free, and a partitioned table does not need it
                total = sum(os.path.getsize(f) for f in self.data_files(table))
                n = max(1, -(-total // target_file_bytes))  # ceil div
                df = (
                    df.repartitionByRange(n, *sort_cols)
                    if sort_cols
                    else df.repartition(n)
                )
            if sort_cols:
                df = df.sortWithinPartitions(*sort_cols)
            if spec and kind == "zorder":
                df = df.drop("_zorder")
            version = self._write_snapshot(df, table, partition_by)
            if spec:
                # carry the intent forward so the NEXT compact sees it
                self._record_cluster(table, version, *spec)
            self._commit(table, version)

    def maintain_table(
        self,
        table: str,
        max_files_per_partition: int = 8,
        target_file_bytes: int = 128 * 1024 * 1024,
        stats: bool = True,
    ) -> dict:
        """Table-lifecycle maintenance policy in one call — the
        `maintain_ann_index` contract (read the health signal, act only
        past the threshold, return the decision for run-logging)
        applied to the table itself, closing the symmetry between the
        three persisted indexes and the warehouse that stores them:

        1. read the small-file signal: data files per hive partition
           (per table when unpartitioned) — what micro-batch appends
           and merges accrete;
        2. past ``max_files_per_partition``, :meth:`compact` (the
           Delta OPTIMIZE step — the one table-sized rewrite, paid
           only when the policy says so);
        3. if a ``_STATS`` manifest lineage exists and ``stats``,
           :meth:`refresh_stats` the live version — O(new files)
           normally, O(table) right after a compaction (every inode is
           new; that cost is the compaction's, not the refresh's).

        Returns ``{"files", "partitions", "max_per_partition",
        "compacted", "stats"}``."""
        files = self.data_files(table)
        layout = self._layout(table, self._latest_version(table))
        if layout:
            per: dict[str, int] = {}
            depth = len(layout)
            for f in files:
                leaf = os.path.dirname(f)
                rel = os.path.relpath(leaf, start=self.table_path(table))
                key = os.sep.join(rel.split(os.sep)[-depth:])
                per[key] = per.get(key, 0) + 1
            n_parts, worst = len(per), max(per.values())
        else:
            n_parts, worst = 1, len(files)
        compacted = False
        if worst > max_files_per_partition:
            self.compact(table, target_file_bytes=target_file_bytes)
            compacted = True
        refreshed = None
        if stats:
            try:
                refreshed = self.refresh_stats(table)
            except ValueError:
                refreshed = None  # no seed manifest — stats not in use
        return {
            "files": len(files),
            "partitions": n_parts,
            "max_per_partition": worst,
            "compacted": compacted,
            "stats": refreshed,
        }

    def changes(
        self,
        table: str,
        from_version: str,
        to_version: str | None = None,
        keys: tuple[str, ...] = (),
    ) -> DataFrame:
        """Change data feed between two snapshots: one row per changed
        key with ``_change_type`` ∈ insert / update / delete (update
        carries the post-image; delete carries the pre-image).

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
        new = self.read(table, to_version)  # None -> latest
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
            missing = [
                m
                for m in self._manifest_members(table, version)
                if not os.path.isdir(os.path.join(self.table_path(table), m))
            ]
            if missing:
                raise FileNotFoundError(
                    f"cannot restore {table!r} to {version}: manifest member "
                    f"snapshot(s) {missing} vacuumed"
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

    def vacuum(self, table: str, keep_last: int = 2) -> None:
        """Drop snapshot directories older than the newest ``keep_last``,
        never touching the version the pointer references NOR any member
        directory a retained manifest snapshot references — a manifest
        append shares its predecessors' files, so reference-unaware
        deletion would corrupt the live table (the reason Delta VACUUM
        consults the log before deleting). Bounds storage growth the
        same way Delta VACUUM does; readers pinned to a vacuumed
        version fail loudly on next read rather than seeing partial
        data.
        """
        current = self._latest_version(table)
        tdir = self.table_path(table)
        versions = self.versions(table)
        keep = set(versions[-keep_last:]) | ({current} if current else set())
        referenced: set[str] = set()
        for v in keep:
            referenced.update(self._manifest_members(table, v))
        keep |= referenced
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
