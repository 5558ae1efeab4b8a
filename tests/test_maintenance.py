"""Table-maintenance tests: compaction, vacuum, schema drift and the
snapshot isolation of the write verbs."""

from __future__ import annotations

from pyspark.sql import functions as F

from stock_bars_data_engineering_project_spark.sinks.warehouse import ParquetWarehouse


def test_compact_reduces_files_preserves_rows(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path))
    # simulate micro-batch accretion: several small appends -> many files
    for i in range(4):
        wh.append(spark.range(i * 1000, (i + 1) * 1000).repartition(8), "t")
    before = len(wh.data_files("t"))
    assert before > 8
    wh.compact("t", target_file_bytes=1 << 30)  # everything fits one file
    assert len(wh.data_files("t")) == 1
    assert wh.read("t").count() == 4000
    assert wh.read("t").agg(F.sum("id")).first()[0] == sum(range(4000))


def test_compact_partitioned_one_file_per_partition(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path))
    df = spark.range(0, 2000).withColumn("bucket", (F.col("id") % 4).cast("int"))
    for _ in range(3):
        wh.append(df, "t", partition_by=("bucket",))
        df = df.withColumn("id", F.col("id") + 10000)
    wh.compact("t", partition_by=("bucket",))
    files = wh.data_files("t")
    assert len(files) == 4  # one per hive partition
    assert wh.read("t").count() == 6000


def test_vacuum_drops_old_versions_keeps_current(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path))
    for i in range(5):
        wh.overwrite(spark.range(i, i + 10), "t")
    assert wh.read("t", "v000001").count() == 10  # history readable
    wh.vacuum("t", keep_last=2)
    assert wh.read("t").agg(F.min("id")).first()[0] == 4  # latest intact
    assert wh.read("t", "v000004").count() == 10  # kept
    try:
        wh.read("t", "v000001").count()
        raise AssertionError("vacuumed version should not be readable")
    except Exception:
        pass


def test_merge_schema_drift_backfills_nulls(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path))
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, val string")
    wh.merge(v1, "t", keys=("id",))
    # source adds a column: old rows backfill NULL, collisions take source
    v2 = spark.createDataFrame(
        [(2, "B", 9.5), (3, "c", 1.0)], "id long, val string, score double"
    )
    wh.merge(v2, "t", keys=("id",), allow_schema_drift=True)
    got = {r.id: (r.val, r.score) for r in wh.read("t").collect()}
    assert got == {1: ("a", None), 2: ("B", 9.5), 3: ("c", 1.0)}


def test_merge_strict_rejects_drift(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path))
    wh.merge(spark.createDataFrame([(1, "a")], "id long, val string"), "t", keys=("id",))
    drifted = spark.createDataFrame([(2, "b", 1.0)], "id long, val string, extra double")
    try:
        wh.merge(drifted, "t", keys=("id",))
        raise AssertionError("strict merge should reject asymmetric schemas")
    except AssertionError:
        raise
    except Exception:
        pass  # analysis error from unionByName, as intended


def test_crashed_write_leaves_readers_unaffected(spark, tmp_path):
    """The commit protocol: a snapshot written but never committed (a
    crashed writer) must be invisible — readers keep seeing the old
    version until the pointer flips."""
    wh = ParquetWarehouse(spark, str(tmp_path))
    wh.overwrite(spark.range(0, 100), "t")
    # simulate a writer that died after writing files, before committing
    wh._write_snapshot(spark.range(500, 600), "t")
    assert wh.read("t").count() == 100
    assert wh.read("t").agg(F.max("id")).first()[0] == 99
    # the next successful write skips over the orphaned version number
    wh.overwrite(spark.range(0, 7), "t")
    assert wh.read("t").count() == 7


def test_reader_pinned_before_overwrite_survives_flip(spark, tmp_path):
    """Snapshot isolation: a DataFrame resolved against the old version
    still collects correctly after a new version commits (old files are
    immutable until vacuum)."""
    wh = ParquetWarehouse(spark, str(tmp_path))
    wh.overwrite(spark.range(0, 50), "t")
    pinned = wh.read("t")  # resolves v000001's file listing
    wh.overwrite(spark.range(1000, 1010), "t")  # v000002 commits
    assert pinned.count() == 50  # old snapshot intact
    assert wh.read("t").count() == 10  # new readers see the flip


def test_merge_pruned_rewrite_links_untouched_partitions(spark, tmp_path):
    """Merge contract: a partition-pruned merge WRITES only the
    touched partitions — untouched partitions carry into the new
    snapshot as hardlinks of the previous version's immutable files
    (same inode, zero data bytes moved), content is exactly the
    full-merge result, and vacuuming the old version cannot strand the
    new snapshot (shared inodes survive the unlink)."""
    import os

    wh = ParquetWarehouse(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(i, i % 4, f"v{i}") for i in range(400)], "id long, p int, val string"
    )
    wh.overwrite(base, "t", partition_by=("p",))
    v1_files = {
        f: os.stat(f).st_ino
        for f in wh.data_files("t")
        if "/p=1/" in f or "/p=2/" in f or "/p=3/" in f
    }
    assert v1_files

    batch = spark.createDataFrame(
        [(0, 0, "NEW"), (4, 0, "NEW"), (1000, 0, "NEW")],
        "id long, p int, val string",
    )
    wh.merge(batch, "t", keys=("p", "id"), partition_by=("p",))

    # content: exactly the full-merge semantics
    got = sorted(tuple(r) for r in wh.read("t").select("id", "p", "val").collect())
    want = sorted(
        [(i, i % 4, "NEW" if i in (0, 4) else f"v{i}") for i in range(400)]
        + [(1000, 0, "NEW")]
    )
    assert got == want

    # physics: untouched partitions' files are the SAME inodes; the
    # touched partition's files are new
    v2_files = wh.data_files("t")
    untouched_inodes = {
        os.stat(f).st_ino for f in v2_files if "/p=1/" in f or "/p=2/" in f or "/p=3/" in f
    }
    assert untouched_inodes == set(v1_files.values())
    v1_touched = {f for f in wh.data_files("t", "v000001") if "/p=0/" in f}
    v2_touched = {f for f in v2_files if "/p=0/" in f}
    assert v2_touched and not {os.path.basename(f) for f in v2_touched} & {
        os.path.basename(f) for f in v1_touched
    }

    # durability: dropping the old version leaves the snapshot whole
    wh.vacuum("t", keep_last=1)
    assert sorted(
        tuple(r) for r in wh.read("t").select("id", "p", "val").collect()
    ) == want

    # a second pruned merge on top of the linked snapshot still works
    wh.merge(
        spark.createDataFrame([(2000, 2, "NEW2")], "id long, p int, val string"),
        "t", keys=("p", "id"), partition_by=("p",),
    )
    assert wh.read("t").filter("id = 2000").count() == 1
    assert wh.read("t").count() == 402


def test_merge_on_drift_appended_history_falls_back_to_full(spark, tmp_path):
    """A pruned merge must NOT hardlink drift-appended manifest members
    into one directory (a single-dir parquet read samples one footer
    and silently drops/mis-aligns the drifted column): mixed-schema
    histories fall back to the full rewrite, which re-aligns them."""
    wh = ParquetWarehouse(spark, str(tmp_path))
    wh.overwrite(
        spark.createDataFrame([(i, i % 2, "a") for i in range(20)],
                              "id long, p int, val string"),
        "t", partition_by=("p",),
    )
    wh.append(
        spark.createDataFrame([(100, 0, "b", 9.5)],
                              "id long, p int, val string, extra double"),
        "t", allow_schema_drift=True,
    )
    batch = spark.createDataFrame(
        [(0, 0, "NEW", None), (200, 1, "NEW", 1.5)],
        "id long, p int, val string, extra double",
    )
    wh.merge(batch, "t", keys=("p", "id"), partition_by=("p",))
    out = wh.read("t")
    assert "extra" in out.columns
    got = {(r.id): (r.val, r.extra) for r in out.collect()}
    assert got[100] == ("b", 9.5)      # drifted member's value survives
    assert got[200] == ("NEW", 1.5)    # merged row carries the column
    assert got[0] == ("NEW", None)
    assert got[1] == ("a", None)       # untouched rows aligned, present
    assert len(got) == 22


# -- DML DELETE -------------------------------------------------------------


def test_delete_where_partition_pruned_hardlinks_untouched(spark, tmp_path):
    import os

    wh = ParquetWarehouse(spark, str(tmp_path))
    df = spark.range(0, 2000).withColumn("bucket", (F.col("id") % 4).cast("int"))
    wh.overwrite(df, "t", partition_by=("bucket",))
    wh.compact("t", partition_by=("bucket",))  # one file per partition
    def _rel(f):
        # bucket=N/part-...: basenames alone can collide across hive
        # dirs (one write task serves several partition values)
        return os.path.join(os.path.basename(os.path.dirname(f)), os.path.basename(f))

    prev_files = {_rel(f): os.stat(f).st_ino for f in wh.data_files("t")}
    # delete on a NON-partition column touching only bucket 2
    n = wh.delete_where("t", (F.col("id") % 4 == 2) & (F.col("id") < 100))
    assert n == 1
    got = wh.read("t")
    assert got.count() == 2000 - 25  # ids 2,6,...,98
    assert got.filter((F.col("id") % 4 == 2) & (F.col("id") < 100)).count() == 0
    # untouched partitions carried as hardlinks (same inode, zero bytes moved)
    new_by_rel = {_rel(f): f for f in wh.data_files("t")}
    linked = {
        rel.split(os.sep)[0]
        for rel, ino in prev_files.items()
        if rel in new_by_rel and os.stat(new_by_rel[rel]).st_ino == ino
    }
    assert linked == {"bucket=0", "bucket=1", "bucket=3"}
    # time travel: the pre-delete version still reads whole
    assert wh.read("t", "v000002").count() == 2000


def test_delete_where_null_predicate_rows_kept(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path))
    df = spark.range(0, 10).withColumn(
        "v", F.when(F.col("id") < 3, None).otherwise(F.col("id"))
    )
    wh.overwrite(df, "t")
    wh.delete_where("t", F.col("v") > 5)  # NULL v rows must survive
    got = wh.read("t")
    assert got.count() == 6  # ids 0,1,2 (NULL v) + 3,4,5
    assert got.filter(F.col("v").isNull()).count() == 3


def test_delete_where_no_match_is_versionless_noop(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path))
    wh.overwrite(
        spark.range(0, 100).withColumn("bucket", (F.col("id") % 2).cast("int")),
        "t",
        partition_by=("bucket",),
    )
    before = wh.versions("t")
    assert wh.delete_where("t", "id > 1000") == 0
    assert wh.versions("t") == before  # replay-idempotent: no commit
    # and the same on an unpartitioned table
    wh.overwrite(spark.range(5), "u")
    before_u = wh.versions("u")
    assert wh.delete_where("u", F.col("id") > 99) == 0
    assert wh.versions("u") == before_u


def test_delete_where_sql_string_and_unpartitioned_fallback(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path))
    wh.overwrite(spark.range(0, 50), "t")
    assert wh.delete_where("t", "id % 10 = 0") == 1
    got = sorted(r["id"] for r in wh.read("t").collect())
    assert got == [i for i in range(50) if i % 10 != 0]


def test_delete_where_emptying_whole_partition_is_not_resurrected(spark, tmp_path):
    # the review-confirmed hole: survivors of an emptied partition write
    # NO leaf dir, and a dir-presence-inferred carry-over would hardlink
    # the old files straight back into the committed snapshot
    wh = ParquetWarehouse(spark, str(tmp_path))
    df = spark.range(0, 400).withColumn("bucket", (F.col("id") % 4).cast("int"))
    wh.overwrite(df, "t", partition_by=("bucket",))
    assert wh.delete_where("t", F.col("bucket") == 2) == 1
    got = wh.read("t")
    assert got.count() == 300
    assert got.filter(F.col("bucket") == 2).count() == 0
    assert sorted(r["bucket"] for r in got.select("bucket").distinct().collect()) == [0, 1, 3]


def test_warehouse_lifecycle_end_to_end(spark, tmp_path):
    """The maintenance loop in one pass: micro-batch appends accrete ->
    compact folds them to one file per partition -> a GDPR delete
    prunes physically -> an external engine reads the final version's
    data files and sees the same rows."""
    import duckdb

    wh = ParquetWarehouse(spark, str(tmp_path))
    for wave in range(3):
        batch = spark.range(wave * 1000, (wave + 1) * 1000).select(
            F.col("id"),
            (F.col("id") % 4).cast("int").alias("bucket"),
            F.concat(F.lit("user"), F.col("id") % 100).alias("owner"),
        )
        wh.append(batch, "t", partition_by=("bucket",))
    wh.compact("t")
    assert len(wh.data_files("t")) == 4  # one per hive partition
    # user7 owns ids == 7 mod 100, all in bucket 3: one partition touched
    assert wh.delete_where("t", F.col("owner") == "user7") == 1
    assert wh.read("t").count() == 3000 - 30
    files = wh.data_files("t")
    n = duckdb.sql(
        f"select count(*) from read_parquet({files!r}, hive_partitioning=true)"
    ).fetchone()[0]
    assert n == 3000 - 30


def test_append_type_drift_refuses_at_write_time(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path))
    wh.append(spark.createDataFrame([(1, "a")], "id long, v string"), "t")
    bad = spark.createDataFrame([(2, 3)], "id long, v long")  # v flipped type
    try:
        wh.append(bad, "t")
        raise AssertionError("type drift must refuse at write time")
    except ValueError as e:
        assert "type drift" in str(e) and "'v'" in str(e)
    # the table is unpoisoned: still readable, still one row
    assert wh.read("t").count() == 1
    # and an explicitly drift-allowed append stays the caller's call
    wh.append(bad, "t", allow_schema_drift=True)


def test_append_numeric_widening_and_partition_inference_allowed(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path))
    # int -> bigint widening: union alignment resolves it, must pass
    wh.append(spark.createDataFrame([(1, 2)], "id long, v int"), "t")
    wh.append(spark.createDataFrame([(2, 3)], "id long, v long"), "t")
    assert wh.read("t").count() == 2
    # hive partition column read back as int (dirname inference) while
    # batches carry bigint: the persisted-index ingest shape, must pass
    df = spark.range(0, 10).withColumn("bkt", F.col("id") % 4)
    wh.append(df, "p", partition_by=("bkt",))
    wh.append(df.withColumn("id", F.col("id") + 10), "p")
    assert wh.read("p").count() == 20
