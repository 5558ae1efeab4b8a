"""Table-maintenance and bucketing tests: compaction, vacuum, and the
exchange-free co-bucketed join — the write-side scale levers."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from stock_bars_data_engineering_project_spark.sinks.bucketed import (
    co_bucketed_join,
    write_bucketed,
)
from stock_bars_data_engineering_project_spark.sinks.warehouse import ParquetWarehouse

SF_SMALL = "/root/testdata/sf0.001"


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


def test_cobucketed_join_is_exchange_free(spark):
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        F.col("o_orderkey").alias("orderkey"), "o_totalprice"
    )
    lineitem = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").select(
        F.col("l_orderkey").alias("orderkey"), "l_quantity"
    )
    write_bucketed(orders, "b_orders", ("orderkey",), 8, sort_cols=("orderkey",))
    write_bucketed(lineitem, "b_lineitem", ("orderkey",), 8, sort_cols=("orderkey",))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try:
        # force the fact-fact path (broadcast would hide the exchange)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        joined = co_bucketed_join(spark, "b_orders", "b_lineitem", on=["orderkey"])
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        # the whole point: bucketed scans feed the join with NO shuffle
        assert "Exchange" not in plan
        expected = lineitem.join(orders, on=["orderkey"]).count()
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


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


def test_cluster_by_yields_disjoint_file_ranges(spark, tmp_path):
    """Range-clustered snapshots: each parquet file covers a disjoint
    span of the cluster key, so min/max stats can skip whole files for
    a key-range predicate."""
    import pyarrow.parquet as pq

    from stock_bars_data_engineering_project_spark.sources.readers import load_table

    wh = ParquetWarehouse(spark, str(tmp_path))
    events = load_table(spark, SF_SMALL, "events")
    wh.overwrite(
        events.select("event_id", "value"), "t", cluster_by=("event_id",), n_files=4
    )
    ranges = []
    for f in wh.data_files("t"):
        meta = pq.ParquetFile(f).metadata
        los, his = [], []
        for rg in range(meta.num_row_groups):
            col = meta.row_group(rg).column(0)  # event_id
            los.append(col.statistics.min)
            his.append(col.statistics.max)
        ranges.append((min(los), max(his)))
    ranges.sort()
    assert len(ranges) > 1  # actually range-split into multiple files
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint (at most touching) spans
    # and the data survived intact
    assert wh.read("t").count() == events.count()


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


def test_export_manifest_duckdb_reads_snapshot(spark, tmp_path):
    """export_manifest (round 10): the per-version file list lets an
    EXTERNAL engine read a table version directly — DuckDB
    read_parquet over the exported list (hive_partitioning +
    union_by_name, per the docstring recipe) must return exactly what
    wh.read returns, for a partitioned table grown by appends AND for a
    pinned historical version after further writes."""
    import duckdb

    wh = ParquetWarehouse(spark, str(tmp_path))
    docs = spark.read.parquet(SF_SMALL + "/documents.parquet").select(
        "doc_id", "source", "text"
    )
    wh.overwrite(docs.filter(F.col("doc_id") % 2 == 0), "t",
                 partition_by=("source",))
    wh.append(docs.filter(F.col("doc_id") % 2 == 1), "t")
    v1 = wh._latest_version("t")
    mf = wh.export_manifest("t")
    assert mf.endswith("_FILELIST")

    def _duck(manifest_path):
        with open(manifest_path) as f:
            files = [ln.strip() for ln in f if ln.strip()]
        assert files and all(p.endswith(".parquet") for p in files)
        con = duckdb.connect()
        rows = con.execute(
            "SELECT doc_id, source, md5(text) FROM read_parquet("
            "?, hive_partitioning=true, union_by_name=true) ORDER BY doc_id",
            [files],
        ).fetchall()
        con.close()
        return rows

    want = sorted(
        (r.doc_id, r.source, r.h)
        for r in wh.read("t").select(
            "doc_id", "source", F.md5("text").alias("h")
        ).collect()
    )
    assert _duck(mf) == want

    # a pinned historical version stays externally readable after the
    # table moves on (snapshot dirs are immutable)
    wh.overwrite(docs.limit(10), "t")
    mf1 = wh.export_manifest("t", version=v1)
    assert _duck(mf1) == want
    # and the new current version exports its own (different) list
    mf2 = wh.export_manifest("t")
    assert len(_duck(mf2)) == 10


def test_merge_pruned_rewrite_links_untouched_partitions(spark, tmp_path):
    """Round-10 merge contract: a partition-pruned merge WRITES only the
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
    histories fall back to the full rewrite, which re-aligns them
    (round-10 review finding)."""
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


# -- file-level data skipping (stats manifest + pruned reads) ---------------


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_read_skipped_equals_filtered_read_unclustered(spark, tmp_path):
    # correctness never depends on stats: unclustered layout (every file
    # spans the whole value range) must return exactly the filtered read
    wh = ParquetWarehouse(spark, str(tmp_path))
    df = spark.range(0, 4000).withColumn(
        "v", (F.col("id") * 2654435761 % 1000).cast("long")
    )
    wh.overwrite(df.repartition(8), "t")
    ranges = {"v": (100, 299), "id": (None, 3500)}
    expect = wh.read("t").where((F.col("v").between(100, 299)) & (F.col("id") <= 3500))
    got = wh.read_skipped("t", ranges)
    assert _sorted_rows(got) == _sorted_rows(expect)


def test_read_skipped_prunes_clustered_files(spark, tmp_path):
    # cluster_by gives disjoint per-file ranges -> a selective range
    # predicate must drop most files at PLAN time (the 100 TB lever)
    wh = ParquetWarehouse(spark, str(tmp_path))
    df = spark.range(0, 8000).withColumn("v", F.col("id") % 800)
    wh.overwrite(df, "t", cluster_by=("v",), n_files=8)
    assert len(wh.data_files("t")) == 8
    survivors = wh.skip_files("t", {"v": (100, 199)})
    # ~1/8th of the key space; sampled range boundaries can straddle an
    # extra file run to run
    assert 1 <= len(survivors) <= 3
    got = wh.read_skipped("t", {"v": (100, 199)})
    expect = wh.read("t").where(F.col("v").between(100, 199))
    assert _sorted_rows(got) == _sorted_rows(expect)


def test_read_skipped_zorder_prunes_on_second_dimension(spark, tmp_path):
    # the z-order promise: skipping bites on a NON-leading dimension too
    wh = ParquetWarehouse(spark, str(tmp_path))
    df = spark.range(0, 16384).select(
        (F.col("id") % 128).alias("x"), (F.col("id") / 128).cast("long").alias("y")
    )
    wh.overwrite(df, "t", zorder_by=("x", "y"), n_files=16)
    n = len(wh.data_files("t"))
    survivors = wh.skip_files("t", {"y": (0, 15)})
    assert len(survivors) < n  # second dimension still prunes
    got = wh.read_skipped("t", {"y": (0, 15)})
    expect = wh.read("t").where(F.col("y").between(0, 15))
    assert _sorted_rows(got) == _sorted_rows(expect)


def test_skip_files_uses_persisted_stats_and_skips_all_null_member(spark, tmp_path):
    # manifest-chain table where one member is all-NULL in the stat
    # column: a range predicate can never match NULL, so the planner
    # must drop that member's files entirely; _STATS makes the plan a
    # pure metadata read (pinned by stats-file existence + mtime)
    import os

    wh = ParquetWarehouse(spark, str(tmp_path))
    wh.append(spark.range(0, 100).withColumn("v", F.col("id") % 10), "t")
    wh.append(
        spark.range(100, 200).withColumn("v", F.lit(None).cast("long")), "t"
    )
    stats_path = wh.write_stats("t", ["v"])
    assert os.path.basename(stats_path) == "_STATS"
    mtime = os.path.getmtime(stats_path)
    survivors = wh.skip_files("t", {"v": (0, 9)})
    assert len(survivors) >= 1
    assert all("v000001" in f for f in survivors)  # null member dropped
    got = wh.read_skipped("t", {"v": (3, 5)})
    expect = wh.read("t").where(F.col("v").between(3, 5))
    assert _sorted_rows(got) == _sorted_rows(expect)
    assert os.path.getmtime(stats_path) == mtime  # reused, not rewritten


def test_read_skipped_partitioned_members_keep_partition_columns(spark, tmp_path):
    # survivors are read per-member with basePath so hive partition
    # columns survive a file-list read; drift-appended members align
    wh = ParquetWarehouse(spark, str(tmp_path))
    df = spark.range(0, 1000).withColumn("bucket", (F.col("id") % 4).cast("int"))
    wh.append(df, "t", partition_by=("bucket",))
    wh.append(
        df.withColumn("id", F.col("id") + 1000).withColumn("extra", F.lit("x")),
        "t",
        allow_schema_drift=True,
    )
    got = wh.read_skipped("t", {"bucket": (1, 2)})
    assert set(got.columns) == {"id", "bucket", "extra"}
    expect = wh.read("t").where(F.col("bucket").between(1, 2))
    assert sorted(r["id"] for r in got.collect()) == sorted(
        r["id"] for r in expect.collect()
    )
    # partition-column stats prune: bucket=0/bucket=3 dirs never read
    survivors = wh.skip_files("t", {"bucket": (1, 2)})
    assert survivors and all(
        "bucket=1" in f or "bucket=2" in f for f in survivors
    )


def test_read_skipped_empty_survivor_set_keeps_schema(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path))
    wh.overwrite(spark.range(0, 100).withColumn("v", F.col("id") % 10), "t")
    got = wh.read_skipped("t", {"v": (1000, 2000)})
    assert got.count() == 0
    assert set(got.columns) == {"id", "v"}


def test_skip_files_rejects_doubly_unbounded_range(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path))
    wh.overwrite(spark.range(0, 10), "t")
    try:
        wh.skip_files("t", {"id": (None, None)})
        raise AssertionError("doubly-unbounded range must refuse")
    except ValueError as e:
        assert "unbounded" in str(e)


def test_file_stats_missing_column_refuses_loudly(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path))
    wh.overwrite(spark.range(0, 10), "t")
    try:
        wh.file_stats("t", ["nope"])
        raise AssertionError("unknown stat column must refuse")
    except ValueError as e:
        assert "nope" in str(e)


def test_equality_bloom_skips_unclustered_files(spark, tmp_path):
    # high-cardinality string equality on an UNCLUSTERED layout: every
    # file's [min, max] spans the domain (hash-partitioned tokens), so
    # min/max prunes nothing — the per-file bloom does the work
    wh = ParquetWarehouse(spark, str(tmp_path))
    df = spark.range(0, 3200).select(
        F.col("id"), F.concat(F.lit("tok"), F.col("id")).alias("val")
    )
    wh.overwrite(df.repartition(8, "val"), "t")
    assert len(wh.data_files("t")) == 8
    wh.write_stats("t", ["val"], bloom_cols=("val",), bloom_bits=32768)
    survivors = wh.skip_files("t", equals={"val": "tok123"})
    assert 1 <= len(survivors) <= 2  # the owning file (+ rare bloom FP)
    got = wh.read_skipped("t", equals={"val": "tok123"}).collect()
    assert [r["id"] for r in got] == [123]
    # absent value: bloom can prove absence -> zero files planned
    assert wh.skip_files("t", equals={"val": "tok99999"}) == []
    assert wh.read_skipped("t", equals={"val": "tok99999"}).count() == 0


def test_equality_and_range_compose(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path))
    df = spark.range(0, 4000).select(
        F.col("id"),
        (F.col("id") % 40).alias("bucket"),
        F.concat(F.lit("u"), (F.col("id") % 500)).alias("user"),
    )
    wh.overwrite(df, "t", cluster_by=("bucket",), n_files=8)
    wh.write_stats("t", ["bucket", "user"], bloom_cols=("user",), bloom_bits=32768)
    got = wh.read_skipped("t", {"bucket": (10, 19)}, equals={"user": "u123"})
    expect = wh.read("t").where(
        F.col("bucket").between(10, 19) & (F.col("user") == "u123")
    )
    assert sorted(r["id"] for r in got.collect()) == sorted(
        r["id"] for r in expect.collect()
    )
    # the range alone prunes the clustered dimension (<=3 of 8: the
    # range-partitioner's sampled boundaries can straddle one extra file)
    assert len(wh.skip_files("t", {"bucket": (10, 19)})) <= 3


def test_equals_guards(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path))
    wh.overwrite(spark.range(0, 10).withColumn("v", F.col("id") % 3), "t")
    for bad, match in [
        (dict(equals={"v": None}), "NULL"),
        (dict(equals={"v": 1.5}), "float"),
        (dict(ranges={"v": (0, 1)}, equals={"v": 2}), "once"),
        (dict(), "no predicate"),
    ]:
        try:
            wh.skip_files("t", bad.get("ranges"), equals=bad.get("equals"))
            raise AssertionError(f"{bad} must refuse")
        except ValueError as e:
            assert match in str(e)


def test_equality_minmax_prunes_without_bloom(spark, tmp_path):
    # no bloom in the persisted stats: equality still prunes via the
    # clustered min/max (lo = hi = v), silently skipping the bloom test
    wh = ParquetWarehouse(spark, str(tmp_path))
    df = spark.range(0, 8000).withColumn("v", F.col("id") % 800)
    wh.overwrite(df, "t", cluster_by=("v",), n_files=8)
    wh.write_stats("t", ["v"])
    survivors = wh.skip_files("t", equals={"v": 42})
    assert 1 <= len(survivors) <= 2
    got = wh.read_skipped("t", equals={"v": 42})
    assert got.count() == 10 and all(r["v"] == 42 for r in got.collect())


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


def test_refresh_stats_appends_compute_only_new_files(spark, tmp_path):
    import os

    wh = ParquetWarehouse(spark, str(tmp_path))
    wh.append(
        spark.range(0, 1000).withColumn("v", F.col("id") % 100).repartition(4), "t"
    )
    wh.write_stats("t", ["v"], bloom_cols=("v",), bloom_bits=8192)
    n_v1 = len(wh.data_files("t"))
    wh.append(
        spark.range(1000, 1500).withColumn("v", F.col("id") % 100).repartition(2), "t"
    )
    out = wh.refresh_stats("t")
    assert out["reused"] == n_v1  # prior member's files never rescanned
    assert out["computed"] == len(wh.data_files("t")) - n_v1
    assert os.path.dirname(out["path"]).endswith("v000002")
    # refreshed manifest answers both predicate kinds over ALL files
    got = wh.read_skipped("t", {"id": (0, 10)})
    assert got.count() == 11
    assert sorted(r["id"] for r in wh.read_skipped("t", equals={"v": 7}).collect()) == [
        i for i in range(1500) if i % 100 == 7
    ]


def test_refresh_stats_after_delete_reuses_hardlinked_partitions(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path))
    df = spark.range(0, 2000).withColumn("bucket", (F.col("id") % 4).cast("int"))
    wh.overwrite(df, "t", partition_by=("bucket",))
    wh.compact("t", partition_by=("bucket",))
    wh.write_stats("t", ["bucket", "id"])
    wh.delete_where("t", (F.col("bucket") == 2) & (F.col("id") < 100))
    out = wh.refresh_stats("t")
    assert out["reused"] == 3  # untouched buckets: shared inodes
    assert out["computed"] >= 1  # rewritten bucket 2
    # stats reflect the delete: bucket-2 min id is now >= 100
    survivors = wh.read_skipped("t", {"id": (0, 99)}, equals={"bucket": 2})
    assert survivors.count() == 0
    assert wh.read_skipped("t", {"id": (0, 99)}).count() == 75


def test_refresh_stats_without_seed_refuses(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path))
    wh.overwrite(spark.range(10), "t")
    try:
        wh.refresh_stats("t")
        raise AssertionError("refresh without a seed manifest must refuse")
    except ValueError as e:
        assert "write_stats" in str(e)


def test_maintain_table_policy(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path))
    # healthy table: no compaction, decision logged
    wh.overwrite(
        spark.range(0, 100).withColumn("v", F.col("id") % 10).coalesce(2), "t"
    )
    wh.write_stats("t", ["v"])
    out = wh.maintain_table("t", max_files_per_partition=8)
    assert out["compacted"] is False
    assert out["stats"]["computed"] == 0  # same inodes: pure reuse
    versions_before = wh.versions("t")
    # accrete small files past the threshold -> compact fires
    for i in range(3):
        wh.append(
            spark.range(100 * (i + 1), 100 * (i + 2))
            .withColumn("v", F.col("id") % 10)
            .repartition(4),
            "t",
        )
    out = wh.maintain_table("t", max_files_per_partition=8)
    assert out["max_per_partition"] > 8 and out["compacted"] is True
    assert len(wh.data_files("t")) <= 2  # post-compact
    assert wh.read("t").count() == 400
    # stats refreshed onto the compacted version: pruning still works
    assert wh.read_skipped("t", equals={"v": 3}).count() == 40
    assert len(wh.versions("t")) > len(versions_before)
    # stats lineage absent: policy reports stats None, never raises
    wh.overwrite(spark.range(5), "u")
    assert wh.maintain_table("u")["stats"] is None


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


def test_write_stats_bloom_only_column_gets_minmax(spark, tmp_path):
    import pyarrow.parquet as pq

    wh = ParquetWarehouse(spark, str(tmp_path))
    wh.overwrite(
        spark.range(0, 200).withColumn("user", F.concat(F.lit("u"), F.col("id"))), "t"
    )
    path = wh.write_stats("t", ["id"], bloom_cols=("user",), bloom_bits=4096)
    names = set(pq.read_schema(path).names)
    # a bloom-only column must still carry min/max, else the persisted-
    # stats gate demotes every equality plan to a live full scan
    assert {"user__min", "user__max", "user__bloom"} <= names
    assert [r["id"] for r in wh.read_skipped("t", equals={"user": "u7"}).collect()] == [7]


def test_skip_files_type_mismatch_refuses_loudly(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path))
    wh.overwrite(
        spark.range(0, 10).withColumn("user", F.concat(F.lit("u"), F.col("id"))), "t"
    )
    wh.write_stats("t", ["user"])
    for kwargs in [dict(equals={"user": 123}), dict(ranges={"user": (0, 5)})]:
        try:
            wh.skip_files("t", kwargs.get("ranges"), equals=kwargs.get("equals"))
            raise AssertionError(f"{kwargs} must refuse")
        except ValueError as e:
            assert "user" in str(e) and "type" in str(e)


def test_warehouse_lifecycle_end_to_end(spark, tmp_path):
    """The round-10 lakehouse loop in one pass: micro-batch appends
    accrete -> maintain_table compacts + refreshes stats -> a GDPR
    delete prunes physically -> refresh_stats stays O(new) -> the
    version exports to an external engine byte-equal."""
    import duckdb

    from stock_bars_data_engineering_project_spark.operators.validation import (
        pseudonymize,
    )

    wh = ParquetWarehouse(spark, str(tmp_path))
    for wave in range(3):
        batch = spark.range(wave * 1000, (wave + 1) * 1000).select(
            F.col("id"),
            (F.col("id") % 4).cast("int").alias("bucket"),
            F.concat(F.lit("user"), F.col("id") % 100).alias("owner"),
        )
        wh.append(pseudonymize(batch, ("owner",), "k1"), "t", partition_by=("bucket",))
    wh.write_stats("t", ["id"], bloom_cols=("owner",), bloom_bits=32768)
    out = wh.maintain_table("t", max_files_per_partition=2)
    assert out["compacted"] is True
    # point lookup through the refreshed stats: one owner token, pruned
    import hashlib

    tok = "pid_" + hashlib.sha256(b"k1:user7").hexdigest()[:16]
    hits = wh.read_skipped("t", equals={"owner": tok})
    assert sorted(r["id"] % 100 for r in hits.collect()) == [7] * 30
    # the delete: one owner's rows leave, physically partition-pruned
    assert wh.delete_where("t", F.col("owner") == tok) >= 1
    ref = wh.refresh_stats("t")
    assert ref["reused"] >= 1  # untouched partitions rode their inodes
    assert wh.read_skipped("t", equals={"owner": tok}).count() == 0
    assert wh.read("t").count() == 3000 - 30
    # external engine reads the final version byte-equal
    manifest = wh.export_manifest("t")
    with open(manifest) as f:
        files = [line.strip() for line in f if line.strip()]
    n = duckdb.sql(
        f"select count(*) from read_parquet({files!r}, hive_partitioning=true, union_by_name=true)"
    ).fetchone()[0]
    assert n == 3000 - 30


def test_equality_in_list_pruning(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path))
    df = spark.range(0, 3200).select(
        F.col("id"), F.concat(F.lit("tok"), F.col("id")).alias("val")
    )
    wh.overwrite(df.repartition(8, "val"), "t")
    wh.write_stats("t", ["val"], bloom_cols=("val",), bloom_bits=32768)
    # IN over two present values + one absent: union of owning files
    survivors = wh.skip_files("t", equals={"val": ["tok123", "tok999", "tok99999"]})
    assert 1 <= len(survivors) <= 4
    got = wh.read_skipped("t", equals={"val": ["tok123", "tok999", "tok99999"]})
    assert sorted(r["id"] for r in got.collect()) == [123, 999]
    # all-absent IN proves empty at plan time
    assert wh.skip_files("t", equals={"val": ["tokA", "tokB"]}) == []
    try:
        wh.skip_files("t", equals={"val": []})
        raise AssertionError("empty IN must refuse")
    except ValueError as e:
        assert "empty" in str(e)


def test_compact_reapplies_recorded_cluster_layout(spark, tmp_path):
    # append-accreted members are unclustered; compact must fold them
    # back into the recorded layout instead of destroying it
    wh = ParquetWarehouse(spark, str(tmp_path))
    df = spark.range(0, 8000).withColumn("v", F.col("id") % 800)
    wh.overwrite(df, "t", cluster_by=("v",), n_files=8)
    wh.append(
        spark.range(8000, 12000).withColumn("v", F.col("id") % 800).repartition(4),
        "t",
    )
    # pre-compact: the appended member spans the whole v-range, so the
    # range predicate keeps its files — pruning partially degraded
    before = wh.skip_files("t", {"v": (100, 199)})
    wh.compact("t", target_file_bytes=1 << 15)
    after = wh.skip_files("t", {"v": (100, 199)})
    n_files = len(wh.data_files("t"))
    assert n_files > 1
    assert len(after) < n_files  # clustering restored: pruning works
    assert len(after) <= len(before)
    got = wh.read_skipped("t", {"v": (100, 199)})
    expect = wh.read("t").where(F.col("v").between(100, 199))
    assert sorted(r["id"] for r in got.collect()) == sorted(
        r["id"] for r in expect.collect()
    )


def test_compact_reapplies_zorder_layout(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path))
    df = spark.range(0, 16384).select(
        (F.col("id") % 128).alias("x"), (F.col("id") / 128).cast("long").alias("y")
    )
    wh.overwrite(df, "t", zorder_by=("x", "y"), n_files=16)
    wh.append(df.withColumn("x", F.col("x")), "t")  # unclustered member
    # ~32 KB of input: a target well below it keeps the file count off
    # the ceil(total / target) boundary whatever the exact byte total
    wh.compact("t", target_file_bytes=1 << 13)
    n = len(wh.data_files("t"))
    assert n > 1
    # second-dimension pruning survives the compaction (z-order restored)
    assert len(wh.skip_files("t", {"y": (0, 15)})) < n


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
