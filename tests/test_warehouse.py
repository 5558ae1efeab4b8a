"""Sink-layer semantics, mirroring the reference's connector tests
(/root/reference/etl_project_tests/connectors/test_postgresql.py:71-168)
retargeted at the versioned parquet warehouse: insert lands rows,
overwrite replaces, upsert updates-in-place + inserts new keys, and —
beyond the reference — merge idempotency (Q6/Q9) and snapshot isolation.
"""

from __future__ import annotations

import pytest

from stock_bars_data_engineering_project_spark.sinks import (
    ParquetWarehouse,
    get_checkpoint,
    save_checkpoint,
    warehouse,
)

SCHEMA = "stock string, timestamp string, close double"


@pytest.fixture()
def wh(spark, tmp_path):
    return ParquetWarehouse(spark, str(tmp_path / "wh"))


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_insert_lands_rows(spark, wh):
    wh.append(_df(spark, [("TSLA", "2025-10-01T10:00:00Z", 252.0)]), "t")
    wh.append(_df(spark, [("AAPL", "2025-10-01T10:00:00Z", 171.0)]), "t")
    got = {r.stock for r in wh.read("t").collect()}
    assert got == {"TSLA", "AAPL"}


def test_overwrite_replaces(spark, wh):
    wh.append(_df(spark, [("TSLA", "a", 1.0), ("AAPL", "a", 2.0)]), "t")
    wh.overwrite(_df(spark, [("GOOG", "b", 3.0)]), "t")
    rows = wh.read("t").collect()
    assert len(rows) == 1 and rows[0].stock == "GOOG"


def test_upsert_updates_and_inserts(spark, wh):
    # reference test_upsert: TSLA close 252 -> 260 updated, MSFT inserted
    wh.merge(_df(spark, [("TSLA", "x", 252.0)]), "t", keys=("stock", "timestamp"))
    wh.merge(
        _df(spark, [("TSLA", "x", 260.0), ("MSFT", "x", 310.0)]),
        "t",
        keys=("stock", "timestamp"),
    )
    rows = {r.stock: r.close for r in wh.read("t").collect()}
    assert rows == {"TSLA": 260.0, "MSFT": 310.0}


def test_upsert_idempotent_q9(spark, wh):
    batch = _df(spark, [("TSLA", "x", 260.0), ("MSFT", "x", 310.0)])
    wh.merge(batch, "t", keys=("stock", "timestamp"))
    before = sorted(map(tuple, wh.read("t").collect()))
    wh.merge(batch, "t", keys=("stock", "timestamp"))  # replay the overlap
    after = sorted(map(tuple, wh.read("t").collect()))
    assert before == after


def test_upsert_dedupes_source_batch_q6(spark, wh):
    dup = _df(spark, [("TSLA", "x", 1.0), ("TSLA", "x", 1.0)])
    wh.merge(dup, "t", keys=("stock", "timestamp"))
    assert wh.read("t").count() == 1


def test_partition_pruned_merge(spark, wh):
    base = _df(
        spark,
        [("TSLA", "d1", 1.0), ("AAPL", "d1", 2.0), ("TSLA", "d2", 3.0)],
    )
    wh.merge(base, "t", keys=("stock", "timestamp"), partition_by=("timestamp",))
    # batch touches only partition d2
    wh.merge(
        _df(spark, [("TSLA", "d2", 9.0), ("MSFT", "d2", 5.0)]),
        "t",
        keys=("stock", "timestamp"),
        partition_by=("timestamp",),
    )
    rows = {(r.stock, r.timestamp): r.close for r in wh.read("t").collect()}
    assert rows == {
        ("TSLA", "d1"): 1.0,
        ("AAPL", "d1"): 2.0,
        ("TSLA", "d2"): 9.0,
        ("MSFT", "d2"): 5.0,
    }


def test_snapshot_isolation(spark, wh):
    wh.overwrite(_df(spark, [("A", "x", 1.0)]), "t")
    old = wh.read("t")  # plan bound to snapshot v1
    wh.overwrite(_df(spark, [("B", "y", 2.0)]), "t")
    assert [r.stock for r in old.collect()] == ["A"]  # unaffected by v2
    assert [r.stock for r in wh.read("t").collect()] == ["B"]


def test_catalog_probe_and_reflection(spark, wh):
    assert not wh.exists("t")
    wh.append(_df(spark, [("A", "x", 1.0)]), "t")
    assert wh.exists("t")
    assert [f.name for f in wh.schema("t")] == ["stock", "timestamp", "close"]


def test_checkpoint_roundtrip(spark, wh):
    assert get_checkpoint(wh, "stock_bars") is None
    save_checkpoint(wh, "stock_bars", "2025-09-30T04:00:00Z")
    save_checkpoint(wh, "other", "2025-01-01T00:00:00Z")
    save_checkpoint(wh, "stock_bars", "2025-10-07T04:00:00Z")  # upsert wins
    assert get_checkpoint(wh, "stock_bars") == "2025-10-07T04:00:00Z"
    assert get_checkpoint(wh, "other") == "2025-01-01T00:00:00Z"


def test_log_appends(spark, wh):
    wh.log("meta", "run one")
    wh.log("meta", "run two")
    msgs = [r.log_message for r in wh.read("meta").collect()]
    assert sorted(msgs) == ["run one", "run two"]


def test_merge_evaluates_batch_once(spark, wh):
    """The batch feeds both the anti-join and the union; a source that
    is evaluated once per consumer (a live API can answer differently
    each time) would run twice and could write a duplicate key."""
    from pyspark.sql import functions as F

    wh.append(_df(spark, [(f"S{i}", "x", 1.0) for i in range(5)]), "t")
    evals = spark.sparkContext.accumulator(0)

    def key(i):
        evals.add(1)
        return f"S{i}"

    batch = spark.range(10).select(
        F.udf(key, "string")("id").alias("stock"),
        F.lit("x").alias("timestamp"),
        F.lit(2.0).alias("close"),
    )
    wh.merge(batch, "t", keys=("stock", "timestamp"))
    assert evals.value == 10
    keys = [(r.stock, r.timestamp) for r in wh.read("t").collect()]
    assert len(keys) == len(set(keys)) == 10


def test_merge_key_moving_partitions_does_not_duplicate(spark, wh):
    """A key whose partition value changes between batches must end up
    with exactly ONE row (source wins): the partition-pruned rewrite is
    only sound when partition columns are part of the merge key, so this
    shape must take the full-table merge path."""
    wh.merge(
        _df(spark, [("TSLA", "d1", 1.0)]),
        "t",
        keys=("stock",),
        partition_by=("timestamp",),
    )
    wh.merge(
        _df(spark, [("TSLA", "d2", 9.0)]),
        "t",
        keys=("stock",),
        partition_by=("timestamp",),
    )
    rows = [(r.stock, r.timestamp, r.close) for r in wh.read("t").collect()]
    assert rows == [("TSLA", "d2", 9.0)]


def test_changes_classifies_insert_update_delete(spark, wh):
    """CDC between snapshots: keyed full-outer diff with null-safe
    value comparison. v1 -> v2 exercises all three change types plus an
    untouched row (absent from the feed) and a NULL-valued update."""
    v1 = _df(
        spark,
        [
            ("TSLA", "t1", 100.0),
            ("AAPL", "t1", 200.0),
            ("GOOG", "t1", 300.0),
            ("MSFT", "t1", None),
        ],
    )
    wh.overwrite(v1, "t")
    ver1 = wh.versions("t")[-1]
    v2 = _df(
        spark,
        [
            ("TSLA", "t1", 100.0),   # unchanged
            ("AAPL", "t1", 250.0),   # update
            ("MSFT", "t1", 5.0),     # update from NULL (null-safe compare)
            ("NVDA", "t1", 900.0),   # insert
        ],                            # GOOG deleted
    )
    wh.overwrite(v2, "t")
    got = {
        r.stock: (r._change_type, r.close)
        for r in wh.changes("t", ver1, keys=("stock",)).collect()
    }
    assert got == {
        "AAPL": ("update", 250.0),
        "MSFT": ("update", 5.0),
        "NVDA": ("insert", 900.0),
        "GOOG": ("delete", 300.0),
    }


def test_changes_across_schema_drift(spark, wh):
    wh.overwrite(_df(spark, [("TSLA", "t1", 1.0)]), "t")
    ver1 = wh.versions("t")[-1]
    drifted = spark.createDataFrame(
        [("TSLA", "t1", 1.0, 7), ("AAPL", "t1", 2.0, 8)],
        "stock string, timestamp string, close double, volume int",
    )
    wh.overwrite(drifted, "t")
    got = {
        r.stock: (r._change_type, r.volume)
        for r in wh.changes("t", ver1, keys=("stock",)).collect()
    }
    # TSLA's shared value columns are equal -> not an update; AAPL new
    assert got == {"AAPL": ("insert", 8)}


def test_restore_rolls_back_pointer(spark, wh):
    wh.overwrite(_df(spark, [("TSLA", "t1", 1.0)]), "t")
    ver1 = wh.versions("t")[-1]
    wh.overwrite(_df(spark, [("AAPL", "t1", 2.0)]), "t")
    wh.restore("t", ver1)
    assert [r.stock for r in wh.read("t").collect()] == ["TSLA"]
    # restore target gone after vacuum -> loud error
    wh.overwrite(_df(spark, [("GOOG", "t1", 3.0)]), "t")
    wh.vacuum("t")
    with pytest.raises(FileNotFoundError):
        wh.restore("t", ver1)


def test_append_is_o_batch_via_hardlinks(spark, wh):
    """Appends write ONLY the batch: every file of the prior snapshot
    carries into the appended version dir as a hardlink (same inode,
    zero data bytes moved), the batch's files are new, and the read is
    the full table."""
    import os

    wh.overwrite(_df(spark, [("TSLA", "t1", 1.0), ("AAPL", "t1", 2.0)]), "t")
    base = {os.path.basename(f): os.stat(f).st_ino for f in wh.data_files("t")}
    wh.append(_df(spark, [("NVDA", "t2", 3.0)]), "t")
    wh.append(_df(spark, [("MSFT", "t3", 4.0)]), "t")

    files = wh.data_files("t")
    # the live snapshot is one self-contained dir
    assert all(f"{os.sep}v000003{os.sep}" in f for f in files)
    inodes = {os.path.basename(f): os.stat(f).st_ino for f in files}
    v2 = os.path.join(wh.table_path("t"), "v000002")
    v2_inodes = {
        n: os.stat(os.path.join(v2, n)).st_ino
        for n in os.listdir(v2)
        if n.endswith(".parquet")
    }
    # each prior snapshot's files are the same inodes, not copies
    assert {n: v2_inodes[n] for n in base} == base
    assert {n: inodes[n] for n in v2_inodes} == v2_inodes
    # and each append added only its batch's files
    assert base.keys() < v2_inodes.keys() < inodes.keys()

    got = {r.stock for r in wh.read("t").collect()}
    assert got == {"TSLA", "AAPL", "NVDA", "MSFT"}


def test_append_empty_partitioned_batch_is_noop_read(spark, wh):
    """Appending an EMPTY batch to a partitioned table must leave the
    table readable: a partitioned write of an empty frame emits no data
    files, so the new version holds only the carried-over files (a
    file-less version dir would fail every read with
    UNABLE_TO_INFER_SCHEMA, the lm_state empty-epoch regression). The
    commit still advances the version pointer."""
    wh.overwrite(
        _df(spark, [("TSLA", "t1", 1.0)]), "t", partition_by=("stock",)
    )
    empty = _df(spark, []).filter("1 = 0")
    wh.append(empty, "t")
    assert {r.stock for r in wh.read("t").collect()} == {"TSLA"}
    # idempotent under repetition, and a later real append still lands
    wh.append(empty, "t")
    wh.append(_df(spark, [("AAPL", "t2", 2.0)]), "t")
    assert {r.stock for r in wh.read("t").collect()} == {"TSLA", "AAPL"}


def test_has_partition_probes_every_live_member(spark, wh):
    """has_partition sees a partition any write of the live snapshot
    landed (an earlier append's carries over), at any level of the
    layout, and nothing else."""
    assert not wh.has_partition("t", "stock", "TSLA")  # no table yet
    wh.append(_df(spark, [("TSLA", "t1", 1.0)]), "t", partition_by=("stock",))
    wh.append(_df(spark, [("AAPL", "t2", 2.0)]), "t")  # second write
    assert wh.has_partition("t", "stock", "TSLA")
    assert wh.has_partition("t", "stock", "AAPL")
    assert not wh.has_partition("t", "stock", "MSFT")
    assert not wh.has_partition("t", "timestamp", "t1")  # not a layout column
    wh.overwrite(
        _df(spark, [("TSLA", "t1", 1.0)]), "u", partition_by=("stock", "timestamp")
    )
    assert wh.has_partition("u", "timestamp", "t1")
    assert not wh.has_partition("u", "timestamp", "t2")
    wh.overwrite(_df(spark, [("MSFT", "t3", 3.0)]), "t")  # keeps the layout
    assert not wh.has_partition("t", "stock", "TSLA")


def test_vacuum_leaves_kept_versions_intact(spark, wh, monkeypatch):
    """vacuum drops every version but the kept ones, and a kept version
    still reads whole although the files it carried over from a dropped
    version lost their original names."""
    monkeypatch.setattr(warehouse, "VACUUM_KEEP_LAST", 1)
    wh.overwrite(_df(spark, [("A", "t1", 1.0)]), "t")       # v1
    wh.overwrite(_df(spark, [("B", "t1", 1.0)]), "t")       # v2 (dead)
    wh.overwrite(_df(spark, [("C", "t1", 1.0)]), "t")       # v3
    wh.append(_df(spark, [("D", "t2", 2.0)]), "t")          # v4 = v3's files + batch
    wh.vacuum("t")
    assert wh.versions("t") == ["v000004"]
    assert {r.stock for r in wh.read("t").collect()} == {"C", "D"}


def test_append_schema_drift_contract(spark, wh):
    wh.overwrite(_df(spark, [("A", "t1", 1.0)]), "t")
    drifted = spark.createDataFrame(
        [("B", "t2", 2.0, "x")], SCHEMA + ", extra string"
    )
    with pytest.raises(ValueError, match="schema drift"):
        wh.append(drifted, "t")
    assert {r.stock for r in wh.read("t").collect()} == {"A"}


def test_compact_after_append_keeps_rows(spark, wh):
    wh.overwrite(_df(spark, [("A", "t1", 1.0)]), "t")
    wh.append(_df(spark, [("B", "t2", 2.0)]), "t")
    assert len(wh.data_files("t")) > 1
    wh.compact("t")
    assert len(wh.data_files("t")) == 1
    assert {r.stock for r in wh.read("t").collect()} == {"A", "B"}


def test_restore_refuses_missing_snapshot(spark, wh):
    wh.overwrite(_df(spark, [("A", "t1", 1.0)]), "t")       # v1
    wh.append(_df(spark, [("B", "t2", 2.0)]), "t")          # v2
    wh.overwrite(_df(spark, [("C", "t1", 1.0)]), "t")       # v3
    wh.overwrite(_df(spark, [("D", "t1", 1.0)]), "t")       # v4
    wh.vacuum("t")                                          # keeps v3, v4
    with pytest.raises(FileNotFoundError, match="snapshot missing"):
        wh.restore("t", "v000002")
    assert {r.stock for r in wh.read("t").collect()} == {"D"}


def test_append_preserves_hive_layout(spark, wh):
    """Partitioned tables: appends inherit the recorded hive layout —
    the batch lands partitioned even when the caller omits
    partition_by, read() keeps the partition column, and a
    type-widening append (which rewrites the table) keeps the table
    partitioned instead of silently flattening it."""
    import os

    # inference-neutral partition values: hive partition READS apply
    # Spark's standard partitionColumnTypeInference (a date-like string
    # comes back as DATE) — generic Spark semantics, not warehouse
    # machinery, so the layout test stays out of its way
    df1 = spark.createDataFrame(
        [("A", "d1", 1.0), ("B", "d2", 2.0)],
        "stock string, dt string, close double",
    )
    wh.overwrite(df1, "p", partition_by=("dt",))
    # caller omits partition_by -> inherited from the live snapshot
    wh.append(
        spark.createDataFrame(
            [("C", "d3", 3.0)], "stock string, dt string, close double"
        ),
        "p",
    )
    # the appended version dir is itself hive-partitioned, old and new
    v2 = os.path.join(wh.table_path("p"), "v000002")
    assert sorted(d for d in os.listdir(v2) if d.startswith("dt=")) == [
        "dt=d1", "dt=d2", "dt=d3",
    ]
    got = {(r.stock, r.dt) for r in wh.read("p").collect()}
    assert got == {("A", "d1"), ("B", "d2"), ("C", "d3")}

    # a float batch into the double column rewrites the table, same layout
    wh.append(
        spark.createDataFrame(
            [("D", "d4", 4.0)], "stock string, dt string, close float"
        ),
        "p",
    )
    latest = wh.latest_version("p")
    vdir = os.path.join(wh.table_path("p"), latest)
    assert any(d.startswith("dt=") for d in os.listdir(vdir))
    assert wh._layout("p", latest) == ("dt",)
    assert dict(wh.read("p").dtypes)["close"] == "double"
    assert {r.stock for r in wh.read("p").collect()} == {"A", "B", "C", "D"}


def test_append_and_merge_refuse_a_second_layout(spark, wh):
    """append and merge never change a table's hive layout: an explicit,
    different partition_by raises before anything is written, so the
    version pointer and the rows stay as they were, and a later merge
    keeps every untouched row. Letting a second layout in made the next
    merge drop the unpartitioned rows (its pruned rewrite carries only
    ``col=value`` dirs) or, on a table partitioned by another column,
    commit an unreadable snapshot."""
    sch = "x string, y string, v double"

    def state(t):
        rows = wh.read(t).select("x", "y", "v").collect()
        return wh.latest_version(t), sorted(tuple(r) for r in rows)

    for table, layout in (("flat", None), ("by_y", ("y",))):
        wh.append(
            spark.createDataFrame([("a", "p", 1.0), ("b", "q", 2.0)], sch),
            table,
            partition_by=layout,
        )
        before = state(table)
        with pytest.raises(ValueError, match="layout"):
            wh.append(
                spark.createDataFrame([("c", "p", 3.0)], sch),
                table,
                partition_by=("x",),
            )
        assert state(table) == before
        update = spark.createDataFrame([("a", "p", 9.0)], sch)
        with pytest.raises(ValueError, match="layout"):
            wh.merge(update, table, keys=("x", "y"), partition_by=("x",))
        assert state(table) == before
        wh.merge(update, table, keys=("x", "y"))
        assert state(table)[1] == [("a", "p", 9.0), ("b", "q", 2.0)]


def test_append_after_restore_does_not_clobber(spark, wh):
    """Version allocation after restore(): the next write must get a FRESH
    version number (max on-disk + 1), not pointer+1 — pointer-based
    allocation would rewrite v000002's directory, a retained snapshot
    that a pinned read or a later restore expects unchanged."""
    wh.append(_df(spark, [("A", "t", 1.0)]), "t")
    wh.append(_df(spark, [("B", "t", 2.0)]), "t")
    wh.append(_df(spark, [("C", "t", 3.0)]), "t")
    v1, v3 = wh.versions("t")[0], wh.versions("t")[-1]

    wh.restore("t", v1)
    wh.append(_df(spark, [("Z", "t", 99.0)]), "t")

    # v000003 (rows of v1..v3) is untouched by the post-restore write
    assert {r.stock for r in wh.read("t", v3).collect()} == {"A", "B", "C"}
    # the live table is the restored v1 plus the new batch, nothing else
    assert {r.stock for r in wh.read("t").collect()} == {"A", "Z"}
    # and the new write landed in a brand-new version directory
    assert wh.latest_version("t") not in (v1, v3)
    assert wh.versions("t")[-1] == wh.latest_version("t")


def test_merge_compact_overwrite_inherit_layout(spark, wh):
    """merge()/append()/compact()/overwrite() default partition_by=None
    inherits the live snapshot's hive layout — upserting, appending or
    compacting must not silently flatten a partitioned table. An explicit () on overwrite still flattens intentionally."""
    import os

    sch = "stock string, dt string, close double"
    wh.overwrite(
        spark.createDataFrame([("A", "d1", 1.0), ("B", "d2", 2.0)], sch),
        "p",
        partition_by=("dt",),
    )

    def _latest_is_partitioned():
        latest = wh.latest_version("p")
        vdir = os.path.join(wh.table_path("p"), latest)
        return (
            any(d.startswith("dt=") for d in os.listdir(vdir))
            and wh._layout("p", latest) == ("dt",)
        )

    wh.merge(
        spark.createDataFrame([("A", "d1", 9.0), ("C", "d3", 3.0)], sch),
        "p",
        keys=("stock", "dt"),
    )
    assert _latest_is_partitioned()
    assert {(r.stock, float(r.close)) for r in wh.read("p").collect()} == {
        ("A", 9.0),
        ("B", 2.0),
        ("C", 3.0),
    }

    wh.append(
        spark.createDataFrame([("F", "d6", 6.0)], sch), "p", partition_by=None
    )
    assert _latest_is_partitioned()

    wh.compact("p")
    assert _latest_is_partitioned()

    wh.overwrite(spark.createDataFrame([("D", "d4", 4.0)], sch), "p")
    assert _latest_is_partitioned()

    # explicit () = intentional flatten
    wh.overwrite(spark.createDataFrame([("E", "d5", 5.0)], sch), "p", partition_by=())
    latest = wh.latest_version("p")
    vdir = os.path.join(wh.table_path("p"), latest)
    assert not any(d.startswith("dt=") for d in os.listdir(vdir))
    assert wh._layout("p", latest) == ()
