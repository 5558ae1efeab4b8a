"""The shared tombstone path of the persisted indexes
(operators/index_maint.py) on toy tables, for each of the three index
families: the NULL-id guard, ids read from a frame's first column, the
unbuilt-index refusal, and the layout-preserving apply_deletes."""

from __future__ import annotations

import pytest

from stock_bars_data_engineering_project_spark.operators.index_maint import (
    BUCKETED,
    IVF,
    apply_deletes,
    deleted_table,
    delete_ids,
)
from stock_bars_data_engineering_project_spark.sinks.warehouse import ParquetWarehouse

IDS = [1, 2, 3, 4]


def _bm25(wh, table):
    spark = wh.spark
    wh.overwrite(
        spark.createDataFrame(
            [(i % 2, f"t{i}", i, 1, 3) for i in IDS],
            "bkt int, token string, doc_id long, tf int, dl int",
        ),
        f"{table}__postings",
        partition_by=("bkt",),
    )
    wh.overwrite(
        spark.createDataFrame([(i, 3) for i in IDS], "doc_id long, dl int"),
        f"{table}__docs",
    )
    wh.overwrite(
        spark.createDataFrame([(2,)], "n_buckets int"),
        f"{table}__meta",
    )
    return [f"{table}__postings", f"{table}__docs"]


def _trgm(wh, table):
    spark = wh.spark
    wh.overwrite(
        spark.createDataFrame(
            [(i % 2, "abc", i) for i in IDS],
            "bkt int, trigram string, doc_id long",
        ),
        f"{table}__postings",
        partition_by=("bkt",),
    )
    wh.overwrite(
        spark.createDataFrame([(i,) for i in IDS], "doc_id long"),
        f"{table}__docs",
    )
    wh.overwrite(
        spark.createDataFrame([(2,)], "n_buckets int"),
        f"{table}__meta",
    )
    return [f"{table}__postings", f"{table}__docs"]


def _ann(wh, table):
    wh.overwrite(
        wh.spark.createDataFrame(
            [(i, [float(i), 0.0], i % 2) for i in IDS],
            "vec_id long, embedding array<double>, cid int",
        ),
        table,
        partition_by=("cid",),
    )
    return [table]


FAMILIES = {
    "bm25": (_bm25, BUCKETED),
    "trgm": (_trgm, BUCKETED),
    "ann": (_ann, IVF),
}


@pytest.fixture(params=sorted(FAMILIES))
def family(request, spark, tmp_path):
    build, layout = FAMILIES[request.param]
    return ParquetWarehouse(spark, str(tmp_path / "wh")), build, layout


def _ids(wh, table):
    return sorted(r[0] for r in wh.read(deleted_table(table)).collect())


def _frame(wh, ids, col):
    return wh.spark.createDataFrame([(i,) for i in ids], f"{col} long")


def test_unbuilt_index_refuses_both_id_forms(family):
    # both forms of the id column: the layout's name, or any other
    wh, _, layout = family
    for col in (layout.id_col, "x"):
        with pytest.raises(FileNotFoundError, match="no such table"):
            delete_ids(wh, _frame(wh, [1], col), "never_built", layout)
    assert not wh.exists(deleted_table("never_built"))


def test_null_tombstone_raises(family):
    wh, build, layout = family
    build(wh, "ix")
    nulls = wh.spark.createDataFrame([(None,)], f"{layout.id_col} long")
    with pytest.raises(Exception, match=f"NULL {layout.id_col} tombstone"):
        delete_ids(wh, nulls, "ix", layout)
    assert not wh.exists(deleted_table("ix"))


def test_first_column_ids_tombstone_alike(family):
    wh, build, layout = family
    build(wh, "ix")
    dead = deleted_table("ix")
    delete_ids(wh, _frame(wh, [2, 3], layout.id_col), "ix", layout)
    named = (wh.read(dead).schema, _ids(wh, "ix"))
    wh.drop(dead)
    # a DataFrame's first column is the id, whatever its name
    delete_ids(wh, _frame(wh, [2, 3], "x"), "ix", layout)
    assert (wh.read(dead).schema, _ids(wh, "ix")) == named
    assert wh.read(dead).columns == [layout.id_col]
    assert named[1] == [2, 3]


def test_apply_deletes_drops_rows_keeps_layout(family):
    wh, build, layout = family
    row_tables = build(wh, "ix")
    layouts = {t: wh._layout(t, wh.latest_version(t)) for t in row_tables}
    delete_ids(wh, _frame(wh, [2, 3], "x"), "ix", layout)
    # duplicate tombstones change nothing
    delete_ids(wh, _frame(wh, [3], "x"), "ix", layout)
    apply_deletes(wh, "ix", layout)
    assert not wh.exists(deleted_table("ix"))
    for t in row_tables:
        assert sorted(r[layout.id_col] for r in wh.read(t).collect()) == [1, 4]
        assert wh._layout(t, wh.latest_version(t)) == layouts[t]
    assert layouts[row_tables[0]] == (layout.hive_col,)
    apply_deletes(wh, "ix", layout)  # no tombstones: a no-op
