"""Shared cluster-safe materialization switch: session-conf
resolution, refusal without a checkpoint dir, value preservation."""

from __future__ import annotations

import tempfile

import pytest

from stock_bars_data_engineering_project_spark.materialize import (
    DURABLE_CONF,
    materialize,
)


def _df(spark):
    return spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")


def test_local_default_preserves_rows(spark):
    got = sorted((r.id, r.v) for r in materialize(_df(spark)).collect())
    assert got == [(1, "a"), (2, "b")]


@pytest.mark.parametrize("key", [DURABLE_CONF])
def test_durable_via_session_conf(spark, key):
    spark.conf.set(key, "true")
    try:
        if spark.sparkContext.getCheckpointDir() is None:
            with pytest.raises(ValueError, match="setCheckpointDir"):
                materialize(_df(spark))
        else:
            got = sorted((r.id, r.v) for r in materialize(_df(spark)).collect())
            assert got == [(1, "a"), (2, "b")]
    finally:
        spark.conf.unset(key)


def test_durable_param(spark):
    """The durable switch refuses loudly while no checkpoint dir is set,
    then round-trips the rows through the reliable checkpoint once one
    is. The dir is set only after the refusal check: setCheckpointDir
    has no unset, so every later test in the session sees it."""
    spark.conf.set(DURABLE_CONF, "true")
    try:
        if spark.sparkContext.getCheckpointDir() is None:
            with pytest.raises(ValueError, match="setCheckpointDir"):
                materialize(_df(spark))
            # a stable dir, NOT pytest's function-scoped tmp_path: the
            # session outlives this test
            spark.sparkContext.setCheckpointDir(
                tempfile.mkdtemp(prefix="spark_graft_ckpt_")
            )
        got = sorted((r.id, r.v) for r in materialize(_df(spark)).collect())
        assert got == [(1, "a"), (2, "b")]
    finally:
        spark.conf.unset(DURABLE_CONF)


def test_conf_false_stays_local(spark):
    spark.conf.set(DURABLE_CONF, "false")
    try:
        got = sorted((r.id, r.v) for r in materialize(_df(spark)).collect())
        assert got == [(1, "a"), (2, "b")]
    finally:
        spark.conf.unset(DURABLE_CONF)
