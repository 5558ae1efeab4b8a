"""Shared cluster-safe materialization switch: conf resolution,
refusal without a checkpoint dir, value preservation."""

from __future__ import annotations

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


def _durable_behaves(spark, df):
    """Durable mode either refuses loudly (no checkpoint dir yet) or
    round-trips the rows through the reliable checkpoint — which branch
    depends on suite ordering, since setCheckpointDir has no unset."""
    if spark.sparkContext.getCheckpointDir() is None:
        with pytest.raises(ValueError, match="setCheckpointDir"):
            materialize(df, durable=True)
    else:
        got = sorted((r.id, r.v) for r in materialize(df, durable=True).collect())
        assert got == [(1, "a"), (2, "b")]


def test_durable_param(spark):
    _durable_behaves(spark, _df(spark))


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


def test_conf_false_stays_local(spark):
    spark.conf.set(DURABLE_CONF, "false")
    try:
        got = sorted((r.id, r.v) for r in materialize(_df(spark)).collect())
        assert got == [(1, "a"), (2, "b")]
    finally:
        spark.conf.unset(DURABLE_CONF)
