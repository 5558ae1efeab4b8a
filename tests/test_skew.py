"""AQE skew-join handling: the session enables
spark.sql.adaptive.skewJoin; this pins that a pathologically hot join
key actually gets split at runtime (the mitigation the 100 TB design
leans on for power-law keys, alongside explicit salting in
operators/skew.py)."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import functions as F


@contextmanager
def _confs(spark, kv: dict[str, str]):
    old = {k: spark.conf.get(k) for k in kv}
    for k, v in kv.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partition(spark):
    # one hot key carrying ~100x the median partition's rows
    fact = spark.range(200_000).select(
        F.when(F.col("id") < 150_000, F.lit(7))
        .otherwise(F.col("id") % 1000)
        .alias("k"),
        (F.col("id") * 2).alias("payload"),
    )
    dim = spark.range(1000).select(
        F.col("id").alias("k"), F.concat(F.lit("g"), F.col("id")).alias("grp")
    )
    with _confs(
        spark,
        {
            # force a sort-merge join and make the skew detector's
            # thresholds reachable at test volume
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        },
    ):
        joined = fact.join(dim, "k")
        # collect() (not count()) — the skew marker lives in THIS
        # DataFrame's own executed plan; count() builds a separate one
        assert len(joined.collect()) == 200_000
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final_plan
        assert "skew=true" in final_plan, final_plan[:2000]
        assert "skewed" in final_plan  # the AQEShuffleRead split the hot side
