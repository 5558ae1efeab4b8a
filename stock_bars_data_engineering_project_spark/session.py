"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the
same settings are what we would ship as cluster defaults: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), Arrow enabled for
the few Pandas-UDF operators, session timezone pinned to UTC so results
hash-match the DuckDB oracle (DuckDB timestamps are UTC-naive).

Scale posture (100 TB / 1000 executors): nothing here is local-only.
``spark.sql.shuffle.partitions`` is a starting value — AQE coalesces or
splits at runtime, which is the knob that actually matters at scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` if set, else half of physical RAM: the
    JVM grows its heap toward this bound, so it must fit the machine."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{phys // 2 // 2**20}m"


def get_spark(
    app_name: str = "stock_bars_data_engineering_project_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.shuffle.spill.compress", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A small driver-side frame that Spark plans as a JVM
    ``LocalTableScan``: the rows travel once as a pyarrow table, so
    collecting or writing the frame starts no Python worker.
    ``spark.createDataFrame(list)`` instead plans a Python RDD, and every
    job over it pays a worker round trip (hundreds of ms per job on a
    one-row frame). ``schema`` is a DDL string."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, r)) for r in rows], schema=to_arrow_schema(struct)
    )
    return spark.createDataFrame(table, struct)
