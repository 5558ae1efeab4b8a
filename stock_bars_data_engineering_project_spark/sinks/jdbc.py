"""Env-gated JDBC PostgreSQL connector — the reference's durable store
as an OPTIONAL Spark path.

The reference's PostgreSqlClient (etl_project/connectors/postgresql.py:
70-91) exposes insert / overwrite (drop + insert) / keyed upsert
(INSERT ... ON CONFLICT DO UPDATE) against a live PostgreSQL. This
engine replaces PG with the ParquetWarehouse as its primary store (the
SURVEY design stance: Postgres-as-query-executor becomes Catalyst),
but a user pointing the engine at an EXISTING PostgreSQL still needs a
first-class path. This module is that path, gated exactly like the
live REST source (sources/bars_source.fetch_bars_rest): constructed
from environment variables, a clean skip when absent, zero hard
dependency — the test suite and the driver never require a database.

Environment contract (the only configuration surface):

- ``SPARK_GRAFT_JDBC_URL``   — e.g. ``jdbc:postgresql://host:5432/db``
- ``SPARK_GRAFT_JDBC_USER`` / ``SPARK_GRAFT_JDBC_PASSWORD``
- the PostgreSQL JDBC driver jar on the Spark classpath
  (``spark.jars`` / ``--jars``; not bundled here)

Smoke procedure: ``tools/jdbc_smoke.md`` is the one-command dockerized
PostgreSQL recipe that runs the four DSN-gated tests for real — run it
before any deployment that enables this connector.

Scale shape:

- Reads go through ``spark.read.jdbc`` with an optional partition spec
  (``partition_col`` + bounds + ``num_partitions``): N executors issue
  N range-disjoint cursors instead of one session streaming the whole
  table through the driver. Catalyst pushes filters and projections
  into the remote SQL (JDBC is a pushdown-capable V2 source).
- Writes go through ``df.write.jdbc`` in 10,000-row batches — each
  partition COPYs its slice concurrently; the database's write
  throughput, not Spark, is the bottleneck by design.
- Upsert is the standard Spark-to-PG two-phase: write the batch to a
  STAGING table (parallel, conflict-free), then one driver-side
  ``INSERT ... SELECT ... ON CONFLICT (keys) DO UPDATE`` moves it
  atomically into the target — the set-based form of the reference's
  row-dict upsert, identical semantics (non-key columns take the
  excluded row's values), O(batch) database work, and no row ever
  round-trips through Python.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

ENV_URL = "SPARK_GRAFT_JDBC_URL"
ENV_USER = "SPARK_GRAFT_JDBC_USER"
ENV_PASSWORD = "SPARK_GRAFT_JDBC_PASSWORD"


def jdbc_configured() -> bool:
    """True when the env contract is satisfied — the test-skip gate."""
    return bool(os.environ.get(ENV_URL))


class JdbcWarehouse:
    """K1/K2/K3 against a live PostgreSQL over JDBC — the reference's
    PostgreSqlClient surface (postgresql.py:70-91) re-expressed on
    ``spark.read/write.jdbc``. Construct via :meth:`from_env` (raises
    with a clear message when unconfigured) or pass the DSN directly.
    """

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        user: str | None = None,
        password: str | None = None,
        driver: str = "org.postgresql.Driver",
    ):
        self.spark = spark
        self.url = url
        self._props = {"driver": driver}
        if user is not None:
            self._props["user"] = user
        if password is not None:
            self._props["password"] = password

    @classmethod
    def from_env(cls, spark: SparkSession) -> "JdbcWarehouse":
        url = os.environ.get(ENV_URL)
        if not url:
            raise RuntimeError(
                f"JDBC connector not configured: set {ENV_URL} "
                f"(and optionally {ENV_USER}/{ENV_PASSWORD}) to use it"
            )
        return cls(
            spark,
            url,
            os.environ.get(ENV_USER),
            os.environ.get(ENV_PASSWORD),
        )

    # -- reads --------------------------------------------------------

    def read(
        self,
        table: str,
        partition_col: str | None = None,
        lower: int | None = None,
        upper: int | None = None,
        num_partitions: int = 8,
    ) -> DataFrame:
        """S5 against the remote table. With a partition spec the scan
        issues ``num_partitions`` range-disjoint cursors (the only way
        a 10^9-row remote table reads in parallel); without one it is a
        single-cursor read, fine for dims."""
        reader = (
            self.spark.read.format("jdbc")
            .option("url", self.url)
            .option("dbtable", table)
        )
        for k, v in self._props.items():
            reader = reader.option(k, v)
        if partition_col is not None:
            if lower is None or upper is None:
                raise ValueError(
                    "partitioned jdbc read needs lower and upper bounds"
                )
            reader = (
                reader.option("partitionColumn", partition_col)
                .option("lowerBound", int(lower))
                .option("upperBound", int(upper))
                .option("numPartitions", int(num_partitions))
            )
        return reader.load()

    def query(self, sql: str) -> DataFrame:
        """S6: ad-hoc remote SQL — pushed to the database verbatim via
        the ``query`` option (the remote executes it; Spark scans the
        result)."""
        reader = (
            self.spark.read.format("jdbc")
            .option("url", self.url)
            .option("query", sql)
        )
        for k, v in self._props.items():
            reader = reader.option(k, v)
        return reader.load()

    # -- writes -------------------------------------------------------

    def _writer(self, df: DataFrame, table: str):
        w = (
            df.write.format("jdbc")
            .option("url", self.url)
            .option("dbtable", table)
            .option("batchsize", 10_000)
        )
        for k, v in self._props.items():
            w = w.option(k, v)
        return w

    def insert(self, df: DataFrame, table: str) -> None:
        """K1: append insert (postgresql.py:70-73) — creates the table
        from the frame's schema if absent, else appends. Each Spark
        partition writes its slice concurrently."""
        self._writer(df, table).mode("append").save()

    def overwrite(self, df: DataFrame, table: str) -> None:
        """K2: drop-and-replace (postgresql.py:75-77). Spark's
        overwrite mode drops and recreates the table from the frame's
        schema — the reference's drop_table + insert in one mode."""
        self._writer(df, table).mode("overwrite").save()

    def upsert(
        self,
        df: DataFrame,
        table: str,
        keys: tuple[str, ...],
    ) -> None:
        """K3: keyed upsert (postgresql.py:79-91) — INSERT ... ON
        CONFLICT (keys) DO UPDATE SET every non-key column to the
        excluded row's value, exactly the reference's statement, via
        the staging two-phase (module docstring). The target table
        must exist with a unique constraint on ``keys`` (the same
        precondition the reference's primary-key Table carries)."""
        if not keys:
            raise ValueError("upsert needs at least one key column")
        missing = [k for k in keys if k not in df.columns]
        if missing:
            raise ValueError(f"upsert keys absent from frame: {missing}")
        staging = f"{table}__staging"
        self.overwrite(df, staging)
        cols = ", ".join(f'"{c}"' for c in df.columns)
        keylist = ", ".join(f'"{k}"' for k in keys)
        sets = ", ".join(
            f'"{c}" = EXCLUDED."{c}"' for c in df.columns if c not in keys
        )
        action = f"DO UPDATE SET {sets}" if sets else "DO NOTHING"
        merge_ok = False
        try:
            self.execute(
                f'INSERT INTO {table} ({cols}) SELECT {cols} FROM {staging} '
                f"ON CONFLICT ({keylist}) {action}"
            )
            merge_ok = True
        finally:
            # A failed merge must not leave __staging behind — the next
            # upsert's overwrite would silently drop/recreate it with a
            # possibly different schema, masking the original failure.
            try:
                self.execute(f"DROP TABLE IF EXISTS {staging}")
            except Exception:
                # when the merge itself failed (e.g. the database went
                # away), the cleanup fails for the same reason — the
                # MERGE error is the one callers must see, not the
                # DROP's connect error; staging cleanup then falls to
                # the next upsert's overwrite. A cleanup failure after
                # a SUCCESSFUL merge still surfaces.
                if merge_ok:
                    raise

    # -- DDL / driver-side statements ---------------------------------

    def execute(self, sql: str) -> None:
        """Run one driver-side statement (DDL, the upsert merge) on a
        JVM JDBC connection — the reference's engine.execute seam. Not
        for data movement; data goes through the parallel read/write
        paths above."""
        jvm = self.spark._sc._jvm
        props = jvm.java.util.Properties()
        for k, v in self._props.items():
            if k != "driver":
                props.setProperty(k, v)
        # DriverManager filters registered drivers by CALLER-classloader
        # visibility; a jar supplied via spark.jars / --jars lives in
        # Spark's mutable URL classloader and is invisible to py4j's
        # caller, so getConnection throws 'No suitable driver' even when
        # the parallel read/write paths (which route the 'driver' option
        # through Spark's DriverRegistry) work. Bypass it the way Spark's
        # own DriverRegistry does: resolve the class via the thread
        # context classloader and connect through the driver instance.
        driver_cls = jvm.java.lang.Class.forName(
            self._props["driver"],
            True,
            jvm.java.lang.Thread.currentThread().getContextClassLoader(),
        )
        driver = driver_cls.getDeclaredConstructor().newInstance()
        conn = driver.connect(self.url, props)
        if conn is None:
            raise RuntimeError(
                f"JDBC driver {self._props['driver']} rejected URL "
                f"{self.url!r} (driver.connect returned null)"
            )
        try:
            stmt = conn.createStatement()
            try:
                stmt.execute(sql)
            finally:
                stmt.close()
        finally:
            conn.close()

    def drop_table(self, table: str) -> None:
        """postgresql.py's drop_table (drop if exists)."""
        self.execute(f"DROP TABLE IF EXISTS {table}")
