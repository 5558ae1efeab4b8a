"""stock_bars_data_engineering_project_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query and data-processing capabilities of
``nguyenyenchi/stock-bars-data-engineering-project`` (a pandas→PostgreSQL stock-bars ETL
pipeline; see SURVEY.md) as idiomatic Spark: every operator is a pure
``DataFrame -> DataFrame`` transform expressed through the DataFrame/SQL
API so Catalyst + Tungsten pick the physical strategy, and the design
holds from ``local[*]`` to a 1000-executor cluster.

Layout:
    sources/    file + API sources (SURVEY §2.1 S1-S8)
    sinks/      append / overwrite / keyed-merge / checkpoint / log sinks (K1-K7, C1-C2)
    functions/  scalar & column expression helpers (X1-X8) + text/hash/vector fns
    operators/  relational operators: windows, joins, dedup, similarity, top-k
    plans/      the named query registry backing __spark_entry__.py
    streaming/  Structured Streaming windows + incremental micro-batch runner
    pipeline/   the reference-parity checkpointed ETL pipeline (C3-C4)
"""

__version__ = "0.1.0"
