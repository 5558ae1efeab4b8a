"""Corpus export sinks — the delivery end of a training-data pipeline.

Training stacks consume JSONL shards (one document object per line,
usually gzip-compressed, sharded for parallel download); columnar
parquet is the processing format, JSONL is the interchange format. The
export is a plain distributed write: one shard per partition, so shard
count/size is controlled with the standard repartition dial — no
driver-side serialization of a 100 TB corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


# JSONL shards export_jsonl writes
N_SHARDS = 8


def export_jsonl(df: DataFrame, path: str) -> None:
    """Write ``df`` as ``N_SHARDS`` JSONL shards, repartitioned
    round-robin (balanced shard sizes for even consumer throughput).
    Shards are gzip-compressed, so they do not split on re-read: shard
    COUNT is the parallelism knob."""
    df.repartition(N_SHARDS).write.mode("overwrite").option(
        "compression", "gzip"
    ).json(path)
