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


def export_jsonl(
    df: DataFrame,
    path: str,
    n_shards: int | None = None,
    compression: str | None = "gzip",
) -> None:
    """Write ``df`` as JSONL shards. ``n_shards`` repartitions to a
    target shard count (round-robin — balanced shard sizes for even
    consumer throughput); None keeps the upstream partitioning.
    ``compression=None`` writes plain text (splittable on re-read;
    gzip shards are not, which is why shard COUNT is the parallelism
    knob for compressed corpora)."""
    if n_shards is not None:
        df = df.repartition(n_shards)
    writer = df.write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)
