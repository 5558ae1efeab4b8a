"""Document chunking: sliding token windows with overlap.

Context-window preparation for LLM training / retrieval indexing: each
document is split into fixed-size token windows (``chunk_size``) whose
starts advance by ``chunk_size - overlap`` tokens, so consecutive chunks
share ``overlap`` tokens of context. Every token of the document lands
in at least one chunk (coverage-complete), the final chunk may be short,
and a document shorter than ``chunk_size`` yields exactly one chunk —
the standard pre-tokenizer splitting step (cf. the fixed-stride
"chunk-and-overlap" scheme used by retrieval pipelines).

Scale shape: map-only — ``sequence`` + ``posexplode`` + ``slice`` are
all codegen'd row-local expressions; output size is input token volume
times ``chunk_size / stride``, no shuffle, no state. At 100 TB the only
knob that matters is the post-explode partition count, which AQE
re-coalesces after the fact.

Chunk-count law (pinned in tests/test_chunking.py): with
``stride = chunk_size - overlap``,

    n_chunks = max(1, ceil((n_tokens - overlap) / stride))

so chunk ``i`` covers tokens ``[i*stride, i*stride + chunk_size)``; the
last chunk is always longer than ``overlap`` tokens and contributes at
least one new token (no chunk is a suffix of its predecessor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def chunk_documents(df: DataFrame, chunk_size: int = 32, overlap: int = 8) -> DataFrame:
    """Split ``text`` on single spaces into overlapping token windows.

    Returns one row per chunk: ``(doc_id, chunk_id, chunk_tokens,
    chunk_text)`` where ``chunk_id`` is the 0-based window index,
    ``chunk_tokens`` the window's token count and ``chunk_text`` the
    space-rejoined window. Deterministic, map-only, engine-portable
    (the DuckDB oracle replays the same slicing arithmetic).
    """
    if chunk_size <= 0:
        raise ValueError(f"chunk_size must be positive, got {chunk_size}")
    if not 0 <= overlap < chunk_size:
        raise ValueError(
            f"overlap must satisfy 0 <= overlap < chunk_size, got {overlap}"
        )
    stride = chunk_size - overlap

    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    # ceil((n - overlap) / stride) without floats; n <= overlap (short
    # doc) clamps to one chunk. NULL text must fail loudly here — a
    # silent zero-chunk drop would make the document vanish from the
    # training set with no audit trail (same stance as hash_bucket).
    n_chunks = F.when(
        F.col("text").isNull(),
        F.raise_error(F.lit("chunk_documents: NULL text — filter or scrub first")),
    ).otherwise(F.greatest(F.lit(1), F.floor((n - overlap + stride - 1) / stride)))

    exploded = df.select(
        F.col("doc_id"),
        toks.alias("_toks"),
        F.explode(
            F.sequence(F.lit(0).cast("long"), (n_chunks - 1).cast("long"))
        ).alias("chunk_id"),
    )
    # slice() is 1-based and length-capped at the array end, which is
    # exactly the short-final-chunk semantics.
    window = F.slice(
        F.col("_toks"), (F.col("chunk_id") * stride + 1).cast("int"), chunk_size
    )
    return exploded.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(window).cast("int").alias("chunk_tokens"),
        F.array_join(window, " ").alias("chunk_text"),
    )
