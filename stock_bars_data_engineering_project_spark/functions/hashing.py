"""Engine-portable hashing primitives for near-dup detection.

MinHash and SimHash here are built on **MD5** rather than the engines'
native hash functions (xxhash64 in Spark, DuckDB's `hash`) for one
reason: MD5 is bit-identical everywhere, so the DuckDB oracle can
recompute the SAME signatures, bands, and candidate pairs — the LSH
step itself is correctness-checked, not just spot-verified.

Performance note for 100 TB: MD5-per-shingle is ~2-3x slower than
xxhash64 but both are JVM-side codegen'd expressions; swap
``F.md5`` -> ``F.xxhash64`` for production once cross-engine
verification is no longer needed — the operator shapes are unchanged.

Expression-shape rule (learned the hard way, it is 10-60x): an
expensive sub-expression must only ever appear as the ARRAY INPUT of a
higher-order function — inputs are evaluated once. A reference inside
the LAMBDA BODY is re-evaluated per element, and CollapseProject will
happily inline an upstream aliased column into a lambda body (it counts
syntactic references, not runtime evaluations). Hence every function
below is a single fold whose lambda bodies touch only lambda variables,
literals, or attributes; multi-use intermediates (the MinHash signature
feeding 4 band slices) are unrolled so the multiple syntactic
references block projection collapse and keep the intermediate
materialized.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MINHASH_SIGS = 16
LSH_BANDS = 4
LSH_ROWS = MINHASH_SIGS // LSH_BANDS


def md5_bucket48(key: Column, n_buckets: int, salt: str = "") -> Column:
    """THE 48-bit bucket idiom, defined once: first 12 hex chars of the
    (optionally ``salt:``-prefixed) key's md5 — 48 bits < 2^53, exact in
    every engine's integer and double arithmetic — mod ``n_buckets``.
    Raw primitive: a NULL key yields a NULL bucket; callers that route
    rows by the bucket must add their own loud NULL guard
    (operators/sampling.hash_bucket does)."""
    keyed = (
        F.concat(F.lit(f"{salt}:"), key.cast("string")) if salt else key.cast("string")
    )
    return F.conv(F.substring(F.md5(keyed), 1, 12), 16, 10).cast("long") % n_buckets


def content_epoch(batch: DataFrame, id_col: str) -> str:
    """Deterministic content-addressed epoch id for a batch: two
    independent order-free 48-bit xor folds over the ids plus the row
    count. One aggregate job (no driver-side id list), identical for a
    redelivered batch, and loudly NULL-guarded: a NULL id cannot be
    content-addressed or replay-deduped."""
    span = 1 << 48
    row = batch.agg(
        F.bit_xor(md5_bucket48(F.col(id_col), span, salt="e1")).alias("x1"),
        F.bit_xor(md5_bucket48(F.col(id_col), span, salt="e2")).alias("x2"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(id_col).isNull().cast("int")).alias("nulls"),
    ).collect()[0]
    if (row.nulls or 0) > 0:
        raise ValueError(
            f"content-addressed epoch: {row.nulls} NULL {id_col} rows — ids "
            "must be non-NULL for replay idempotence"
        )
    return f"{(row.x1 or 0):012x}{(row.x2 or 0):012x}n{row.n}"


def minhash_signature(shingles: Column) -> Column:
    """array<string> of ``MINHASH_SIGS`` MinHash values: for seed s, the
    lexicographic min of ``md5(s || ':' || shingle)``. Min of a uniform
    hash family — the classic Broder estimator; string min avoids any
    cross-engine integer-parsing divergence.

    Single fold over the shingle array: each shingle is hashed once per
    seed and element-wise-min'ed into the accumulator, so ``shingles``
    (however expensive its expression) is evaluated exactly once per
    row. ``least`` skips the NULL initial accumulator."""
    init = F.array_repeat(F.lit(None).cast("string"), MINHASH_SIGS)
    return F.aggregate(
        shingles,
        init,
        lambda acc, sh: F.zip_with(
            acc,
            F.array(
                *[F.md5(F.concat(F.lit(f"{s}:"), sh)) for s in range(MINHASH_SIGS)]
            ),
            lambda a, b: F.least(a, b),
        ),
    )


def lsh_band_hashes(signature: Column) -> Column:
    """array<string> of ``LSH_BANDS`` band keys: md5 of each contiguous
    ``LSH_ROWS``-slice of the signature. Two docs collide in a band iff
    that band's rows all match — the standard banding amplification.

    Unrolled at the Python level: the ``LSH_BANDS`` syntactic references to
    ``signature`` keep CollapseProject from inlining an expensive
    upstream signature expression into a per-element lambda body (the
    caller should still compute the signature in its own select)."""
    return F.array(
        *[
            F.md5(F.concat_ws("", F.slice(signature, b * LSH_ROWS + 1, LSH_ROWS)))
            for b in range(LSH_BANDS)
        ]
    )


SIMHASH_BITS = 60
SIMHASH_BLOCKS = 4
SIMHASH_BLOCK_BITS = SIMHASH_BITS // SIMHASH_BLOCKS  # 15


def simhash60(toks: str) -> Column:
    """60-bit SimHash over tokens: bit j of the fingerprint is the sign
    of ``sum over tokens of (bit_j(md5_prefix60(token)) ? +1 : -1)``.
    ``toks`` is SQL text for the token array (e.g. ``"split(text, ' ')"``);
    the whole two-fold hash is ONE ``F.expr`` parse.

    60 bits (not 64) so every intermediate stays exactly representable:
    the per-token hash is split as h1 = first 7 hex chars (28 bits) and
    h2 = next 8 hex chars (32 bits) — both < 2^53, so the per-bit
    ``floor(v / 2^j) % 2`` extraction is exact in double arithmetic
    (the lambda-variable shift amount rules out the integer shift
    builtins, which need literal shifts), and the assembled fingerprint
    < 2^60 fits a signed 64-bit integer in any engine.

    One fold: per token, hash once (the h1/h2 struct is materialized
    once via the ``array_repeat`` trick), then vote into all 60 bit
    counters via ``zip_with`` — ``toks`` is evaluated once per row
    regardless of what expression produced it. ``md5(t)`` is computed
    twice (h1 and h2): hoisting it through a one-element transform +
    element_at measured 2x slower end-to-end (1.5s -> 3.0s,
    simhash_pairs at sf0.1), since the per-token array costs more than
    a second md5 of a short token."""
    halves_sql = (
        "named_struct("
        "'h1', CAST(conv(substring(md5(t), 1, 7), 16, 10) AS BIGINT), "
        "'h2', CAST(conv(substring(md5(t), 8, 8), 16, 10) AS BIGINT))"
    )
    bit_sql = (
        "CASE WHEN j < 32 "
        "THEN CAST(floor(s.h2 / power(2.0D, j)) AS BIGINT) % 2 "
        "ELSE CAST(floor(s.h1 / power(2.0D, j - 32)) AS BIGINT) % 2 END"
    )
    bit_sums_sql = (
        f"aggregate({toks}, array_repeat(0, {SIMHASH_BITS}), "
        f"(acc, t) -> zip_with(acc, "
        f"transform(array_repeat({halves_sql}, {SIMHASH_BITS}), "
        f"(s, j) -> CASE WHEN ({bit_sql}) = 1 THEN 1 ELSE -1 END), "
        f"(a, b) -> a + b))"
    )
    return F.expr(
        f"aggregate(zip_with({bit_sums_sql}, "
        f"sequence(0, {SIMHASH_BITS - 1}), "
        f"(s, j) -> CASE WHEN s > 0 THEN CAST(power(2.0D, j) AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def hamming(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))
