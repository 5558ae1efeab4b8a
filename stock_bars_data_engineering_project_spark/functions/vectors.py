"""Vector (embedding) column functions — JVM-side array arithmetic.

Embeddings live as ``array<float>`` columns; all math promotes to double
FIRST so results are bit-identical with the DuckDB oracle's
double-precision sums (float accumulation orders would diverge).
``F.zip_with`` + ``F.aggregate`` keep the dot product inside codegen —
no Python, no UDF, no serialization per row.

Every helper also has a ``*_sql`` text twin and accepts a ``str`` SQL
column reference (the lsh_bucket discipline): the
loop/lambda-built Column forms pay one py4j driver round-trip per
expression node (~40–110 ms of pure plan construction PER CALL,
measured with tools/profile_build_helpers.py), while ``F.expr`` parses
the identical tree JVM-side in under a millisecond. The SQL text emits
the same fold shapes (index-ordered left folds from a ``0.0D`` seed,
the same cast-to-double promotion), so values are bit-identical; a
Column argument keeps the legacy tree for callers that cannot name
their input.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double_sql(vec: str) -> str:
    return f"transform({vec}, x -> CAST(x AS DOUBLE))"


def as_double(vec: Column | str) -> Column:
    if isinstance(vec, str):
        return F.expr(as_double_sql(vec))
    return F.transform(vec, lambda x: x.cast("double"))


def dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({as_double_sql(a)}, {as_double_sql(b)}, "
        "(x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"
    )


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential left-fold sum — same accumulation order as the oracle's
    index-ordered list_sum, so doubles match exactly. Promotes both
    sides itself: the module contract ("all math promotes to double
    FIRST") must hold for every entry point, not only cosine — a caller
    handing raw ``array<float>`` would otherwise accumulate float32
    products that diverge from the oracle in the rounded digits. The
    double promotion of an already-double array folds away in Catalyst,
    so pre-cast callers pay nothing. Two str arguments take the
    single-parse path (module docstring)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(dot_sql(a, b))
    return F.aggregate(
        F.zip_with(as_double(a), as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_sql(a: str) -> str:
    return f"sqrt({dot_sql(a, a)})"


def norm(a: Column | str) -> Column:
    if isinstance(a, str):
        return F.expr(norm_sql(a))
    return F.sqrt(dot(a, a))


def cosine_sql(a: str, b: str) -> str:
    # same association as the Column form: dot / (norm * norm)
    return f"({dot_sql(a, b)} / ({norm_sql(a)} * {norm_sql(b)}))"


def cosine(a: Column | str, b: Column | str) -> Column:
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(cosine_sql(a, b))
    return dot(a, b) / (norm(a) * norm(b))


def unit_normalize_sql(vec: str) -> str:
    v = as_double_sql(vec)
    nrm = (
        f"sqrt(aggregate(transform({v}, x -> x * x), 0.0D, "
        "(acc, x) -> acc + x))"
    )
    return (
        f"(CASE WHEN {nrm} > 0 THEN transform({v}, x -> x / {nrm}) "
        f"ELSE {v} END)"
    )


def unit_normalize(vec: Column | str) -> Column:
    """L2-normalize to unit length (the storage form that turns cosine
    into a plain dot product downstream). A zero vector has no
    direction and passes through unchanged (as doubles) rather than
    becoming NaNs — IEEE double division would not error under ANSI,
    it would silently poison every later similarity."""
    if isinstance(vec, str):
        return F.expr(unit_normalize_sql(vec))
    v = as_double(vec)
    nrm = F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    return F.when(nrm > 0, F.transform(v, lambda x: x / nrm)).otherwise(v)


def truncate_dims_sql(vec: str, d: int, renormalize: bool = True) -> str:
    if d < 1:
        raise ValueError(f"d must be >= 1, got {d}")
    checked = (
        f"(CASE WHEN size({vec}) >= {d} THEN slice({vec}, 1, {d}) "
        f"ELSE raise_error('truncate_dims: vector shorter than d={d}') "
        "END)"
    )
    return (
        unit_normalize_sql(checked) if renormalize else as_double_sql(checked)
    )


def truncate_dims(
    vec: Column | str, d: int, renormalize: bool = True
) -> Column:
    """Matryoshka-style dimension truncation: keep the first ``d``
    components (MRL-trained embeddings order information by prefix), by
    default re-normalized so downstream cosine stays calibrated. A
    vector shorter than ``d`` is a data error and surfaces loudly."""
    if isinstance(vec, str):
        return F.expr(truncate_dims_sql(vec, d, renormalize))
    if d < 1:
        raise ValueError(f"d must be >= 1, got {d}")
    checked = F.when(F.size(vec) >= d, F.slice(vec, 1, d)).otherwise(
        F.raise_error(F.lit(f"truncate_dims: vector shorter than d={d}"))
    )
    return unit_normalize(checked) if renormalize else as_double(checked)


def quantize_int8_sql(vec: str) -> str:
    v = as_double_sql(vec)
    maxabs = f"array_max(transform({v}, x -> abs(x)))"
    scale = f"({maxabs} / 127.0D)"
    q = (
        f"(CASE WHEN {maxabs} > 0 THEN "
        f"transform({v}, x -> CAST(floor(x / {scale} + 0.5D) AS TINYINT)) "
        f"ELSE transform({v}, x -> CAST(0 AS TINYINT)) END)"
    )
    return f"named_struct('scale', coalesce({scale}, 0.0D), 'q', {q})"


def quantize_int8(vec: Column | str) -> Column:
    """Symmetric per-vector int8 quantization for embedding storage:
    struct(scale double, q array<tinyint>) with scale = max|x|/127 and
    q = round_half_up(x/scale). 4x smaller at rest than float32 (16x
    vs the double math form); reconstruction error is bounded by
    scale/2 per component. The zero vector quantizes to scale 0 + all
    zeros and dequantizes exactly."""
    if isinstance(vec, str):
        return F.expr(quantize_int8_sql(vec))
    v = as_double(vec)
    maxabs = F.array_max(F.transform(v, F.abs))
    scale = maxabs / 127.0
    q = F.when(
        maxabs > 0,
        # floor(x+0.5) is HALF_UP toward +inf on both engines; Spark's
        # bround would bank-round ties and round() on negative halves
        # differs from DuckDB — the scalars.round_half_up discipline
        F.transform(v, lambda x: F.floor(x / scale + 0.5).cast("tinyint")),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("tinyint")))
    return F.struct(
        F.coalesce(scale, F.lit(0.0)).alias("scale"), q.alias("q")
    )


def dequantize_int8_sql(qs: str) -> str:
    return f"transform(({qs}).q, x -> CAST(x AS DOUBLE) * ({qs}).scale)"


def dequantize_int8(qs: Column | str) -> Column:
    """Inverse of :func:`quantize_int8`: array<double> reconstruction."""
    if isinstance(qs, str):
        return F.expr(dequantize_int8_sql(qs))
    return F.transform(qs["q"], lambda x: x.cast("double") * qs["scale"])
