"""Vector (embedding) column functions — JVM-side array arithmetic.

Embeddings live as ``array<float>`` columns; all math promotes to double
FIRST so results are bit-identical with the DuckDB oracle's
double-precision sums (float accumulation orders would diverge).
``F.zip_with`` + ``F.aggregate`` keep the dot product inside codegen —
no Python, no UDF, no serialization per row.

Every helper takes SQL text (a column reference or expression) and
builds its whole tree in ONE ``F.expr`` parse, from the ``*_sql`` twin
that also composes into larger SQL text: the folds are index-ordered
left folds from a ``0.0D`` seed after the cast-to-double promotion,
the same accumulation order as the oracle's list sums.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def doubles_sql(values) -> str:
    """A literal double array as SQL text: ``repr(double)`` + the ``D``
    suffix parses back to the identical IEEE double (the rule the DuckDB
    oracle twins rely on too)."""
    return "array(" + ",".join(f"{float(x)!r}D" for x in values) + ")"


def as_double_sql(vec: str) -> str:
    return f"transform({vec}, x -> CAST(x AS DOUBLE))"


def as_double(vec: str) -> Column:
    return F.expr(as_double_sql(vec))


def dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({as_double_sql(a)}, {as_double_sql(b)}, "
        "(x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"
    )


def dot(a: str, b: str) -> Column:
    """Sequential left-fold sum — same accumulation order as the oracle's
    index-ordered list_sum, so doubles match exactly. Promotes both
    sides itself: the module contract ("all math promotes to double
    FIRST") must hold for every entry point, not only cosine — a caller
    handing raw ``array<float>`` would otherwise accumulate float32
    products that diverge from the oracle in the rounded digits. The
    double promotion of an already-double array folds away in Catalyst,
    so pre-cast callers pay nothing."""
    return F.expr(dot_sql(a, b))


def norm_sql(a: str) -> str:
    return f"sqrt({dot_sql(a, a)})"


def norm(a: str) -> Column:
    return F.expr(norm_sql(a))


def cosine_from_norms_sql(dot: str, na: str, nb: str) -> str:
    """``dot / (na * nb)``, the oracle's association, over SQL text for a
    dot product and two norms (a scorer that computes each norm once per
    row passes those columns). try_divide: a zero vector has no
    direction, so its cosine is NULL, which is DuckDB's x/0, rather than
    an ANSI DIVIDE_BY_ZERO that stops the job."""
    return f"try_divide({dot}, ({na} * {nb}))"


def cosine_sql(a: str, b: str) -> str:
    return cosine_from_norms_sql(dot_sql(a, b), norm_sql(a), norm_sql(b))


def cosine(a: str, b: str) -> Column:
    return F.expr(cosine_sql(a, b))


def truncate_dims_sql(vec: str, d: int) -> str:
    if d < 1:
        raise ValueError(f"d must be >= 1, got {d}")
    checked = (
        f"(CASE WHEN size({vec}) >= {d} THEN slice({vec}, 1, {d}) "
        f"ELSE raise_error('truncate_dims: vector shorter than d={d}') "
        "END)"
    )
    return as_double_sql(checked)


def truncate_dims(vec: str, d: int) -> Column:
    """Matryoshka-style dimension truncation: keep the first ``d``
    components as doubles (MRL-trained embeddings order information by
    prefix; cosine scoring is scale-free, so the prefix is not
    re-normalized). A vector shorter than ``d`` is a data error and
    surfaces loudly."""
    return F.expr(truncate_dims_sql(vec, d))


def quantize_int8_sql(vec: str) -> str:
    v = as_double_sql(vec)
    maxabs = f"array_max(transform({v}, x -> abs(x)))"
    scale = f"({maxabs} / 127.0D)"
    # floor(x+0.5) is HALF_UP toward +inf on both engines; Spark's
    # bround would bank-round ties and round() on negative halves
    # differs from DuckDB — the scalars.round_half_up discipline
    q = (
        f"(CASE WHEN {maxabs} > 0 THEN "
        f"transform({v}, x -> CAST(floor(x / {scale} + 0.5D) AS TINYINT)) "
        f"ELSE transform({v}, x -> CAST(0 AS TINYINT)) END)"
    )
    return f"named_struct('scale', coalesce({scale}, 0.0D), 'q', {q})"


def quantize_int8(vec: str) -> Column:
    """Symmetric per-vector int8 quantization for embedding storage:
    struct(scale double, q array<tinyint>) with scale = max|x|/127 and
    q = round_half_up(x/scale). 4x smaller at rest than float32 (16x
    vs the double math form); reconstruction error is bounded by
    scale/2 per component. The zero vector quantizes to scale 0 + all
    zeros and dequantizes exactly."""
    return F.expr(quantize_int8_sql(vec))


def dequantize_int8_sql(qs: str) -> str:
    return f"transform(({qs}).q, x -> CAST(x AS DOUBLE) * ({qs}).scale)"


def dequantize_int8(qs: str) -> Column:
    """Inverse of :func:`quantize_int8`: array<double> reconstruction."""
    return F.expr(dequantize_int8_sql(qs))
