"""The column helpers' SQL text against Python replays of their
definitions, value for value. Each helper is one ``F.expr`` parse of
its ``*_sql`` twin (the text helpers are checked through the twin
directly), and its arithmetic (split semantics, left-fold sums from a
0.0 seed, the double promotion of float32 inputs, HALF_UP rounding) is
replayed here independently of the package. The test names are kept
from when each helper also had a Column-built form that these tests
compared against.

Edge rows cover the semantics the SQL must preserve: empty string /
whitespace-only text (zero divisors), regex-special characters,
non-ASCII text, a one-word document, the zero vector (quantize
passthrough, NULL cosine), tiny/huge/±127 components, and the int8
quantize round trip. A zero divisor gives NULL (``try_divide``, which is
DuckDB's x/0), never an ANSI DIVIDE_BY_ZERO that stops the job."""

from __future__ import annotations

import math
import re
import struct
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from stock_bars_data_engineering_project_spark.functions import text as TX
from stock_bars_data_engineering_project_spark.functions import (
    vectors as V,
)
from stock_bars_data_engineering_project_spark.operators.similarity import (
    l2sq,
)

TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "",
    "   ",
    "!!! ... ### a@b.co 555-123-4567",
    "héllo wörld … the of an it",
    "a",
]
VA = [
    [0.1, -0.25, 3.5, 0.0] * 4,
    [0.0] * 16,
    [1e-8, -1e8, 127.0, -127.0] * 4,
]
VB = [
    [1.0, 2.0, -0.5, 0.125] * 4,
    [0.0] * 16,
    [0.5] * 16,
]


@pytest.fixture(scope="module")
def text_df(spark):
    rows = [(i + 1, t) for i, t in enumerate(TEXTS)]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def vec_df(spark):
    rows = [(i + 1, a, b) for i, (a, b) in enumerate(zip(VA, VB))]
    return spark.createDataFrame(
        rows, "id long, va array<float>, vb array<float>"
    )


def _check(df, key, expr, want):
    """``expr`` over ``df`` ordered by ``key`` equals ``want`` row for
    row."""
    got = df.orderBy(key).select(expr.alias("v"))
    assert [_as_tuple(r.v) for r in got.collect()] == want


def _try_div(a, b):
    """``try_divide``: NULL (None) for a zero divisor."""
    return None if b == 0 else a / b


def _least1(x):
    """``least(1.0, x)``: SQL's least skips a NULL argument."""
    return 1.0 if x is None else min(1.0, x)


def _sql_round(x: float, scale: int) -> float:
    """``scalars.sql_round``: CAST AS DECIMAL(30,10), then ROUND, both
    HALF_UP, from the double's shortest repr."""
    d = Decimal(repr(x)).quantize(Decimal("1e-10"), rounding=ROUND_HALF_UP)
    return float(d.quantize(Decimal(10) ** -scale, rounding=ROUND_HALF_UP))


def _tokens(t):
    return t.split(" ")


def _stop(t):
    toks = _tokens(t)
    return sum(x.lower() in TX.EN_STOPWORDS for x in toks) / len(toks)


def _punct(t):
    return _try_div(len(re.sub(r"[a-zA-Z0-9\s]", "", t)), len(t))


def _quality(t):
    lc = min(1.0, len(_tokens(t)) / 100.0)
    p = _punct(t)
    prose = 1.0 - _least1(None if p is None else p * 5.0)
    stop = min(1.0, _stop(t) * 10.0)
    return _sql_round((0.4 * lc + 0.3 * prose) + 0.3 * stop, 4)


def _fingerprint(t):
    acc = 0
    for ch in t:
        acc = (acc * 31 + ord(ch)) % 2147483647
    return acc


TEXT_REPLAYS = {
    "tokens": _tokens,
    "token_count": lambda t: len(_tokens(t)),
    "bpe_ish_token_count": lambda t: len(
        [x for x in re.split(r"[^a-z0-9]+", t.lower()) if x]
    )
    + len(re.sub(r"[a-zA-Z0-9\s]", "", t)),
    "stopword_ratio": _stop,
    "punct_ratio": _punct,
    "mean_word_len": lambda t: (len(t) - len(_tokens(t)) + 1) / len(_tokens(t)),
    "lang_id": lambda t: "en" if _stop(t) >= 0.03 else "unknown",
    "quality_score": _quality,
    "rolling_fingerprint": _fingerprint,
}


@pytest.mark.parametrize("helper", list(TEXT_REPLAYS))
def test_text_str_path_matches_column_form(text_df, helper):
    expr = F.expr(getattr(TX, f"{helper}_sql")("text"))
    replay = TEXT_REPLAYS[helper]
    _check(text_df, "doc_id", expr, [replay(t) for t in TEXTS])


def _f32(v):
    """array<float> components as the doubles Spark promotes them to."""
    return [struct.unpack("f", struct.pack("f", x))[0] for x in v]


def _fold(xs):
    acc = 0.0
    for x in xs:
        acc += x
    return acc


def _dot(a, b):
    return _fold(x * y for x, y in zip(_f32(a), _f32(b)))


def _norm(a):
    return math.sqrt(_dot(a, a))


def _quantize(a):
    v = _f32(a)
    maxabs = max(abs(x) for x in v)
    scale = maxabs / 127.0
    q = [math.floor(x / scale + 0.5) if maxabs > 0 else 0 for x in v]
    return (scale, q)


def _as_tuple(r):
    return (r.scale, list(r.q)) if hasattr(r, "scale") else r


@pytest.mark.parametrize(
    "mk",
    [
        lambda col: (V.as_double(col), _f32),
        lambda col: (V.norm(col), _norm),
        lambda col: (V.truncate_dims(col, 8), lambda a: _f32(a[:8])),
        lambda col: (V.quantize_int8(col), _quantize),
    ],
)
def test_vector_unary_str_path_matches_column_form(vec_df, mk):
    expr, replay = mk("va")
    _check(vec_df, "id", expr, [replay(a) for a in VA])


@pytest.mark.parametrize(
    "mk",
    [
        lambda a, b: (V.dot(a, b), _dot),
        lambda a, b: (
            V.cosine(a, b),
            lambda x, y: _try_div(_dot(x, y), _norm(x) * _norm(y)),
        ),
        lambda a, b: (
            l2sq(a, b),
            lambda x, y: _fold((p - q) * (p - q) for p, q in zip(_f32(x), _f32(y))),
        ),
    ],
)
def test_vector_binary_str_path_matches_column_form(vec_df, mk):
    expr, replay = mk("va", "vb")
    _check(vec_df, "id", expr, [replay(a, b) for a, b in zip(VA, VB)])


def test_dequantize_roundtrip_str_path(vec_df):
    got = [
        r.v
        for r in vec_df.orderBy("id")
        .select(V.dequantize_int8(V.quantize_int8_sql("va")).alias("v"))
        .collect()
    ]
    for a, dq in zip(VA, got):
        scale, q = _quantize(a)
        assert dq == [float(c) * scale for c in q]
        # reconstruction error is at most half a quantization step
        assert all(
            abs(x - y) <= scale / 2 * (1 + 1e-12) for x, y in zip(_f32(a), dq)
        )
