"""Text functions + multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_bars_data_engineering_project_spark.functions.text import (
    quality_score,
    rolling_fingerprint,
    word_shingles,
)
from stock_bars_data_engineering_project_spark.operators.multimodal import (
    attach_binary_payload,
)


def test_rolling_fingerprint_known_value(spark):
    # "ab": ((0*31+97)*31+98) % (2^31-1) = 3105
    row = (
        spark.createDataFrame([("ab",)], "text string")
        .select(rolling_fingerprint("text").alias("fp"))
        .collect()[0]
    )
    assert row.fp == 3105


def test_shingles_short_doc_empty(spark):
    rows = (
        spark.createDataFrame([("a b",), ("a b c d",)], "text string")
        .select(word_shingles("text").alias("sh"))
        .collect()
    )
    assert rows[0].sh == []
    assert rows[1].sh == ["a b c", "b c d"]


def test_quality_score_bounds(spark):
    rows = (
        spark.createDataFrame([("the a of and in is it that to an " * 10,), ("x",)], "text string")
        .select(quality_score("text").alias("q"))
        .collect()
    )
    assert 0.0 <= rows[1].q < rows[0].q <= 1.0


def test_frame_sample_plumbing(spark):
    from stock_bars_data_engineering_project_spark.operators.multimodal import (
        sample_frames,
    )
    from stock_bars_data_engineering_project_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(20)
    media = attach_binary_payload(docs)

    frames = sample_frames(media)
    out = frames.collect()
    assert len(out) == 80  # 1 -> N fan-out
    by_media = {}
    for r in out:
        by_media.setdefault(r.media_id, []).append(r)
    for rows in by_media.values():
        assert sorted(r.frame_idx for r in rows) == [0, 1, 2, 3]
        assert all(isinstance(r.frame_payload, (bytes, bytearray)) for r in rows)


def test_top_gram_share_matches_counter(spark):
    """Sorted-run fold == Counter().most_common(1) multiplicity."""
    from collections import Counter

    from stock_bars_data_engineering_project_spark.functions.text import (
        top_gram_share,
        word_shingles_sql,
    )

    texts = [
        "a b a b a b a b",          # one looping bigram
        "x y z w v u",              # all distinct
        "spam spam spam spam spam", # identical gram stream
        "p q",                      # single gram
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.share
        for r in df.select(
            "doc_id", top_gram_share(word_shingles_sql("text", 2)).alias("share")
        ).collect()
    }
    for i, t in enumerate(texts):
        toks = t.split(" ")
        grams = [" ".join(toks[j : j + 2]) for j in range(len(toks) - 1)]
        want = Counter(grams).most_common(1)[0][1] / len(grams)
        assert abs(got[i] - want) < 1e-12, (i, got[i], want)


def test_unigram_surprisal_known_values(spark, tmp_path):
    """The surprisal arm of tfidf_vocab_suite equals the hand-computed
    mean -ln p(token) under the corpus unigram model."""
    import math

    from stock_bars_data_engineering_project_spark.plans.registry import QUERIES

    docs = spark.createDataFrame(
        [
            (1, "a a b", "en", "src0", 5),
            (2, "b c", "en", "src0", 3),
            (3, "", "en", "src0", 0),  # no tokens -> no surprisal row
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf_dir = str(tmp_path)
    docs.write.parquet(f"{sf_dir}/documents.parquet")
    out = {
        r.doc_id: r.score
        for r in QUERIES["tfidf_vocab_suite"]
        .fn(spark, sf_dir)
        .filter(F.col("tag") == "surprisal")
        .collect()
    }
    # corpus counts over non-empty lowered tokens: a=2, b=2, c=1, total=5
    p = {"a": 2 / 5, "b": 2 / 5, "c": 1 / 5}
    exp1 = -(math.log(p["a"]) * 2 + math.log(p["b"])) / 3
    exp2 = -(math.log(p["b"]) + math.log(p["c"])) / 2
    assert set(out) == {1, 2}  # the empty doc has no row
    assert out[1] == pytest.approx(round(exp1, 4), abs=1e-9)
    assert out[2] == pytest.approx(round(exp2, 4), abs=1e-9)


def test_tfidf_terms_use_the_corpus_word_model(spark, tmp_path):
    """The tfidf arm of tfidf_vocab_suite tokenizes like every other
    arm (lower-cased, empty tokens dropped) on both engines: a double
    space yields no empty term and "The the" counts as one term."""
    import duckdb

    from stock_bars_data_engineering_project_spark.plans.extensions import (
        _tfidf_top3,
    )
    from stock_bars_data_engineering_project_spark.plans.registry import QUERIES

    docs = spark.createDataFrame(
        [(1, "The the  cat"), (2, "a dog")], "doc_id long, text string"
    )
    got = sorted(
        (r.doc_id, r.term, r.rank) for r in _tfidf_top3(docs).collect()
    )
    assert got == [(1, "cat", 2), (1, "the", 1), (2, "a", 1), (2, "dog", 2)]

    path = str(tmp_path / "documents.parquet")
    docs.write.parquet(path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}/*.parquet'")
    oracle = sorted(
        (r[0], r[1], r[2])
        for r in con.execute(
            "SELECT doc_id, term, rank FROM ("
            + QUERIES["tfidf_vocab_suite"].oracle
            + ") WHERE tag = 'tfidf'"
        ).fetchall()
    )
    assert oracle == got


def test_quality_scores_replay_and_contract(spark):
    """Hashed-classifier scores match a hashlib+math replay (the same
    arithmetic the DuckDB oracle runs), feature count is 2n-1, and
    token-less docs drop out."""
    import hashlib
    import math

    from stock_bars_data_engineering_project_spark.functions.quality_model import (
        GAIN,
        N_BUCKETS,
        quality_scores,
    )

    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "solo"), (3, ""), (4, " "), (5, "A a")],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_features, r.qscore) for r in quality_scores(docs).collect()}

    def w(feat: str) -> float:
        b = int(hashlib.md5(feat.encode()).hexdigest()[:12], 16) % N_BUCKETS
        h = int(hashlib.md5(f"w:{b}".encode()).hexdigest()[:12], 16)
        return h / float(1 << 48) * 2 - 1

    def score(feats: list[str]) -> float:
        m = sum(w(f) for f in feats) / len(feats)
        return 1.0 / (1.0 + math.exp(-GAIN * m))

    # unigrams + adjacent bigrams
    f1 = ["the", "cat", "sat", "the_cat", "cat_sat"]
    assert out[1][0] == 5
    assert abs(out[1][1] - score(f1)) < 1e-12
    # single token: no bigram arm
    assert out[2][0] == 1
    assert abs(out[2][1] - score(["solo"])) < 1e-12
    # empty / whitespace-only docs produce no feature rows
    assert 3 not in out and 4 not in out
    # lowercased before hashing: "A a" -> two identical features
    assert out[5][0] == 3  # a, a, a_a
    assert abs(out[5][1] - score(["a", "a", "a_a"])) < 1e-12


def test_phash_dedup_pipeline(spark):
    """Perceptual-hash image dedup: exact payload copies collapse
    (hamming 0); blocked pairs == brute-force pairs within max_hamming
    on controlled hash values; guard on the pigeonhole bound."""
    import itertools

    import pytest

    from stock_bars_data_engineering_project_spark.operators.multimodal import (
        attach_binary_payload,
        average_hash,
        fake_gray8x8,
        perceptual_hashes,
        phash_dup_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "same bytes", "s"), (2, "same bytes", "s"), (3, "different bytes", "s")],
        "doc_id long, text string, source string",
    )
    media = attach_binary_payload(docs)
    hashed = perceptual_hashes(media)
    rows = {r.media_id: r.phash for r in hashed.collect()}
    # deterministic fake decode: equal payloads -> equal hash; and the
    # driver-side replay agrees with the executor-side computation
    assert rows[1] == rows[2]
    assert rows[1] == average_hash(fake_gray8x8(b"same bytes"))
    pairs = phash_dup_pairs(hashed).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in pairs if r.hamming == 0] == [(1, 2, 0)]

    # pigeonhole completeness on controlled hashes: flip bits across
    # blocks so pairs at hamming 1..3 exist plus one at 4 (excluded)
    base = 0x0123456789ABCDEF
    ctl = spark.createDataFrame(
        [
            (10, base),
            (11, base ^ 0b1),                      # hamming 1
            (12, base ^ (1 << 16) ^ (1 << 32)),    # hamming 2, two blocks
            (13, base ^ 0b111),                    # hamming 3 vs 10
            (14, base ^ (1 << 0) ^ (1 << 16) ^ (1 << 32) ^ (1 << 48)),  # 4
        ],
        "media_id long, phash long",
    )
    got = {
        (r.id_a, r.id_b)
        for r in phash_dup_pairs(ctl).collect()
    }
    vals = {r.media_id: r.phash for r in ctl.collect()}
    expect = {
        (a, b)
        for a, b in itertools.combinations(sorted(vals), 2)
        if bin(vals[a] ^ vals[b]).count("1") <= 3
    }
    assert got == expect
    assert (10, 14) not in got  # hamming 4 excluded


def test_lang_id_profiles_classifies_five_languages(spark):
    from stock_bars_data_engineering_project_spark.functions.text import (
        lang_id_profiles,
    )

    rows = [
        (1, "the cat sat on the mat and it was happy for hours", "en"),
        (2, "der hund ist nicht mit der katze und ich gehe zu hause", "de"),
        (3, "le chien est dans la maison et les chats ne sont pas pour", "fr"),
        (4, "el perro es un animal que vive en la casa con los gatos", "es"),
        (5, "il cane che vive di un amore per sono con non della casa", "it"),
        (6, "zzz qqq www rrr ttt yyy uuu", "unknown"),
        (7, None, "unknown"),
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.lang
        for r in docs.select(
            "doc_id", lang_id_profiles("text").alias("lang")
        ).collect()
    }
    for i, _, want in rows:
        assert got[i] == want, (i, got[i], want)


def test_lang_id_profiles_threshold_and_ties(spark):
    from stock_bars_data_engineering_project_spark.functions.text import (
        lang_id_profiles,
    )

    def lang(n_other):
        # one en stopword among 1 + n_other tokens
        docs = spark.createDataFrame(
            [(1, "the " + " ".join(f"w{i}" for i in range(n_other)))],
            "doc_id long, text string",
        )
        return docs.select(lang_id_profiles("text").alias("l")).collect()[0].l

    assert lang(19) == "en"  # ratio exactly 0.05: the threshold is inclusive
    assert lang(20) == "unknown"  # ratio 1/21 falls below it

    # deterministic tie: a token in BOTH fr and es profiles ('que') ->
    # first profile in dict order wins (fr precedes es)
    tie = spark.createDataFrame([(1, "que que que")], "doc_id long, text string")
    assert (
        tie.select(lang_id_profiles("text").alias("l")).collect()[0].l
        == "fr"
    )


def test_lang_id_profiles_empty_doc_is_unknown(spark):
    """A zero-token document must classify 'unknown' — not kill the job
    with an ANSI divide-by-zero (the density divisor is the token
    count), and not fall through to the last profile language in the
    oracle's CASE (both found and fixed by review)."""
    from stock_bars_data_engineering_project_spark.functions.text import (
        lang_id_profiles,
    )

    df = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, "\n\t")], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.lang
        for r in df.select(
            "doc_id", lang_id_profiles("text").alias("lang")
        ).collect()
    }
    assert got == {0: "unknown", 1: "unknown", 2: "unknown"}


# --- real decode branch (synthesized PNG, no Pillow needed to WRITE) -------


def _make_png(width: int, height: int, pixel_rows) -> bytes:
    """Minimal valid 8-bit GRAYSCALE PNG from stdlib zlib+struct —
    pixel_rows is height rows of width ints in [0, 255]. Lets the
    PIL-gated decode branch execute against REAL image bytes in any
    environment that has a codec, without needing one to write the
    fixture."""
    import struct
    import zlib

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(row) for row in pixel_rows)  # filter 0/row
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def encode_bmp(rows: list) -> bytes:
    """Uncompressed 24-bit BMP bytes (BITMAPINFOHEADER, bottom-up,
    4-byte row padding) from a top-down row-major pixel matrix. Each
    pixel is an ``(r, g, b)`` triple or a single gray int (encoded as
    r = g = b, which makes the round-trip luma exact)."""
    import struct

    h, w = len(rows), len(rows[0])
    row_size = (3 * w + 3) & ~3
    img_size = row_size * h
    off = 14 + 40  # file header + BITMAPINFOHEADER
    header = struct.pack("<2sIHHI", b"BM", off + img_size, 0, 0, off)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    body = bytearray()
    for row in reversed(rows):  # BMP stores rows bottom-up
        for p in row:
            r, g, b = (p, p, p) if isinstance(p, int) else p
            body += bytes((b, g, r))  # little-endian channel order
        body += b"\x00" * (row_size - 3 * w)
    return header + dib + bytes(body)


_PNG_8X8_ROWS = [[(r * 8 + c) * 4 for c in range(8)] for r in range(8)]


def test_synthesized_png_is_structurally_valid():
    """Codec-free pin of the fixture writer: parse the chunk stream,
    verify every CRC, and check the inflated IDAT carries exactly
    height * (1 + width) filter-prefixed bytes — so the PIL-gated tests
    below can never be broken by a malformed fixture."""
    import struct
    import zlib

    png = _make_png(8, 8, _PNG_8X8_ROWS)
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    pos, seen, idat = 8, [], b""
    while pos < len(png):
        (ln,) = struct.unpack(">I", png[pos : pos + 4])
        tag = png[pos + 4 : pos + 8]
        data = png[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack(">I", png[pos + 8 + ln : pos + 12 + ln])
        assert crc == zlib.crc32(tag + data) & 0xFFFFFFFF, tag
        seen.append(tag)
        if tag == b"IDAT":
            idat += data
        pos += 12 + ln
    assert seen == [b"IHDR", b"IDAT", b"IEND"]
    assert len(zlib.decompress(idat)) == 8 * (1 + 8)


def _pil_or_none():
    from stock_bars_data_engineering_project_spark.operators.multimodal import _pil

    return _pil()


def test_real_gray8x8_reads_synthesized_pixels(spark):
    """The REAL decode branch, executing in EVERY environment: on a
    synthesized 8x8 gray BMP, _gray8x8 must return the EXACT
    encoded pixels — through Pillow when installed (convert('L') +
    resize to own size are identities) or through the stdlib BMP
    parser otherwise (gray-encoded r=g=b makes the integer luma exact)
    — and the Spark perceptual_hashes default path must equal a
    pure-Python average_hash replay of those pixels."""
    from stock_bars_data_engineering_project_spark.operators.multimodal import (
        _bmp_gray8x8,
        _gray8x8,
        average_hash,
        perceptual_hashes,
    )

    bmp = encode_bmp(_PNG_8X8_ROWS)
    flat = [p for row in _PNG_8X8_ROWS for p in row]
    assert _gray8x8(bmp) == flat
    # the pure branch agrees pixel-for-pixel regardless of which branch
    # _gray8x8 dispatched to
    assert _bmp_gray8x8(bmp) == flat

    df = spark.createDataFrame([(1, bytearray(bmp))], "media_id long, payload binary")
    got = perceptual_hashes(df).collect()[0]
    assert got.phash == average_hash(flat)

    # with Pillow present, its PNG decode of the same pixels must agree
    # with the BMP branch (cross-branch parity on real image bytes)
    if _pil_or_none() is not None:
        png = _make_png(8, 8, _PNG_8X8_ROWS)
        assert _gray8x8(png) == flat


def test_bmp_codec_roundtrip_and_guards():
    """The stdlib BMP codec (the image modality's WAV trick): encode ->
    decode is identity for RGB and gray matrices including odd widths
    (4-byte row padding); non-BMP and truncated payloads raise
    ValueError."""
    import pytest as _pytest

    from stock_bars_data_engineering_project_spark.operators.multimodal import (
        decode_bmp,
    )

    rgb = [
        [(255, 0, 0), (0, 255, 0), (0, 0, 255)],
        [(1, 2, 3), (200, 100, 50), (9, 8, 7)],
    ]  # 3 wide: row stride pads 9 -> 12 bytes
    w, h, back = decode_bmp(encode_bmp(rgb))
    assert (w, h) == (3, 2) and back == rgb

    gray = [[0, 17], [255, 128], [64, 32]]
    w, h, back = decode_bmp(encode_bmp(gray))
    assert (w, h) == (2, 3)
    assert back == [[(p, p, p) for p in row] for row in gray]

    with _pytest.raises(ValueError, match="not a BMP"):
        decode_bmp(b"\x89PNG not a bmp at all, padded to header size....")
    with _pytest.raises(ValueError, match="truncated"):
        decode_bmp(encode_bmp(rgb)[:-4])


def test_wav_roundtrip_and_laws():
    """The audio modality's REAL codec path (stdlib wave, no external
    dependency): synth_wav emits honest RIFF/PCM that decode_wav reads
    back — exact frame count, sine RMS within 1% of A/sqrt(2), peak in
    [0.99A, A] (worst-case over the arm's full parameter grid measured
    at 0.2% / 0.998A), and the bytes start with a RIFF header any WAV
    reader accepts."""
    import math

    from stock_bars_data_engineering_project_spark.operators.multimodal import (
        _WAV_AMP,
        decode_wav,
        synth_wav,
    )

    target = _WAV_AMP / math.sqrt(2.0)
    for doc_id in (0, 7, 49, 101, 263):
        n = 800 + (doc_id % 50) * 16
        payload = synth_wav(n, 200.0 + (doc_id % 20) * 20.0)
        assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
        ns, rms, peak = decode_wav(payload)
        assert ns == n
        assert abs(rms - target) <= 0.01 * target
        assert 0.99 * _WAV_AMP <= peak <= _WAV_AMP
    # empty payload decodes to zeros, not a crash
    assert decode_wav(synth_wav(0, 200.0)) == (0, 0.0, 0.0)


def test_audio_metrics_distributed(spark):
    """attach_wav_payload + audio_metrics: the Arrow-batched plumbing
    returns one scalar row per input id with the exact frame counts."""
    from pyspark.sql import functions as F

    from stock_bars_data_engineering_project_spark.operators.multimodal import (
        attach_wav_payload,
        audio_metrics,
    )

    df = spark.createDataFrame([(i,) for i in range(0, 120, 7)], "doc_id long")
    out = audio_metrics(attach_wav_payload(df)).collect()
    assert len(out) == df.count()
    for r in out:
        assert r.wav_samples == 800 + (r.doc_id % 50) * 16
        assert r.wav_peak > 0
