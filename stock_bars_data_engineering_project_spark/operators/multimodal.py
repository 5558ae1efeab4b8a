"""Multimodal column plumbing: opaque binary payloads + typed metadata,
with Arrow-batched Pandas-UDF decode stages.

Design for 100 TB of images/audio/video in parquet:

  * media travels as an opaque ``binary`` column NEXT TO typed metadata
    (media_type, width/height/duration, codec) so filters and joins
    prune on metadata without touching bytes — column pruning means a
    metadata-only query never reads a single payload byte;
  * decode / frame-sample run in ``mapInPandas`` — per-batch Arrow
    transfer, one Python roundtrip per ~10k rows, not per row;
  * payload size is the partition-sizing hazard: repartition by a
    size-aware key before heavy decode so one task never holds a skewed
    batch of 100 MB videos.

Every modality's decode seam EXECUTES for real with zero external
dependencies: audio through stdlib ``wave``, images through the stdlib
uncompressed-BMP codec below (the WAV trick applied to pixels), video
frame fan-out through deterministic byte slicing. Pillow/ffmpeg/
torchaudio remain the import-gated upgrade paths for the formats the
stdlib can't parse; the phash stage keeps ``fake_gray8x8`` as the
deterministic cross-engine stand-in the driver oracle replays for
payloads no branch can decode.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("byte_len", T.LongType(), True),
        T.StructField("content_md5", T.StringType(), True),
        T.StructField("meta_width", T.IntegerType(), True),
        T.StructField("meta_height", T.IntegerType(), True),
        T.StructField("meta_duration_ms", T.IntegerType(), True),
    ]
)

def attach_binary_payload(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Wrap rows into the media schema, using utf-8 bytes of ``text_col``
    as a stand-in payload (deterministic; real pipelines read the bytes
    from object storage). ``passthrough`` appends extra source columns
    unchanged — THE definition of the payload/byte_len/content_md5
    triple lives here; query-layer consumers project from this rather
    than restating the expressions."""
    payload = F.encode(F.col(text_col), "utf-8")
    return df.select(
        F.col(id_col).alias("media_id"),
        F.lit("image").alias("media_type"),
        payload.alias("payload"),
        F.octet_length(payload).cast("long").alias("byte_len"),
        F.md5(payload).alias("content_md5"),
        F.lit(None).cast("int").alias("meta_width"),
        F.lit(None).cast("int").alias("meta_height"),
        F.lit(None).cast("int").alias("meta_duration_ms"),
        *[F.col(c) for c in passthrough],
    )


def _pil():
    """Import-gated Pillow (same pattern as sources.bars_source's
    import-gated ``requests``): returns the Image module when the codec
    is installed, None in codec-less environments. Called inside the
    mapInPandas closures so each executor resolves it locally."""
    try:
        from PIL import Image
    except ImportError:
        return None
    return Image


# ---------------------------------------------------------------------------
# Stdlib BMP codec — the image modality's WAV trick
# ---------------------------------------------------------------------------
#
# Uncompressed 24-bit BMP needs no codec library, so with this short
# parser the image decode seam EXECUTES for real in every environment —
# the same closure stdlib `wave` gave the audio path. Pillow remains
# the real-codec upgrade path (JPEG/PNG/WebP, resampling filters);
# the dispatch order is Pillow first, BMP parser second.

_BMP_HEADER = 14
_BMP_DIB_MIN = 40


def decode_bmp(payload: bytes) -> tuple[int, int, list]:
    """Parse uncompressed 24-bit BMP bytes -> (width, height, rows) with
    top-down rows of ``(r, g, b)`` triples. Raises ``ValueError`` on
    anything that is not a plain 24-bit uncompressed BMP — the caller
    decides whether that is a fallback (resize stamp path) or an error
    (the loud stub)."""
    import struct

    if len(payload) < _BMP_HEADER + _BMP_DIB_MIN or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (off,) = struct.unpack_from("<I", payload, 10)
    dib_size, w, h = struct.unpack_from("<Iii", payload, _BMP_HEADER)
    bpp, comp = struct.unpack_from("<HI", payload, _BMP_HEADER + 14)
    if dib_size < _BMP_DIB_MIN or bpp != 24 or comp != 0:
        raise ValueError(
            f"unsupported BMP flavor (dib={dib_size}, bpp={bpp}, comp={comp})"
        )
    top_down = h < 0
    h = abs(h)
    row_size = (3 * w + 3) & ~3
    if w <= 0 or h <= 0 or off + row_size * h > len(payload):
        raise ValueError("truncated BMP payload")
    rows = []
    for j in range(h):
        src = j if top_down else h - 1 - j
        base = off + src * row_size
        rows.append(
            [
                (payload[base + 3 * i + 2], payload[base + 3 * i + 1],
                 payload[base + 3 * i])
                for i in range(w)
            ]
        )
    return w, h, rows


def _nn_resize(rows: list, width: int, height: int) -> list:
    """Nearest-neighbor resample of a top-down pixel matrix — the
    dependency-free resize kernel behind the BMP branch (Pillow's
    resampling filters are the upgrade, not the contract)."""
    src_h, src_w = len(rows), len(rows[0])
    return [
        [rows[j * src_h // height][i * src_w // width] for i in range(width)]
        for j in range(height)
    ]


def _bmp_gray8x8(payload: bytes) -> list[int]:
    """BMP-branch decode + grayscale + 8x8 resample. Luma is the
    integer ITU-R 601 formula Pillow's ``convert('L')`` uses, so on
    gray-encoded BMPs (r = g = b) the two real branches agree exactly:
    (299r + 587g + 114b + 500) // 1000 == p when all channels are p."""
    w, h, rows = decode_bmp(payload)
    gray = [
        [(299 * r + 587 * g + 114 * b + 500) // 1000 for (r, g, b) in row]
        for row in rows
    ]
    if (w, h) == (8, 8):
        return [p for row in gray for p in row]
    return [p for row in _nn_resize(gray, 8, 8) for p in row]


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_payload", T.BinaryType(), True),
    ]
)


def sample_frames(df: DataFrame, n_frames: int = 4) -> DataFrame:
    """mapInPandas frame sampling — a 1->N row fan-out (one row per
    sampled frame), the shape ffmpeg keyframe extraction takes. The
    deterministic stand-in slices the payload into ``n_frames`` even
    byte ranges; a production build replaces the slicing with decoder
    calls. Output rows carry only (media_id, frame_idx, frame bytes) so
    the downstream per-frame featurization shuffles frames, not whole
    videos."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "frame_idx": [], "frame_payload": []}
            # plain-scalar zip, not iterrows: boxing a pandas Series per
            # row to read two columns is the per-row overhead this
            # Arrow-batched design exists to avoid
            for media_id, payload in zip(
                pdf["media_id"].values, pdf["payload"].values
            ):
                payload = payload or b""
                step = max(1, len(payload) // n_frames)
                for i in range(n_frames):
                    rows["media_id"].append(media_id)
                    rows["frame_idx"].append(i)
                    # the LAST frame runs to the end: len % n_frames
                    # tail bytes belong to a frame, not the void
                    end = (i + 1) * step if i < n_frames - 1 else len(payload)
                    rows["frame_payload"].append(payload[i * step : end])
            yield pd.DataFrame(rows)

    return df.select("media_id", "payload").mapInPandas(_sample, schema=FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual-hash image dedup
# ---------------------------------------------------------------------------

PHASH_BITS = 64
_PHASH_BLOCKS = 4  # 4 x 16-bit blocks: lossless pigeonhole for hamming <= 3


def fake_gray8x8(payload: bytes) -> list[int]:
    """Deterministic stand-in for decode+resize-to-8x8-grayscale:
    64 pixel values md5-expanded from the payload (identical payloads
    get identical pixels, so exact re-encodes collapse; a REAL decoder
    additionally collapses re-compressions and small edits)."""
    if payload is None:
        return [0] * PHASH_BITS
    out = []
    for i in range(PHASH_BITS // 16):
        out.extend(hashlib.md5(payload + bytes([i])).digest())
    return out[:PHASH_BITS]


def _gray8x8(payload: bytes) -> list[int]:
    """Real decode path, Pillow -> BMP parser -> fake: Pillow handles
    any format it knows; without it the stdlib BMP branch
    (:func:`_bmp_gray8x8`) still executes a REAL decode for BMP
    payloads — on gray-encoded BMPs the two branches return identical
    pixels (luma note there). Non-decodable payloads fall back to the
    deterministic fake so the plumbing stays total."""
    Image = _pil()
    if Image is not None:
        import io

        img = Image.open(io.BytesIO(payload)).convert("L").resize((8, 8))
        return list(img.getdata())
    try:
        return _bmp_gray8x8(payload)
    except (ValueError, TypeError):
        return fake_gray8x8(payload)


def average_hash(pixels: list[int]) -> int:
    """Classic aHash: bit i set iff pixel i is above the mean. Returned
    as a SIGNED 64-bit value (two's complement wrap for bit 63) so it
    round-trips through Spark's LongType / Arrow int64."""
    mean = sum(pixels) / len(pixels)
    h = 0
    for i, p in enumerate(pixels):
        if p > mean:
            h |= 1 << i
    return h - (1 << 64) if h >= (1 << 63) else h


def perceptual_hashes(df: DataFrame, pixels_fn=None) -> DataFrame:
    """(media_id, phash): 64-bit average-hash per image payload —
    mapInPandas over the binary column (Arrow-batched; the payload
    never survives past this stage, so downstream dedup shuffles 8
    bytes per image, not the image).

    ``pixels_fn`` overrides the decode seam (default: the PIL-gated
    ``_gray8x8``). Callers that need engine-independent determinism —
    the driver row's cross-engine oracle — pass ``fake_gray8x8``
    explicitly so the result cannot flip when a codec appears in the
    environment."""
    px = pixels_fn or _gray8x8

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "phash": [average_hash(px(p)) for p in pdf["payload"]],
                }
            )

    return df.select("media_id", "payload").mapInPandas(
        _hash, "media_id long, phash long"
    )


def phash_dup_pairs(hashed: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate image pairs by perceptual hash: pigeonhole
    blocking on 4 x 16-bit blocks (lossless for hamming <= 3: a pair
    differing in at most 3 bits leaves at least one block intact), then
    a codegen hamming verify BEFORE the distinct-pair shuffle — the
    same discipline as dedup.simhash_pairs, over image hashes instead
    of text fingerprints.

    ``max_hamming`` must stay < _PHASH_BLOCKS or the blocking loses
    pairs — enforced loudly.
    """
    from ..functions.hashing import hamming
    from .dedup import _bucket_pairs

    if not 0 <= max_hamming < _PHASH_BLOCKS:
        raise ValueError(
            f"max_hamming must be in [0, {_PHASH_BLOCKS - 1}] for lossless "
            f"{_PHASH_BLOCKS}-block pigeonhole blocking, got {max_hamming}"
        )
    width = PHASH_BITS // _PHASH_BLOCKS
    blocked = hashed.select(
        F.col("media_id"),
        F.col("phash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block_idx"),
                        F.shiftrightunsigned(F.col("phash"), b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("block_key"),
                    )
                    for b in range(_PHASH_BLOCKS)
                ]
            )
        ).alias("blk"),
    ).select(
        "media_id",
        "phash",
        F.col("blk.block_idx").alias("block_idx"),
        F.col("blk.block_key").alias("block_key"),
    )
    pairs = _bucket_pairs(
        blocked,
        keys=["block_idx", "block_key"],
        id_col="media_id",
        payload_cols=("phash",),
        pair_pred=lambda a, b: hamming(a["phash"], b["phash"]) <= max_hamming,
    )
    return pairs.select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        hamming(F.col("a.phash"), F.col("b.phash")).cast("int").alias("hamming"),
    )


# ---------------------------------------------------------------------------
# Audio: a REAL codec path with no external dependency
# ---------------------------------------------------------------------------
#
# Unlike images (Pillow) and video (ffmpeg), WAV/PCM has a decoder in
# the standard library — so the audio modality's decode seam EXECUTES
# for real everywhere, the same closure the stdlib-synthesized PNG
# fixture gave the image path. The synthesizer writes honest
# RIFF/PCM bytes through `wave`; the decoder reads them back through
# `wave` + numpy. A production pipeline swaps synth for object-storage
# reads and this decoder for torchaudio/ffmpeg — the Spark-side
# plumbing (binary column in, Arrow-batched mapInPandas, scalar
# metrics out) is exactly what ships here.

_WAV_RATE = 8000
_WAV_AMP = 12000


def synth_wav(
    n_samples: int, freq_hz: float, amp: int = _WAV_AMP
) -> bytes:
    """Real RIFF/PCM WAV bytes (mono, 16-bit, 8 kHz): a sine at
    ``freq_hz`` — fully determined by its parameters (callers derive
    them from row ids), honest in format: any WAV reader decodes it."""
    import io
    import math
    import struct
    import wave as wavmod

    buf = io.BytesIO()
    with wavmod.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(_WAV_RATE)
        w.writeframes(
            b"".join(
                struct.pack(
                    "<h",
                    int(round(amp * math.sin(2.0 * math.pi * freq_hz * i / _WAV_RATE))),
                )
                for i in range(n_samples)
            )
        )
    return buf.getvalue()


def decode_wav(payload: bytes) -> tuple[int, float, float]:
    """REAL audio decode (stdlib ``wave``): (n_samples, rms, peak) of a
    mono 16-bit PCM payload. This is the executable counterpart of the
    import-gated image decoder — no codec library needed."""
    import io
    import wave as wavmod

    import numpy as np

    with wavmod.open(io.BytesIO(payload), "rb") as w:
        n = w.getnframes()
        pcm = np.frombuffer(w.readframes(n), dtype="<i2").astype(np.float64)
    if n == 0:
        return 0, 0.0, 0.0
    return n, float(np.sqrt(np.mean(pcm * pcm))), float(np.max(np.abs(pcm)))


def attach_wav_payload(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic per-row WAV payloads: n_samples = 800 + (id%50)*16
    (SQL-replayable exactly), frequency 200 + (id%20)*20 Hz. Arrow-
    batched mapInPandas — the bytes are born executor-side, never on
    the driver."""
    import pandas as pd

    schema = f"{id_col} long, wav_payload binary"

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "wav_payload": [
                        synth_wav(
                            800 + (int(i) % 50) * 16,
                            200.0 + (int(i) % 20) * 20.0,
                        )
                        for i in ids
                    ],
                }
            )

    return df.select(id_col).mapInPandas(_synth, schema=schema)


def audio_metrics(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "wav_payload"
) -> DataFrame:
    """Per-payload audio scalars through the REAL decoder: one Arrow
    batch in, (id, wav_samples, wav_rms, wav_peak) out — payload bytes
    never outlive the stage (the multimodal scale rule: features
    shuffle, media bytes don't)."""
    import pandas as pd

    schema = f"{id_col} long, wav_samples long, wav_rms double, wav_peak double"

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            out = {id_col: [], "wav_samples": [], "wav_rms": [], "wav_peak": []}
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                n, rms, peak = decode_wav(bytes(payload))
                out[id_col].append(int(i))
                out["wav_samples"].append(n)
                out["wav_rms"].append(rms)
                out["wav_peak"].append(peak)
            yield pd.DataFrame(out)

    return df.select(id_col, payload_col).mapInPandas(_decode, schema=schema)
