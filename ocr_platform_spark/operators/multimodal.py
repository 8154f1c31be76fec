"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as BinaryType columns with a
struct of metadata; decode / feature-extraction runs in Arrow-batched
``map_rows`` kernels. ``decode_image`` is REAL for PNG, baseline+progressive
JPEG and GIF (pure stdlib+numpy codecs: functions/png.py, functions/
jpeg.py, functions/gif.py); ``media_audio`` decodes RIFF/WAVE PCM for
real (functions/wav.py); ``media_video`` walks MJPEG-in-AVI containers
and samples frames through the JPEG codec (functions/avi.py) — every
modality decodes for real within its declared codec subset; everything
Spark-side — schema, batching, partitioning, UDF signatures — is real
and tested for every format.

The reference's analogue is the page-rasterization path
(apps/queue/src/lib/ocr.ts:56-71: PDF page → PNG buffer → base64) and the
R2 image sink (apps/queue/src/lib/r2.ts:13-27).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from ocr_platform_spark.functions.spark_udfs import map_rows

MEDIA_FEATURE_DIM = 8

MEDIA_META_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("n_bytes", LongType(), False),
    StructField("format", StringType(), True),       # magic-byte sniff
    StructField("sha256", StringType(), False),
    StructField("feature", ArrayType(DoubleType()), True),
    StructField("decode_error", StringType(), True),
])

_MAGIC = [
    (b"\x89PNG\r\n\x1a\n", "png"),
    (b"\xff\xd8\xff", "jpeg"),
    (b"GIF8", "gif"),
    (b"%PDF", "pdf"),
    (b"RIFF", "riff"),
    (b"<!DOCTYPE", "html"),
    (b"<html", "html"),
]


def sniff_format(payload: bytes) -> str | None:
    head = payload[:16]
    for magic, name in _MAGIC:
        if head.startswith(magic):
            return name
    return None


def decode_image(payload: bytes) -> tuple[int, int, int, bytes]:
    """Real decode for PNG (functions/png.py), JPEG — baseline AND
    progressive SOF2 — (functions/jpeg.py) and GIF (functions/gif.py)
    payloads — pure
    stdlib+numpy codecs → (width, height, channels, raw pixels).
    Audio/video remain declared stubs: their codecs are not installed in
    this container; on a cluster with codec libraries, extend the
    dispatch here."""
    fmt = sniff_format(payload)
    if fmt == "png":
        from ocr_platform_spark.functions.png import decode_png

        return decode_png(payload)
    if fmt == "jpeg":
        from ocr_platform_spark.functions.jpeg import decode_jpeg

        return decode_jpeg(payload)
    if fmt == "gif":
        from ocr_platform_spark.functions.gif import decode_gif

        return decode_gif(payload)
    raise NotImplementedError(
        f"no codec for format {fmt!r} in this environment "
        "(only the pure-stdlib PNG, JPEG and GIF decoders are "
        "available)")


def fake_features(payload: bytes, dim: int = MEDIA_FEATURE_DIM) -> list[float]:
    """Deterministic stand-in for a decoder+embedder: dim doubles derived
    from the payload's sha256 — a pure function of bytes, so results are
    identical at any parallelism (same invariant as text extraction)."""
    h = hashlib.sha256(payload).digest()
    return [int.from_bytes(h[8 * i: 8 * i + 4], "big") / 2**32
            for i in range(dim)]


def _media_row(url, payload) -> list[tuple]:
    if payload is None or len(payload) == 0:
        return [(url, 0, None, hashlib.sha256(b"").hexdigest(), None,
                 "empty payload")]
    b = bytes(payload)
    try:
        feat = fake_features(b)
        err = None
    except Exception as e:   # the never-drop error envelope again
        feat, err = None, str(e)
    return [(url, len(b), sniff_format(b), hashlib.sha256(b).hexdigest(),
             feat, err)]


def media_features(pages: DataFrame) -> DataFrame:
    """pages(url, html:binary, ...) → metadata + feature vectors.
    One Arrow pass; binary payloads never surface on the driver."""
    return map_rows(pages, ["url", "html"], _media_row, MEDIA_META_SCHEMA)


def map_decoded(media: DataFrame, stats: Callable[[bytes], tuple],
                schema: StructType) -> DataFrame:
    """media(url, media:binary) → one ``schema`` row per input row, the
    never-drop decode envelope shared by the decode kernels:
    ``(url, *stats(payload), None)`` on success, or ``(url, None, ...,
    "<ExceptionType>: <message>")`` when ``stats`` raises. A null payload
    decodes as b''."""
    width = len(schema.fields) - 2

    def row(url, payload):
        try:
            return [(url, *stats(bytes(payload or b"")), None)]
        except Exception as e:  # never-drop: decode failures are rows
            return [(url, *[None] * width, f"{type(e).__name__}: {e}")]

    return map_rows(media, ["url", "media"], row, schema)


# --- real decode path (PNG) ------------------------------------------------

MEDIA_DECODE_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("channels", IntegerType(), True),
    # per-channel pixel means as exact integer micro-units: (sum*1e6)//n —
    # pure integer math, bit-stable across engines (no float rendering)
    StructField("mean_x1e6", ArrayType(LongType()), True),
    # real resize: 4x4 nearest-neighbor luminance thumbnail, serialized as
    # a comma string (integers only — hash-stable everywhere)
    StructField("thumb4x4", StringType(), True),
    StructField("decode_error", StringType(), True),
])

THUMB_SIDE = 4


def resize_nearest_luma(w: int, h: int, ch: int, px: bytes,
                        side: int = THUMB_SIDE) -> list[int]:
    """Nearest-neighbor downsample to side x side luminance values
    (integer mean across channels of the sampled pixel) — the S4 'resize'
    step, real and deterministic."""
    out = []
    for gy in range(side):
        sy = gy * h // side
        for gx in range(side):
            sx = gx * w // side
            base = (sy * w + sx) * ch
            out.append(sum(px[base:base + ch]) // ch)
    return out


def image_stats(payload: bytes) -> tuple:
    """(width, height, channels, [per-channel mean_x1e6], thumb4x4) via
    the real decoder. Pure function of bytes — the fixture-oracle side
    calls exactly this."""
    import numpy as np

    w, h, ch, px = decode_image(payload)
    n = w * h
    # integer channel sums, vectorized (identical values to a Python loop
    # — uint8 → int64 accumulation is exact)
    sums = np.frombuffer(px, dtype=np.uint8).reshape(-1, ch).sum(
        axis=0, dtype=np.int64)
    thumb = ",".join(str(v) for v in resize_nearest_luma(w, h, ch, px))
    return w, h, ch, [int(s) * 10 ** 6 // n for s in sums], thumb


def media_decode(media: DataFrame) -> DataFrame:
    """media(url, media:binary) → decoded dimensions + channel stats.
    Arrow-batched; failed decodes carry decode_error instead of dropping
    (the same never-drop envelope as extraction)."""
    return map_decoded(media, image_stats, MEDIA_DECODE_SCHEMA)


# --- real decode path (audio: RIFF/WAVE PCM) -------------------------------

MEDIA_AUDIO_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("sample_rate", IntegerType(), True),
    StructField("channels", IntegerType(), True),
    StructField("n_frames", IntegerType(), True),
    StructField("duration_ms", LongType(), True),
    # integer micro-units again: (sum(|s|)*1e6)//n and max|s| — exact
    StructField("mean_abs_x1e6", LongType(), True),
    StructField("peak_abs", IntegerType(), True),
    StructField("decode_error", StringType(), True),
])


def audio_stats(payload: bytes) -> tuple:
    """(rate, channels, n_frames, duration_ms, mean_abs_x1e6, peak) via
    the pure-stdlib WAV decoder. Pure function of bytes — the
    fixture-oracle side calls exactly this. Raises WavError on anything
    that is not integer-PCM WAV (images land here too: the audio kernel
    and the image kernel reject each other's formats symmetrically)."""
    from ocr_platform_spark.functions.wav import decode_wav

    rate, ch, n_frames, samples = decode_wav(payload)
    n = len(samples)
    total = sum(abs(s) for s in samples)
    return (rate, ch, n_frames, n_frames * 1000 // rate,
            total * 10 ** 6 // max(n, 1),
            max((abs(s) for s in samples), default=0))


def media_audio(media: DataFrame) -> DataFrame:
    """media(url, media:binary) → PCM geometry + amplitude stats; non-WAV
    payloads (the table's images) carry decode_error instead of dropping."""
    return map_decoded(media, audio_stats, MEDIA_AUDIO_SCHEMA)


# --- real decode path (video: MJPEG-in-AVI frame sampling) ------------------

MEDIA_VIDEO_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("n_frames", IntegerType(), True),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("channels", IntegerType(), True),
    # middle frame's overall pixel mean, integer micro-units (exact)
    StructField("mid_mean_x1e6", LongType(), True),
    StructField("decode_error", StringType(), True),
])


def video_stats(payload: bytes) -> tuple:
    """(n_frames, w, h, ch, mid_mean_x1e6) — frame COUNT from the
    container walk, pixel stats from SAMPLING only the middle frame (the
    100 TB contract: never decode every frame of every clip). Pure
    function of bytes; the fixture-oracle side calls exactly this."""
    from ocr_platform_spark.functions.avi import decode_avi_frames
    from ocr_platform_spark.functions.jpeg import decode_jpeg

    frames = decode_avi_frames(payload)
    w, h, ch, px = decode_jpeg(frames[len(frames) // 2])
    return (len(frames), w, h, ch,
            sum(px) * 10 ** 6 // max(len(px), 1))


def media_video(media: DataFrame) -> DataFrame:
    """media(url, media:binary) → frame count + sampled-frame stats;
    non-AVI payloads carry decode_error instead of dropping."""
    return map_decoded(media, video_stats, MEDIA_VIDEO_SCHEMA)
