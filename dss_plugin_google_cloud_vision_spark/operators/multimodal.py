# -*- coding: utf-8 -*-
"""Multimodal (image/audio/video) column plumbing for training-data
pipelines.

Media payloads are opaque ``binary`` columns with a typed metadata struct —
the in-table equivalent of the reference's folder-of-blobs model
(reference: python-lib/document_utils.py blob streams; SURVEY.md §1.1
"Files as blobs"). The Spark-side plumbing here is real and tested: Arrow
batch iteration (``mapInPandas``), schema contracts, per-batch vectorized
NumPy feature extraction, error-column capture for undecodable payloads.
``extract_media_features`` is the one media operator.

Codec status — ALL THREE modalities now decode for real:

- **Images**: PNG and binary PPM via ``functions.imaging`` (stdlib zlib
  + numpy — full chunk/CRC walk and scanline unfiltering; the role PIL
  plays in the reference's document_utils.py:98-129). Features come from
  actual pixel values.
- **Audio**: 16-bit PCM WAV via ``functions.audio`` (stdlib ``wave``).
  Features come from actual sample values.
- **Video**: uncompressed RGB24 AVI via ``functions.video`` (RIFF walk,
  DIB row unpadding/reorder, ``00db`` chunk walk). Features come from
  actual frame pixels.

Payloads none of these codecs accept (e.g. a compressed mp4) land in the
error column — or raise under ``strict=True`` (fail-fast). A production
deployment swaps the codec modules for PIL/libsndfile/ffmpeg behind the
same function signatures.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

MEDIA_DDL = (
    "media_id bigint, kind string, payload binary, "
    "meta struct<mime: string, width: int, height: int, duration_ms: int>"
)

FEATURE_BINS = 16

def synthetic_audio_samples(i: int, seed: int = 42, n_frames: int = 2048) -> np.ndarray:
    """Deterministic int16 mono waveform, a pure function of (seed, id):
    a quantized integer chirp-ish pattern (no float trig — bit-exact on
    any platform)."""
    t = np.arange(n_frames, dtype=np.int64)
    wave_ = ((t * (31 + (i % 13)) + seed) % 65536) - 32768
    return (wave_ // 2).astype(np.int16)


def synthetic_image_pixels(i: int, seed: int = 42) -> np.ndarray:
    """Deterministic small RGB image, a pure function of (seed, id)."""
    height, width = 16 + (i % 6) * 4, 24 + (i % 8) * 4
    y, x, c = np.ogrid[0:height, 0:width, 0:3]
    return ((seed + i * 31 + y * 7 + x * 3 + c * 11) % 256).astype(np.uint8)


def synthetic_video_frames(i: int, seed: int = 42) -> np.ndarray:
    """Deterministic small RGB frame stack, a pure function of (seed, id):
    a base image with a per-frame brightness sweep."""
    n_frames = 4 + (i % 4)
    base = synthetic_image_pixels(i, seed).astype(np.int64)
    f = np.arange(n_frames, dtype=np.int64)[:, None, None, None]
    return ((base[None] + f * 17) % 256).astype(np.uint8)


def synthetic_media_df(spark, n_rows: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic media table: image payloads are REAL encoded PNGs
    (every third one a binary PPM) of ``synthetic_image_pixels``; audio
    payloads are REAL 16-bit PCM WAVs of ``synthetic_audio_samples``;
    video payloads are REAL uncompressed RGB24 AVIs of
    ``synthetic_video_frames`` — except every fifth video row, which
    stays an opaque mp4-labelled byte blob to exercise the undecodable
    error path; all pure functions of (seed, id)."""
    from ..functions.audio import encode_wav
    from ..functions.imaging import encode_png, encode_ppm
    from ..functions.video import encode_avi

    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n_rows):
        kind = kinds[i % 3]
        if kind == "image":
            pixels = synthetic_image_pixels(i, seed)
            payload = encode_ppm(pixels) if i % 9 == 0 else encode_png(pixels)
            mime = "image/x-portable-pixmap" if i % 9 == 0 else "image/png"
            meta = {"mime": mime, "width": pixels.shape[1], "height": pixels.shape[0],
                    "duration_ms": None}
        elif kind == "audio":
            samples = synthetic_audio_samples(i, seed)
            payload = encode_wav(samples, rate=16000)
            meta = {
                "mime": "audio/wav",
                "width": None,
                "height": None,
                "duration_ms": int(len(samples) * 1000 / 16000),
            }
        elif i % 15 == 14:
            # undecodable video: deterministic pseudo-random byte blob
            size = 256 + ((i * 2654435761 + seed) % 3841)
            payload = bytes((j * 31 + i * 7 + seed) % 256 for j in range(size))
            meta = {
                "mime": "video/mp4",
                "width": 64 + (i % 8) * 16,
                "height": 48 + (i % 6) * 16,
                "duration_ms": 1000 + i * 250,
            }
        else:
            frames = synthetic_video_frames(i, seed)
            fps = 8
            payload = encode_avi(frames, fps=fps)
            meta = {
                "mime": "video/x-msvideo",
                "width": frames.shape[2],
                "height": frames.shape[1],
                "duration_ms": int(frames.shape[0] * 1000 / fps),
            }
        rows.append((i, kind, payload, meta))
    return spark.createDataFrame(rows, MEDIA_DDL)


def _fake_decode(payload: bytes, n_bins: int = FEATURE_BINS) -> np.ndarray:
    """Deterministic fake 'decode': normalized byte-value histogram.
    Stands in for pixel/sample data; pure function of the payload."""
    if payload is None or len(payload) == 0:
        raise ValueError("empty media payload")
    arr = np.frombuffer(bytes(payload), dtype=np.uint8)
    hist, _ = np.histogram(arr, bins=n_bins, range=(0, 256))
    return (hist / len(arr)).astype(np.float64)


def _pixel_histogram(pixels: np.ndarray, n_bins: int) -> np.ndarray:
    hist, _ = np.histogram(pixels.reshape(-1), bins=n_bins, range=(0, 256))
    return (hist / pixels.size).astype(np.float64)


def extract_media_features(
    df: DataFrame,
    payload_column: str = "payload",
    kind_column: str = "kind",
    n_bins: int = FEATURE_BINS,
    strict: bool = False,
) -> DataFrame:
    """payload → fixed-width feature vector (``array<double>``) + error
    columns, via ``mapInPandas`` (Arrow-batched, NumPy inside).

    All three modalities decode for REAL: images (PNG/PPM,
    ``functions.imaging``) featurize actual pixel values; audio (PCM WAV,
    ``functions.audio``) maps 16-bit samples onto the same byte-valued
    histogram bins; video (RGB24 AVI, ``functions.video``) featurizes
    pixels pooled across all frames. Undecodable payloads land in
    ``feature_error`` — or, under ``strict=True``, abort the task
    (fail-fast, the ErrorHandling.FAIL analogue).
    """
    from ..functions.audio import AudioDecodeError, decode_wav
    from ..functions.imaging import ImageDecodeError, decode_image
    from ..functions.video import VideoDecodeError, decode_avi

    out_fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    schema = f"{out_fields}, features array<double>, feature_error string"

    def process(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            features = []
            errors = []
            for payload, kind in zip(pdf[payload_column], pdf[kind_column]):
                try:
                    if kind == "image":
                        pixels, _codec = decode_image(bytes(payload or b""))
                        features.append(_pixel_histogram(pixels, n_bins).tolist())
                    elif kind == "audio":
                        samples, _rate = decode_wav(bytes(payload or b""))
                        # int16 → the byte-valued bin domain shared with
                        # images: (s + 32768) >> 8 is exactly 0..255
                        as_bytes = ((samples.astype(np.int32) + 32768) >> 8).astype(np.uint8)
                        features.append(_pixel_histogram(as_bytes, n_bins).tolist())
                    elif kind == "video":
                        frames, _fps = decode_avi(bytes(payload or b""))
                        features.append(_pixel_histogram(frames, n_bins).tolist())
                    else:
                        features.append(_fake_decode(payload, n_bins).tolist())
                    errors.append("")
                except (ValueError, ImageDecodeError, AudioDecodeError, VideoDecodeError) as error:
                    if strict:
                        raise
                    features.append(None)
                    errors.append(str(error))
            pdf = pdf.copy()
            pdf["features"] = features
            pdf["feature_error"] = errors
            yield pdf

    return df.mapInPandas(process, schema)

