# -*- coding: utf-8 -*-
"""Multimodal plumbing tests (schema/batch-shape/determinism/error capture)
and media codec round trips."""

import pytest
from pyspark.sql import functions as F

from dss_plugin_google_cloud_vision_spark.operators.multimodal import (
    FEATURE_BINS,
    extract_media_features,
    synthetic_media_df,
)


def test_media_features_schema_and_determinism(spark):
    media = synthetic_media_df(spark, 24)
    out = extract_media_features(media)
    assert out.schema["features"].dataType.simpleString() == "array<double>"
    rows1 = {r["media_id"]: r["features"] for r in out.collect()}
    rows2 = {r["media_id"]: r["features"] for r in extract_media_features(media.repartition(5)).collect()}
    assert rows1 == rows2
    for media_id, features in rows1.items():
        if media_id == 14:  # the planted undecodable video row
            assert features is None
            continue
        assert len(features) == FEATURE_BINS
        assert abs(sum(features) - 1.0) < 1e-9  # normalized histogram


def test_media_features_error_capture(spark):
    from dss_plugin_google_cloud_vision_spark.functions.imaging import encode_png
    from dss_plugin_google_cloud_vision_spark.operators.multimodal import synthetic_image_pixels

    good_png = bytes(encode_png(synthetic_image_pixels(1)))
    media = spark.createDataFrame(
        [
            (1, "image", b"", None),  # empty payload -> error
            (2, "image", b"\x01\x02\x03", None),  # garbage: real decoder rejects it
            (3, "image", good_png, None),  # valid PNG -> real decode
            (4, "video", b"\x01\x02\x03", None),  # garbage video: real decoder rejects
            (5, "audio", b"\x01\x02\x03", None),  # garbage audio: real decoder rejects
            (6, "sensor", b"\x01\x02\x03", None),  # unknown kind: byte-stat fallback
        ],
        "media_id bigint, kind string, payload binary, meta struct<mime:string,width:int,height:int,duration_ms:int>",
    )
    rows = {r["media_id"]: r for r in extract_media_features(media).collect()}
    assert rows[1]["features"] is None and rows[1]["feature_error"] != ""
    assert rows[2]["features"] is None and "unsupported image codec" in rows[2]["feature_error"]
    assert rows[3]["features"] is not None and rows[3]["feature_error"] == ""
    assert rows[4]["features"] is None and "not an AVI payload" in rows[4]["feature_error"]
    assert rows[5]["features"] is None and "not a WAV payload" in rows[5]["feature_error"]
    assert rows[6]["features"] is not None and rows[6]["feature_error"] == ""


def test_media_strict_mode_fails_fast_on_undecodable(spark):
    """strict=True is the fail-fast analogue: fully decodable media runs
    clean, an undecodable payload aborts the task instead of landing in
    the error column."""
    clean = synthetic_media_df(spark, 12)  # first junk video row is id 14
    out = extract_media_features(clean, strict=True).collect()
    assert len(out) == 12 and all(r["feature_error"] == "" for r in out)
    junk = synthetic_media_df(spark, 24).filter(F.col("media_id") == 14)
    with pytest.raises(Exception) as excinfo:
        extract_media_features(junk, strict=True).collect()
    assert "not an AVI payload" in str(excinfo.value)


def test_png_ppm_codec_roundtrip_and_filters():
    """Codec unit contract: encode->decode is the identity; the decoder
    reconstructs all five PNG scanline filter types per spec (a reference
    image is re-filtered by hand and must decode back to itself)."""
    import struct
    import zlib

    import numpy as np

    from dss_plugin_google_cloud_vision_spark.functions.imaging import (
        ImageDecodeError,
        decode_image,
        decode_png,
        decode_ppm,
        encode_png,
        encode_ppm,
    )
    from dss_plugin_google_cloud_vision_spark.operators.multimodal import (
        synthetic_image_pixels,
    )

    pixels = synthetic_image_pixels(7)
    for codec, enc, dec in (("png", encode_png, decode_png), ("ppm", encode_ppm, decode_ppm)):
        out = dec(enc(pixels))
        assert out.shape == pixels.shape and (out == pixels).all(), codec
    arr, codec = decode_image(encode_png(pixels))
    assert codec == "png" and (arr == pixels).all()
    arr, codec = decode_image(encode_ppm(pixels))
    assert codec == "ppm" and (arr == pixels).all()

    # hand-filter a scanline stream exercising filters 0..4 (spec math),
    # rebuild the PNG, decode, and compare to the raw pixels
    rng = np.random.RandomState(3)
    px = rng.randint(0, 256, size=(5, 6, 3)).astype(np.uint8)
    h, w, ch = px.shape
    stride = w * ch
    flat = px.reshape(h, stride).astype(np.int32)
    lines = bytearray()
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        cur = flat[y]
        prev = flat[y - 1] if y > 0 else np.zeros(stride, dtype=np.int32)
        filt = np.zeros(stride, dtype=np.int32)
        for x in range(stride):
            left = cur[x - ch] if x >= ch else 0
            up = prev[x]
            ul = prev[x - ch] if x >= ch else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = left
            elif ftype == 2:
                pred = up
            elif ftype == 3:
                pred = (left + up) >> 1
            else:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
            filt[x] = (cur[x] - pred) & 0xFF
        lines += bytes([ftype]) + bytes(filt.astype(np.uint8))

    def chunk(ctype, body):
        return struct.pack(">I", len(body)) + ctype + body + struct.pack(
            ">I", zlib.crc32(ctype + body) & 0xFFFFFFFF
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(lines)))
        + chunk(b"IEND", b"")
    )
    assert (decode_png(png) == px).all()

    # corrupted CRC must be rejected
    bad = bytearray(encode_png(pixels))
    bad[-5] ^= 0xFF  # flip a bit in IEND's CRC
    import pytest as _pytest

    with _pytest.raises(ImageDecodeError):
        decode_png(bytes(bad))


def test_media_features_real_decode_analytic(spark):
    """Image features must come from DECODED PIXELS (analytic expectation
    computed from the synthetic pixel function, not from the payload
    bytes), for both PNG and PPM payloads."""
    import numpy as np

    from dss_plugin_google_cloud_vision_spark.operators.multimodal import (
        FEATURE_BINS,
        synthetic_image_pixels,
        synthetic_media_df,
    )

    media = synthetic_media_df(spark, 24).filter(F.col("kind") == "image")
    rows = {r["media_id"]: r for r in extract_media_features(media).collect()}
    assert rows, "no image rows"
    assert 0 in rows and 0 % 9 == 0  # id 0 is the PPM variant
    for media_id, row in rows.items():
        pixels = synthetic_image_pixels(media_id)
        hist, _ = np.histogram(pixels.reshape(-1), bins=FEATURE_BINS, range=(0, 256))
        expected = hist / pixels.size
        assert row["feature_error"] == ""
        got = np.array(row["features"])
        assert got.shape == expected.shape and np.allclose(got, expected, atol=0, rtol=0)


def test_avi_codec_roundtrip_and_analytic_video_features(spark):
    """AVI encode->decode is the identity (incl. DIB bottom-up/BGR/row
    padding); video features must come from DECODED FRAME PIXELS
    (analytic expectation from the synthetic frame function); the chunk
    walk finds one frame offset per encoded frame."""
    import numpy as np

    from dss_plugin_google_cloud_vision_spark.functions.video import (
        VideoDecodeError,
        avi_frame_offsets,
        decode_avi,
        encode_avi,
    )
    from dss_plugin_google_cloud_vision_spark.operators.multimodal import (
        FEATURE_BINS,
        synthetic_video_frames,
        synthetic_media_df,
    )

    frames = synthetic_video_frames(5)
    payload = encode_avi(frames, fps=8)
    back, fps = decode_avi(payload)
    assert fps == 8 and back.shape == frames.shape and (back == frames).all()
    offsets, w, h, f = avi_frame_offsets(payload)
    assert len(offsets) == frames.shape[0] and (w, h) == (frames.shape[2], frames.shape[1])
    import pytest as _pytest

    with _pytest.raises(VideoDecodeError):
        decode_avi(b"\x01\x02\x03")
    with _pytest.raises(VideoDecodeError):
        decode_avi(b"RIFF\x04\x00\x00\x00AVI ")

    videos = synthetic_media_df(spark, 14).filter(F.col("kind") == "video")
    rows = {r["media_id"]: r for r in extract_media_features(videos).collect()}
    assert rows
    for media_id, row in rows.items():
        px = synthetic_video_frames(media_id)
        hist, _ = np.histogram(px.reshape(-1), bins=FEATURE_BINS, range=(0, 256))
        expected = hist / px.size
        assert row["feature_error"] == ""
        assert np.allclose(np.array(row["features"]), expected, atol=0, rtol=0)


def test_wav_codec_roundtrip_and_analytic_features(spark):
    """WAV encode->decode is the identity; audio features must come from
    DECODED SAMPLES (analytic expectation from the synthetic waveform)."""
    import numpy as np

    from dss_plugin_google_cloud_vision_spark.functions.audio import (
        AudioDecodeError,
        decode_wav,
        encode_wav,
    )
    from dss_plugin_google_cloud_vision_spark.operators.multimodal import (
        FEATURE_BINS,
        synthetic_audio_samples,
        synthetic_media_df,
    )

    samples = synthetic_audio_samples(4)
    decoded, rate = decode_wav(encode_wav(samples, rate=16000))
    assert rate == 16000 and (decoded[:, 0] == samples).all()
    stereo = np.stack([samples, -samples - 1], axis=1)
    decoded2, _ = decode_wav(encode_wav(stereo))
    assert (decoded2 == stereo).all()
    import pytest as _pytest

    with _pytest.raises(AudioDecodeError):
        decode_wav(b"\x01\x02\x03")

    audio = synthetic_media_df(spark, 24).filter(F.col("kind") == "audio")
    rows = {r["media_id"]: r for r in extract_media_features(audio).collect()}
    assert rows
    for media_id, row in rows.items():
        s = synthetic_audio_samples(media_id).astype(np.int32)
        as_bytes = ((s + 32768) >> 8).astype(np.uint8)
        hist, _ = np.histogram(as_bytes, bins=FEATURE_BINS, range=(0, 256))
        expected = hist / as_bytes.size
        assert row["feature_error"] == ""
        assert np.allclose(np.array(row["features"]), expected, atol=0, rtol=0)
