# -*- coding: utf-8 -*-
"""Minimal deterministic video codec (uncompressed RGB24 AVI), stdlib
``struct`` + numpy.

Companion to ``functions.imaging`` / ``functions.audio``: gives the
multimodal seam a REAL decode path for video payloads without ffmpeg.
Implements the classic Microsoft AVI RIFF container from its public
specification (the 'vids'/'DIB ' uncompressed form):

- ``RIFF('AVI ')`` → ``LIST('hdrl')`` with ``avih`` (MainAVIHeader) and a
  ``LIST('strl')`` holding ``strh`` (AVIStreamHeader, fccType 'vids') +
  ``strf`` (BITMAPINFOHEADER, BI_RGB 24-bit);
- ``LIST('movi')`` with one ``00db`` chunk per frame — bottom-up rows,
  BGR pixel order, rows padded to 4 bytes (DIB rules);
- ``idx1`` index (offsets relative to the start of the ``movi`` list
  data, per the spec) — written on encode; the decoder walks the ``movi``
  chunks instead.

A production deployment swaps this for ffmpeg/PyAV behind the same
functions. Everything here is a pure function of the input bytes.
"""

from __future__ import annotations

import struct
from typing import List, Tuple

import numpy as np


class VideoDecodeError(ValueError):
    """Malformed or unsupported video payload."""


def _pad_row(width: int) -> int:
    return (width * 3 + 3) & ~3


def encode_avi(frames: np.ndarray, fps: int = 10) -> bytes:
    """uint8 frames of shape (n, height, width, 3) RGB → AVI bytes."""
    arr = np.asarray(frames, dtype=np.uint8)
    if arr.ndim != 4 or arr.shape[3] != 3 or arr.shape[0] == 0:
        raise ValueError(f"expected (n, h, w, 3) RGB frames, got {arr.shape}")
    if not 1 <= fps <= 1_000_000:
        raise ValueError(f"fps must be in [1, 1e6], got {fps}")
    n, height, width, _ = arr.shape
    row_bytes = _pad_row(width)
    frame_bytes = row_bytes * height

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        return fourcc + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) % 2 else b"")

    def lst(fourcc: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", fourcc + body)

    avih = struct.pack(
        "<14I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        frame_bytes * fps,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0x10,  # dwFlags: AVIF_HASINDEX
        n,  # dwTotalFrames
        0,  # dwInitialFrames
        1,  # dwStreams
        frame_bytes,  # dwSuggestedBufferSize
        width,
        height,
        0, 0, 0, 0,  # dwReserved
    )
    strh = (
        b"vids"
        + b"DIB "
        + struct.pack(
            "<IHHIIIIIIII4H",
            0,  # dwFlags
            0, 0,  # wPriority, wLanguage
            0,  # dwInitialFrames
            1, fps,  # dwScale / dwRate → fps
            0,  # dwStart
            n,  # dwLength (frames)
            frame_bytes,  # dwSuggestedBufferSize
            0xFFFFFFFF,  # dwQuality (default)
            0,  # dwSampleSize (0: one sample = one frame)
            0, 0, width, height,  # rcFrame
        )
    )
    strf = struct.pack(
        "<IiiHHIIiiII",
        40,  # biSize
        width,
        height,  # positive: bottom-up DIB
        1,  # biPlanes
        24,  # biBitCount
        0,  # biCompression = BI_RGB
        frame_bytes,
        0, 0, 0, 0,
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))

    # frame → bottom-up BGR rows padded to 4 bytes
    padded = np.zeros((n, height, row_bytes), dtype=np.uint8)
    padded[:, :, : width * 3] = arr[:, ::-1, :, ::-1].reshape(n, height, width * 3)
    movi_body = b""
    index_entries: List[Tuple[int, int]] = []
    for f in range(n):
        # idx1 offsets are relative to the start of the movi list data
        # (the 'movi' fourcc itself), per the AVI spec
        index_entries.append((4 + len(movi_body), frame_bytes))
        movi_body += chunk(b"00db", padded[f].tobytes())
    movi = lst(b"movi", movi_body)
    idx1 = chunk(
        b"idx1",
        b"".join(
            b"00db" + struct.pack("<III", 0x10, off, size)  # AVIIF_KEYFRAME
            for off, size in index_entries
        ),
    )
    riff_body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def _walk_chunks(data: bytes, start: int, end: int):
    """Yield (fourcc, body_start, body_size) for each chunk in [start, end)."""
    pos = start
    while pos + 8 <= end:
        fourcc = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = pos + 8
        if body + size > end:
            raise VideoDecodeError(f"chunk {fourcc!r} overruns its parent")
        yield fourcc, body, size
        pos = body + size + (size % 2)  # chunks are word-aligned


def _parse_headers(data: bytes) -> Tuple[int, int, int, int, int]:
    """→ (width, height, fps, total_frames, movi_body_start/end packed via
    the return of offsets)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise VideoDecodeError("not an AVI payload (bad RIFF header)")
    (riff_size,) = struct.unpack("<I", data[4:8])
    end = min(8 + riff_size, len(data))
    width = height = fps = None
    total = 0
    movi_span = None
    for fourcc, body, size in _walk_chunks(data, 12, end):
        if fourcc != b"LIST":
            continue
        list_type = data[body : body + 4]
        if list_type == b"hdrl":
            for sub, sbody, ssize in _walk_chunks(data, body + 4, body + size):
                if sub == b"avih" and ssize >= 56:
                    fields = struct.unpack("<14I", data[sbody : sbody + 56])
                    fps = 1_000_000 // fields[0] if fields[0] else 0
                    total = fields[4]
                elif sub == b"LIST" and data[sbody : sbody + 4] == b"strl":
                    for s2, s2body, s2size in _walk_chunks(data, sbody + 4, sbody + ssize):
                        if s2 == b"strf" and s2size >= 40:
                            (
                                _bisize,
                                width,
                                height,
                                _planes,
                                bitcount,
                                compression,
                            ) = struct.unpack("<IiiHHI", data[s2body : s2body + 20])
                            if bitcount != 24 or compression != 0:
                                raise VideoDecodeError(
                                    f"unsupported AVI codec (bits={bitcount}, "
                                    f"compression={compression}); only BI_RGB 24 supported"
                                )
        elif list_type == b"movi":
            movi_span = (body + 4, body + size)
    if width is None or height is None or movi_span is None:
        raise VideoDecodeError("AVI missing strf header or movi list")
    return width, height, fps or 0, total, movi_span


def avi_frame_offsets(data: bytes) -> Tuple[List[Tuple[int, int]], int, int, int]:
    """→ ([(absolute_offset, size) per frame chunk body], width, height,
    fps) — an index walk over the ``movi`` list; no pixel decode."""
    width, height, fps, _total, (mstart, mend) = _parse_headers(data)
    offsets = [
        (body, size)
        for fourcc, body, size in _walk_chunks(data, mstart, mend)
        if fourcc[2:] in (b"db", b"dc")
    ]
    if not offsets:
        raise VideoDecodeError("AVI has no frame chunks")
    return offsets, width, height, fps


def decode_avi(data: bytes) -> Tuple[np.ndarray, int]:
    """AVI bytes → (uint8 frames of shape (n, height, width, 3) RGB, fps)."""
    offsets, width, height, fps = avi_frame_offsets(data)
    row_bytes = _pad_row(width)
    frames = np.empty((len(offsets), height, width, 3), dtype=np.uint8)
    for f, (off, size) in enumerate(offsets):
        if size != row_bytes * height:
            raise VideoDecodeError(
                f"frame {f} is {size} bytes, expected {row_bytes * height}"
            )
        dib = np.frombuffer(data, dtype=np.uint8, count=size, offset=off).reshape(
            height, row_bytes
        )
        # undo bottom-up row order and BGR pixel order
        frames[f] = dib[::-1, : width * 3].reshape(height, width, 3)[:, :, ::-1]
    return frames, fps
