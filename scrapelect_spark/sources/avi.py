"""Minimal AVI (RIFF) container codec for MJPEG video — pure Python.

Retires the video-frame-sampling stub: MJPEG-in-AVI is the simplest
real video format (each frame is an independent baseline JPEG, decoded
by sources/jpeg.py), and the RIFF container layout is fully public
(Microsoft AVI spec / OpenDML).  Writer emits a single 'vids'/'MJPG'
stream (avih + strh/strf headers, 'movi' chunk list, idx1 index);
reader walks the RIFF tree and yields the '00dc'/'00db' frame chunks.
Chunk framing and the lenient chunk walk are sources/riff.py's, so a
file cut mid-stream still yields the frames before the cut.

``mux_avi`` is codec-agnostic (sources/msvc.py reuses it for
interframe MS Video 1 / CRAM streams).  Motion-compensated codecs
(H.264 etc.) stay out of scope — they need a real codec library; the
contract documented on ``operators/multimodal.frame_sample`` is
unchanged for them.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np

from .jpeg import decode_jpeg, encode_jpeg
from .riff import chunk, riff, walk


def mux_avi(
    chunks: list[bytes],
    w: int,
    h: int,
    fps: int = 10,
    fourcc: bytes = b"MJPG",
    bitcount: int = 24,
    keyframes: list[bool] | None = None,
) -> bytes:
    """Compressed frame chunks → single-video-stream AVI bytes
    (avih + strh/strf headers, 'movi' list, idx1 index).  ``keyframes``
    marks which idx1 entries get AVIIF_KEYFRAME (all, when omitted —
    correct for intraframe codecs like MJPEG)."""
    if not chunks:
        raise ValueError("no frames")
    if keyframes is None:
        keyframes = [True] * len(chunks)
    jpegs = chunks
    n = len(jpegs)
    max_bytes = max(len(j) for j in jpegs)

    avih = chunk(
        b"avih",
        struct.pack(
            "<14I",
            1_000_000 // fps,  # dwMicroSecPerFrame
            max_bytes * fps,  # dwMaxBytesPerSec
            0,  # dwPaddingGranularity
            0x10,  # dwFlags: AVIF_HASINDEX
            n,  # dwTotalFrames
            0,  # dwInitialFrames
            1,  # dwStreams
            max_bytes,  # dwSuggestedBufferSize
            w,
            h,
            0, 0, 0, 0,  # dwReserved
        ),
    )
    strh = chunk(
        b"strh",
        b"vids"
        + fourcc
        + struct.pack(
            "<IHHIIIIIIIi4H",
            0,  # dwFlags
            0, 0,  # priority, language
            0,  # initial frames
            1, fps,  # scale, rate → fps
            0, n,  # start, length
            max_bytes,  # bufsize
            0,  # quality
            0,  # samplesize
            0, 0, w, h,  # rcFrame
        ),
    )
    strf = chunk(
        b"strf",
        struct.pack(
            "<IiiHH4sIiiII",
            40,  # biSize
            w,
            h,
            1,  # planes
            bitcount,
            fourcc,  # compression
            w * h * (bitcount // 8),  # size image
            0, 0, 0, 0,
        ),
    )
    strl = chunk(b"LIST", b"strl" + strh + strf)
    hdrl = chunk(b"LIST", b"hdrl" + avih + strl)
    movi = chunk(b"LIST", b"movi" + b"".join(chunk(b"00dc", j) for j in jpegs))
    # idx1: one entry per frame — offset relative to 'movi' fourcc
    idx_entries = []
    off = 4
    for j, key in zip(jpegs, keyframes):
        idx_entries.append(
            b"00dc" + struct.pack("<III", 0x10 if key else 0, off, len(j))
        )
        off += 8 + len(j) + (len(j) % 2)
    idx1 = chunk(b"idx1", b"".join(idx_entries))
    return riff(b"AVI ", hdrl + movi + idx1)


def encode_avi_mjpeg(
    frames: list[np.ndarray], fps: int = 10, quality: int = 90
) -> bytes:
    """Encode uint8 frames (all same HxW[x3]) → MJPEG AVI bytes."""
    if not frames:
        raise ValueError("no frames")
    h, w = frames[0].shape[:2]
    if any(f.shape[:2] != (h, w) for f in frames):
        raise ValueError("frames differ in size")
    return mux_avi(
        [encode_jpeg(f, quality=quality) for f in frames], w, h, fps
    )


def _lists(data: bytes, pos: int, end: int, kind: bytes) -> Iterator[tuple[int, int]]:
    """(start, end) of the body of each ``LIST`` of type ``kind`` in
    the chunk run ``data[pos:end]``."""
    for fourcc, start, length in walk(data, pos, end):
        if fourcc == b"LIST" and data[start : start + 4] == kind:
            yield start + 4, start + length


def _top_lists(data: bytes, kind: bytes) -> Iterator[tuple[int, int]]:
    """:func:`_lists` over the top level of an AVI file."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI")
    return _lists(data, 12, len(data), kind)


def avi_video_fourcc(data: bytes) -> bytes:
    """The first video stream's codec fourcc (from strh), uppercased —
    how frame_sample routes MJPG vs CRAM/MSVC payloads."""
    for start, end in _top_lists(data, b"hdrl"):
        for s2, e2 in _lists(data, start, end, b"strl"):
            for f3, s3, _ in walk(data, s2, e2):
                if f3 == b"strh" and data[s3 : s3 + 4] == b"vids":
                    return data[s3 + 4 : s3 + 8].upper()
    raise ValueError("no video stream header")


def avi_meta(data: bytes) -> tuple[int, int, int, int]:
    """(width, height, n_frames, fps) from the avih/strh headers."""
    for start, end in _top_lists(data, b"hdrl"):
        for f2, s2, l2 in walk(data, start, end):
            if f2 == b"avih":
                if l2 < 56 or s2 + 56 > len(data):
                    raise ValueError("truncated avih header")
                vals = struct.unpack_from("<14I", data, s2)
                fps = 1_000_000 // vals[0] if vals[0] else 0
                return int(vals[8]), int(vals[9]), int(vals[4]), int(fps)
    raise ValueError("no avih header")


def avi_frame_chunks(data: bytes) -> Iterator[bytes]:
    """Yield each video frame's compressed bytes ('00dc'/'00db'),
    including frames grouped inside interleave LIST 'rec ' chunks
    (the layout muxers emit when interleaving audio+video)."""

    def frames(pos: int, end: int) -> Iterator[bytes]:
        for f2, s2, l2 in walk(data, pos, end):
            if f2 == b"LIST" and data[s2 : s2 + 4] == b"rec ":
                yield from frames(s2 + 4, s2 + l2)
            elif f2[2:4] in (b"dc", b"db"):
                yield data[s2 : s2 + l2]

    for start, end in _top_lists(data, b"movi"):
        yield from frames(start, end)


def decode_avi_mjpeg_frames(
    data: bytes, every_n: int = 1
) -> Iterator[tuple[int, np.ndarray]]:
    """Decode every ``every_n``-th frame → (frame_idx, HxWxC uint8).
    Skipped frames are never JPEG-decoded (chunk walk is free) — the
    point of frame *sampling*."""
    for idx, frame in enumerate(avi_frame_chunks(data)):
        if idx % every_n == 0:
            yield idx, decode_jpeg(frame)
