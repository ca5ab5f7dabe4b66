"""RIFF chunk framing — the one owner of the container that WAV
(sources/adpcm.py, sources/g711.py), AVI (sources/avi.py) and WebP
(sources/webp.py) share.  A chunk is a fourcc, a little-endian u32
body length, the body, and one pad byte after an odd-length body
(Microsoft RIFF specification).

``walk`` is lenient the way readers of cut files need: it yields each
chunk's declared length and leaves the slicing to the caller, so a
truncated AVI still yields the frames that come before the cut.
"""

from __future__ import annotations

import struct
from typing import Iterator


def chunk(fourcc: bytes, body: bytes) -> bytes:
    """One chunk, with its pad byte."""
    return fourcc + struct.pack("<I", len(body)) + body + b"\x00" * (len(body) % 2)


def riff(form: bytes, body: bytes) -> bytes:
    """A whole file of type ``form`` (``WAVE``, ``AVI ``, ``WEBP``)
    around a run of chunks."""
    return chunk(b"RIFF", form + body)


def walk(data: bytes, pos: int, end: int) -> Iterator[tuple[bytes, int, int]]:
    """(fourcc, body start, declared body length) of each chunk in
    ``data[pos:end]``; a header cut by ``end`` or by the end of
    ``data`` ends the walk."""
    end = min(end, len(data))
    while pos + 8 <= end:
        fourcc, length = struct.unpack_from("<4sI", data, pos)
        yield fourcc, pos + 8, length
        pos += 8 + length + length % 2


def write_wav(fmt: bytes, frames: int, data: bytes) -> bytes:
    """WAV file of ``fmt ``, ``fact`` (the frame count, required for
    compressed format tags) and ``data`` chunks."""
    return riff(
        b"WAVE",
        chunk(b"fmt ", fmt) + chunk(b"fact", struct.pack("<I", frames))
        + chunk(b"data", data),
    )


def read_wav(data: bytes) -> tuple[tuple[int, ...], bytes, int | None, bytes]:
    """WAV bytes → ((format tag, channels, rate, byte rate, block
    align, bits per sample), the ``fmt `` bytes after those 16, the
    ``fact`` frame count or None, the ``data`` body).  A malformed
    file raises ``ValueError``."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    fmt = frames = raw = None
    for fourcc, start, length in walk(data, 12, len(data)):
        body = data[start:start + length]
        if fourcc == b"fmt ":
            if len(body) < 16:
                raise ValueError(f"fmt chunk too short: {len(body)} < 16 bytes")
            fmt = body
        elif fourcc == b"fact":
            if len(body) < 4:
                raise ValueError(f"fact chunk too short: {len(body)} < 4 bytes")
            (frames,) = struct.unpack_from("<I", body)
        elif fourcc == b"data":
            raw = body
    if fmt is None or raw is None:
        raise ValueError("missing fmt/data chunk")
    return struct.unpack_from("<HHIIHH", fmt), fmt[16:], frames, raw
