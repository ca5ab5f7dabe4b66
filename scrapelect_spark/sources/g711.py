"""Pure-Python ITU-T G.711 μ-law / A-law codec — the telephony
companding formats (WAV wFormatTag 7 / 6, 8 bits per sample, 2:1 vs
PCM16).

Written from the public ITU-T G.711 recommendation (the same segment/
mantissa layout as the classic public-domain Sun ``g711.c``): μ-law is
a biased 14-bit log segment code stored complemented; A-law is a
13-bit segment code XOR 0x55.  Both directions are bit-identical to
CPython's C implementation (``audioop.lin2ulaw/ulaw2lin`` and the alaw
pair) over the full 16-bit range — pinned in tests/test_g711.py while
``audioop`` still exists (removed in Python 3.13).

Everything is table-driven: the 64Ki-entry encode LUTs are built
vectorized at import and encode/decode are single numpy gathers — rows
are independent, so Spark parallelism is across documents.
"""

from __future__ import annotations

import struct

import numpy as np

from .riff import read_wav, write_wav

_BIAS = 0x84
_SEG_AEND = np.array(
    [0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF], dtype=np.int64
)


_SEG_UEND = np.array(
    [0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF], dtype=np.int64
)


def _build_ulaw_encode() -> np.ndarray:
    # the 14-bit form of the G.711 μ-law coder (input >> 2 first) —
    # the variant CPython's audioop and the public g711.c reference
    # use; parity is pinned bit-for-bit in tests/test_g711.py
    x = np.arange(-32768, 32768, dtype=np.int64) >> 2
    mask = np.where(x < 0, 0x7F, 0xFF)
    p = np.minimum(np.abs(x), 8159) + (_BIAS >> 2)
    seg = np.searchsorted(_SEG_UEND, p)
    uval = (seg << 4) | ((p >> np.minimum(seg + 1, 14)) & 0x0F)
    out = np.where(seg >= 8, 0x7F, uval) ^ mask
    return (out & 0xFF).astype(np.uint8)


def _build_alaw_encode() -> np.ndarray:
    x = np.arange(-32768, 32768, dtype=np.int64)
    p = x >> 3  # 16 → 13 bit, arithmetic shift
    mask = np.where(p >= 0, 0xD5, 0x55)
    p = np.where(p >= 0, p, -p - 1)  # p ≤ 0xFFF always after >>3
    seg = np.searchsorted(_SEG_AEND, p)
    aval = (seg << 4) | np.where(seg < 2, (p >> 1) & 0x0F, (p >> seg) & 0x0F)
    return ((aval ^ mask) & 0xFF).astype(np.uint8)


def _build_ulaw_decode() -> np.ndarray:
    out = np.empty(256, dtype=np.int16)
    for u in range(256):
        u_ = ~u & 0xFF
        t = (((u_ & 0x0F) << 3) + _BIAS) << ((u_ >> 4) & 0x07)
        out[u] = (_BIAS - t) if (u_ & 0x80) else (t - _BIAS)
    return out


def _build_alaw_decode() -> np.ndarray:
    out = np.empty(256, dtype=np.int16)
    for a in range(256):
        i = a ^ 0x55
        seg = (i & 0x70) >> 4
        t = ((i & 0x0F) << 4) + 8
        if seg:
            t = (t + 0x100) << (seg - 1)
        out[a] = t if (i & 0x80) else -t
    return out


_ULAW_ENC = _build_ulaw_encode()
_ALAW_ENC = _build_alaw_encode()
_ULAW_DEC = _build_ulaw_decode()
_ALAW_DEC = _build_alaw_decode()


def encode_ulaw(pcm16: np.ndarray) -> bytes:
    s = np.asarray(pcm16, dtype=np.int16)
    return _ULAW_ENC[s.astype(np.int32).reshape(-1) + 32768].tobytes()


def decode_ulaw(data: bytes) -> np.ndarray:
    return _ULAW_DEC[np.frombuffer(data, dtype=np.uint8)]


def encode_alaw(pcm16: np.ndarray) -> bytes:
    s = np.asarray(pcm16, dtype=np.int16)
    return _ALAW_ENC[s.astype(np.int32).reshape(-1) + 32768].tobytes()


def decode_alaw(data: bytes) -> np.ndarray:
    return _ALAW_DEC[np.frombuffer(data, dtype=np.uint8)]


# --- WAV container (wFormatTag 7 = μ-law, 6 = A-law) -------------------

_TAGS = {"ulaw": 7, "alaw": 6}


def encode_wav_g711(
    pcm16: np.ndarray, rate: int, law: str = "ulaw"
) -> bytes:
    """int16 samples (1-D mono or ``(n, 2)`` stereo) → a standard
    G.711 WAV (8 bits/sample, fact chunk with the frame count —
    required for compressed format tags)."""
    if law not in _TAGS:
        raise ValueError(f"unknown G.711 law {law!r}")
    s = np.asarray(pcm16, dtype=np.int16)
    if s.ndim == 1:
        s = s[:, None]
    if s.ndim != 2 or s.shape[1] not in (1, 2):
        raise ValueError("expected mono or stereo int16 samples")
    n, nch = s.shape
    if n == 0:
        raise ValueError("no samples")
    enc = encode_ulaw if law == "ulaw" else encode_alaw
    fmt = struct.pack(
        "<HHIIHHH", _TAGS[law], nch, rate, rate * nch, nch, 8, 0
    )
    return write_wav(fmt, n, enc(s.reshape(-1)))  # channel-interleaved bytes


def decode_wav_g711(data: bytes) -> tuple[np.ndarray, int]:
    """G.711 WAV bytes → (int16 samples — 1-D mono / ``(n, 2)``
    stereo, sample rate).  A ``data`` chunk shorter than the ``fact``
    frame count raises ``ValueError``."""
    (tag_, nch, rate, _avg, _align, bits), _, fact_n, raw = read_wav(data)
    if tag_ not in (6, 7):
        raise ValueError(f"not G.711 (format tag 0x{tag_:X})")
    if nch not in (1, 2) or bits != 8:
        raise NotImplementedError("only mono/stereo 8-bit G.711 supported")
    frames = len(raw) // nch
    if fact_n is not None and frames < fact_n:
        raise ValueError(f"truncated data: {frames} < {fact_n} samples")
    dec = decode_ulaw if tag_ == 7 else decode_alaw
    out = dec(raw[: frames * nch]).reshape(-1, nch)
    return (out[:, 0] if nch == 1 else out), int(rate)
