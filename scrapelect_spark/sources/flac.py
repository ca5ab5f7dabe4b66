"""Pure-Python FLAC codec — retires the lossless-compressed audio stub.

FLAC is a fully public format (RFC 9639 / the xiph.org spec): rice-coded
prediction residuals inside CRC-protected frames.  The encoder here is
a real subset encoder (fixed predictors 0-4 + CONSTANT + VERBATIM,
16-bit, mono or independent stereo, 4-bit rice with escape partitions)
whose output any conformant decoder reads; the decoder is full-surface
for the subframe layer: CONSTANT, VERBATIM, FIXED 0-4, LPC 1-32, both
rice methods (4- and 5-bit parameters) including escaped partitions,
wasted bits, and all four channel assignments (independent, left/side,
right/side, mid/side), with CRC-8, CRC-16 and STREAMINFO-MD5 checks.

Like the JPEG/ADPCM codecs this is written from the spec, not ported:
the reference repo (Rust scrapelect) has no audio layer at all.
mp3/ogg stay out of scope (they need real psychoacoustic codec
libraries); ``audio_features``' per-row error capture covers them.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

from .bits import BitReader, BitWriter as _BitWriter

# ------------------------------------------------------------------ CRCs

_CRC8_TABLE = []
for _b in range(256):
    _c = _b
    for _ in range(8):
        _c = ((_c << 1) ^ 0x07) & 0xFF if _c & 0x80 else (_c << 1) & 0xFF
    _CRC8_TABLE.append(_c)

_CRC16_TABLE = []
for _b in range(256):
    _c = _b << 8
    for _ in range(8):
        _c = ((_c << 1) ^ 0x8005) & 0xFFFF if _c & 0x8000 else (_c << 1) & 0xFFFF
    _CRC16_TABLE.append(_c)


def _crc8(data: bytes) -> int:
    c = 0
    for b in data:
        c = _CRC8_TABLE[c ^ b]
    return c


def _crc16(data: bytes) -> int:
    c = 0
    for b in data:
        c = _CRC16_TABLE[((c >> 8) ^ b) & 0xFF] ^ ((c << 8) & 0xFFFF)
    return c


# ------------------------------------------------------------------ bit I/O


class _BitReader(BitReader):
    truncated = "FLAC bitstream truncated"
    truncated_unary = "FLAC bitstream truncated in unary code"


# ------------------------------------------------------------- coded number


def _encode_coded_number(n: int) -> bytes:
    """UTF-8-style variable-length number (frame/sample index)."""
    if n < 0x80:
        return bytes([n])
    # smallest length whose payload bits fit n: lead byte carries
    # (7 - total) bits, each continuation byte 6 (36 max at total=7)
    for total in range(2, 8):
        payload = (7 - total) + 6 * (total - 1) if total < 7 else 36
        if n < (1 << payload):
            nbytes = total
            break
    else:
        raise ValueError("coded number too large")
    cont = [(n >> (6 * i)) & 0x3F | 0x80 for i in range(nbytes - 1)]
    first_payload_bits = 7 - nbytes if nbytes < 7 else 0
    lead_mask = (0xFF << (first_payload_bits + 1)) & 0xFF
    first = lead_mask | ((n >> (6 * (nbytes - 1))) & ((1 << first_payload_bits) - 1))
    return bytes([first] + [c for c in reversed(cont)])


def _decode_coded_number(r: _BitReader) -> int:
    first = r.read(8)
    if first < 0x80:
        return first
    nbytes = 0
    mask = 0x80
    while first & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 2 or nbytes > 7:
        raise ValueError(f"invalid coded-number lead byte 0x{first:02x}")
    v = first & (0x7F >> nbytes)
    for _ in range(nbytes - 1):
        c = r.read(8)
        if (c & 0xC0) != 0x80:
            raise ValueError("invalid coded-number continuation byte")
        v = (v << 6) | (c & 0x3F)
    return v


# ------------------------------------------------------------- fixed predictors

# residual of fixed order k = k-th forward difference of the signal
_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _fixed_residual(samples: np.ndarray, order: int) -> np.ndarray:
    r = samples.astype(np.int64)
    for _ in range(order):
        r = np.diff(r)
    return r


def _zigzag(r: np.ndarray) -> np.ndarray:
    return np.where(r >= 0, r << 1, ((-r) << 1) - 1)


# ------------------------------------------------------------------ encoder


def _rice_cost(z: np.ndarray, k: int) -> int:
    return int(np.sum(z >> k)) + len(z) * (k + 1)


def _best_rice_k(z: np.ndarray) -> int:
    if len(z) == 0:
        return 0
    mean = float(np.mean(z))
    k = 0
    while (1 << (k + 1)) < mean + 1 and k < 14:
        k += 1
    best_k, best_c = k, _rice_cost(z, k)
    for kk in (k - 1, k + 1):
        if 0 <= kk <= 14:
            c = _rice_cost(z, kk)
            if c < best_c:
                best_k, best_c = kk, c
    return best_k


def _write_residual(w: _BitWriter, res: np.ndarray, bps: int) -> None:
    """Rice method 0, partition order 0; escapes to verbatim storage
    when rice would blow up (rare, pathological residuals)."""
    w.write(0, 2)  # method: 4-bit rice
    w.write(0, 4)  # partition order 0
    z = _zigzag(res.astype(np.int64))
    k = _best_rice_k(z)
    # escape if rice is worse than raw n-bit storage
    need = max(int(np.max(np.abs(res), initial=0)).bit_length() + 1, 1)
    need = min(need, 31)
    if _rice_cost(z, k) > need * len(z) + 5:
        w.write(0x0F, 4)  # escape
        w.write(need, 5)
        for v in res.tolist():
            w.write(v, need)
        return
    w.write(k, 4)
    for v in z.tolist():
        w.write_unary(int(v) >> k)
        w.write(int(v), k)


def _encode_subframe(w: _BitWriter, samples: np.ndarray, bps: int) -> None:
    s = samples.astype(np.int64)
    n = len(s)
    if n and np.all(s == s[0]):
        w.write(0, 1)  # padding
        w.write(0, 6)  # CONSTANT
        w.write(0, 1)  # no wasted bits
        w.write(int(s[0]), bps)
        return
    best_order, best_cost, best_res = 0, None, None
    for order in range(0, min(5, n)):
        res = _fixed_residual(s, order)
        cost = int(np.sum(np.abs(res))) if len(res) else 0
        if best_cost is None or cost < best_cost:
            best_order, best_cost, best_res = order, cost, res
    res = best_res if best_res is not None else s.copy()
    # VERBATIM fallback when residual magnitudes overflow rice sanity
    if len(res) and int(np.max(np.abs(res))) >= (1 << 30):
        w.write(0, 1)
        w.write(1, 6)  # VERBATIM
        w.write(0, 1)
        for v in s.tolist():
            w.write(v, bps)
        return
    w.write(0, 1)
    w.write(0b001000 | best_order, 6)  # FIXED, order
    w.write(0, 1)  # no wasted bits
    for v in s[:best_order].tolist():  # warmup
        w.write(int(v), bps)
    _write_residual(w, res, bps)


def encode_flac(
    pcm16: np.ndarray, rate: int, block_size: int = 4096
) -> bytes:
    """int16 samples (1-D mono, or 2-D ``(n, 2)`` stereo) → a complete
    FLAC stream (fLaC marker + STREAMINFO + fixed-blocksize frames)."""
    header, frames = encode_flac_parts(pcm16, rate, block_size)
    return header + b"".join(frames)


def encode_flac_parts(
    pcm16: np.ndarray, rate: int, block_size: int = 4096
) -> tuple[bytes, list[bytes]]:
    """Same encoder, structured output: ``(header, [frame, ...])``
    where header = fLaC marker + STREAMINFO and each frame is one
    complete FLAC frame — the boundaries an Ogg encapsulation
    (one frame per packet, xiph FLAC-to-Ogg mapping) needs.
    ``encode_flac`` is exactly ``header + b"".join(frames)``."""
    s = np.asarray(pcm16)
    if s.ndim == 1:
        s = s[:, None]
    if s.ndim != 2 or s.shape[1] not in (1, 2):
        raise ValueError("expected mono or stereo int16 samples")
    if len(s) == 0:
        raise ValueError("no samples")
    s = s.astype(np.int64)
    n, nch = s.shape
    bps = 16
    md5 = hashlib.md5(
        s.astype("<i2").tobytes()  # interleaved little-endian, per spec
    ).digest()

    frames: list[bytes] = []
    min_fs = max_fs = None
    for fi, start in enumerate(range(0, n, block_size)):
        blk = s[start : start + block_size]
        bs = len(blk)
        hdr = _BitWriter()
        hdr.write(0b11111111111110, 14)  # sync
        hdr.write(0, 1)  # reserved
        hdr.write(0, 1)  # fixed blocksize strategy
        if bs == block_size and bs in (256, 512, 1024, 2048, 4096, 8192, 16384, 32768):
            bs_code, bs_tail = 8 + (bs.bit_length() - 9), None
        else:
            bs_code, bs_tail = 0b0111, bs - 1  # 16-bit at end
        hdr.write(bs_code, 4)
        hdr.write(0, 4)  # sample rate: from STREAMINFO
        hdr.write(nch - 1, 4)  # independent channels
        hdr.write(0b100, 3)  # 16 bps
        hdr.write(0, 1)  # reserved
        hdr.align()
        head = bytearray(hdr.bytes())
        head += _encode_coded_number(fi)
        if bs_tail is not None:
            head += struct.pack(">H", bs_tail)
        head.append(_crc8(bytes(head)))

        body = _BitWriter()
        for ch in range(nch):
            _encode_subframe(body, blk[:, ch], bps)
        body.align()
        frame = bytes(head) + body.bytes()
        frame += struct.pack(">H", _crc16(frame))
        frames.append(frame)
        fs = len(frame)
        min_fs = fs if min_fs is None else min(min_fs, fs)
        max_fs = fs if max_fs is None else max(max_fs, fs)

    info = _BitWriter()
    info.write(min(block_size, n if n >= 16 else 16), 16)  # min block
    info.write(block_size, 16)
    info.write(min_fs or 0, 24)
    info.write(max_fs or 0, 24)
    info.write(rate, 20)
    info.write(nch - 1, 3)
    info.write(bps - 1, 5)
    info.write(n, 36)
    streaminfo = info.bytes() + md5
    header = b"fLaC" + bytes([0x80, 0, 0, len(streaminfo)]) + streaminfo
    return header, frames


# ------------------------------------------------------------------ decoder

_SAMPLE_SIZES = {0b001: 8, 0b010: 12, 0b100: 16, 0b101: 20, 0b110: 24, 0b111: 32}


def _read_residual(r: _BitReader, bs: int, order: int) -> list[int]:
    method = r.read(2)
    if method > 1:
        raise ValueError(f"reserved residual coding method {method}")
    plen = 4 if method == 0 else 5
    escape = (1 << plen) - 1
    po = r.read(4)
    nparts = 1 << po
    if bs % nparts:
        raise ValueError("block size not divisible by partition count")
    out: list[int] = []
    for p in range(nparts):
        cnt = (bs >> po) - (order if p == 0 else 0)
        if cnt < 0:
            raise ValueError("predictor order exceeds first partition")
        k = r.read(plen)
        if k == escape:
            nbits = r.read(5)
            if nbits == 0:
                out.extend([0] * cnt)
            else:
                for _ in range(cnt):
                    out.append(r.read_signed(nbits))
        else:
            for _ in range(cnt):
                q = r.read_unary()
                v = (q << k) | r.read(k)
                out.append((v >> 1) ^ -(v & 1))
    return out


def _decode_subframe(r: _BitReader, bs: int, bps: int) -> list[int]:
    if r.read(1):
        raise ValueError("subframe padding bit set")
    t = r.read(6)
    wasted = 0
    if r.read(1):
        wasted = 1 + r.read_unary()
        bps -= wasted
    if t == 0:  # CONSTANT
        v = r.read_signed(bps)
        out = [v] * bs
    elif t == 1:  # VERBATIM
        out = [r.read_signed(bps) for _ in range(bs)]
    elif 8 <= t <= 12:  # FIXED order 0-4
        order = t - 8
        warm = [r.read_signed(bps) for _ in range(order)]
        res = _read_residual(r, bs, order)
        out = warm + res
        coefs = _FIXED_COEFS[order]
        for i in range(order, bs):
            out[i] += sum(c * out[i - 1 - j] for j, c in enumerate(coefs))
    elif t >= 32:  # LPC, order 1-32
        order = t - 31
        warm = [r.read_signed(bps) for _ in range(order)]
        prec = r.read(4)
        if prec == 0b1111:
            raise ValueError("invalid LPC precision")
        prec += 1
        shift = r.read_signed(5)
        if shift < 0:
            raise ValueError("negative LPC shift")
        coefs = [r.read_signed(prec) for _ in range(order)]
        res = _read_residual(r, bs, order)
        out = warm + res
        for i in range(order, bs):
            acc = 0
            for j, c in enumerate(coefs):
                acc += c * out[i - 1 - j]
            out[i] += acc >> shift
    else:
        raise ValueError(f"reserved subframe type {t}")
    if wasted:
        out = [v << wasted for v in out]
    return out


def decode_flac(data: bytes, check_md5: bool = True):
    """FLAC bytes → ``(samples, rate)`` where samples is int32 of shape
    ``(n,)`` for mono or ``(n, channels)`` otherwise.  Verifies frame
    CRC-8/CRC-16 and (when present) the STREAMINFO MD5."""
    if data[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(data):
            raise ValueError("truncated metadata")
        last = data[pos] & 0x80
        btype = data[pos] & 0x7F
        (ln,) = struct.unpack(">I", b"\x00" + data[pos + 1 : pos + 4])
        body = data[pos + 4 : pos + 4 + ln]
        if btype == 0:
            streaminfo = body
        elif btype == 127:
            raise ValueError("invalid metadata block type 127")
        pos += 4 + ln
        if last:
            break
    if streaminfo is None or len(streaminfo) < 34:
        raise ValueError("missing STREAMINFO")
    si = _BitReader(streaminfo)
    si.read(16)  # min block
    si.read(16)  # max block
    si.read(24)
    si.read(24)
    rate = si.read(20)
    nch_si = si.read(3) + 1
    bps_si = si.read(5) + 1
    total = si.read(36)
    md5_expect = streaminfo[18:34]

    channels: list[list[int]] = [[] for _ in range(nch_si)]
    while pos < len(data):
        if pos + 2 > len(data) or data[pos] != 0xFF or (data[pos + 1] & 0xFC) != 0xF8:
            raise ValueError(f"bad frame sync at byte {pos}")
        r = _BitReader(data, pos)
        r.read(14)
        r.read(1)
        variable = r.read(1)
        bs_code = r.read(4)
        sr_code = r.read(4)
        ch_code = r.read(4)
        ss_code = r.read(3)
        r.read(1)
        _decode_coded_number(r)
        if bs_code == 0:
            raise ValueError("reserved block size code 0")
        elif bs_code == 1:
            bs = 192
        elif bs_code <= 5:
            bs = 576 << (bs_code - 2)
        elif bs_code == 6:
            bs = r.read(8) + 1
        elif bs_code == 7:
            bs = r.read(16) + 1
        else:
            bs = 256 << (bs_code - 8)
        if sr_code == 12:
            r.read(8)
        elif sr_code in (13, 14):
            r.read(16)
        elif sr_code == 15:
            raise ValueError("invalid sample rate code 15")
        r.align()
        hdr_crc = _crc8(data[pos : r.byte_pos()])
        if r.read(8) != hdr_crc:
            raise ValueError("frame header CRC-8 mismatch")
        bps = _SAMPLE_SIZES.get(ss_code, bps_si)
        if ch_code < 8:
            nch = ch_code + 1
            subs = [
                _decode_subframe(r, bs, bps) for _ in range(nch)
            ]
        elif ch_code in (8, 9, 10):
            nch = 2
            bump = {8: (0, 1), 9: (1, 0), 10: (0, 1)}[ch_code]
            a = _decode_subframe(r, bs, bps + bump[0])
            b = _decode_subframe(r, bs, bps + bump[1])
            if ch_code == 8:  # left/side
                subs = [a, [x - y for x, y in zip(a, b)]]
            elif ch_code == 9:  # right/side (side, right)
                subs = [[x + y for x, y in zip(a, b)], b]
            else:  # mid/side
                left, right = [], []
                for m, sd in zip(a, b):
                    m = (m << 1) | (sd & 1)
                    left.append((m + sd) >> 1)
                    right.append((m - sd) >> 1)
                subs = [left, right]
        else:
            raise ValueError(f"reserved channel assignment {ch_code}")
        if nch != nch_si:
            raise ValueError("frame channel count differs from STREAMINFO")
        frame_end = r.byte_pos()
        if frame_end + 2 > len(data):
            raise ValueError("FLAC bitstream truncated")
        if _crc16(data[pos:frame_end]) != struct.unpack(
            ">H", data[frame_end : frame_end + 2]
        )[0]:
            raise ValueError("frame CRC-16 mismatch")
        for c in range(nch):
            channels[c].extend(subs[c])
        pos = frame_end + 2
        del variable
        if total and len(channels[0]) >= total:
            break

    if total:
        channels = [c[:total] for c in channels]
    out = np.array(channels, dtype=np.int64).T
    if check_md5 and md5_expect != b"\x00" * 16:
        # RFC 9639: the MD5 runs over ceil(bps/8) little-endian bytes
        # per sample, channel-interleaved — 1 byte for 8-bit, 3 bytes
        # for 17-24 bit (NOT padded to 2/4; ADVICE r4 item #2)
        width = (bps_si + 7) // 8
        if width == 3:
            # order="C": astype's default order="K" would keep the .T
            # view's F-layout and break the row-major uint8 view
            a4 = out.astype("<i4", order="C")
            raw = a4.view(np.uint8).reshape(-1, 4)[:, :3].tobytes()
        else:
            raw = out.astype(f"<i{width}").tobytes()
        if hashlib.md5(raw).digest() != md5_expect:
            raise ValueError("decoded audio MD5 mismatch")
    out = out.astype(np.int32)
    return (out[:, 0] if nch_si == 1 else out), rate
