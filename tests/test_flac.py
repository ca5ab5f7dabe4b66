"""FLAC codec tests (sources/flac.py).

The encoder emits only a subset (CONSTANT / VERBATIM / FIXED + 4-bit
rice, partition order 0), so decoder-only surfaces — LPC subframes,
5-bit rice, multi-partition residuals, wasted bits, and the three
stereo decorrelation modes — are exercised with hand-built streams
written through the module's own bit writer, with expected samples
computed independently in the test.
"""

import hashlib
import struct

import numpy as np
import pytest

from scrapelect_spark.sources.flac import (
    _BitReader,
    _BitWriter,
    _crc8,
    _crc16,
    _decode_coded_number,
    _encode_coded_number,
    decode_flac,
    encode_flac,
)

RNG = np.random.default_rng(42)


# ------------------------------------------------------------- roundtrips


@pytest.mark.parametrize(
    "signal",
    [
        (np.cumsum(RNG.integers(-200, 200, 20_000))).clip(-32768, 32767),
        RNG.integers(-32768, 32768, 5_000),  # white noise (escape-ish)
        np.full(5_000, -17),  # CONSTANT
        np.zeros(4_096 + 1),  # exact block + 1-sample frame
        np.arange(300) * 100 - 15_000,  # pure ramp (order-2 zeros)
        np.array([32767, -32768, 0]),  # extremes
        np.array([5]),
    ],
    ids=["walk", "noise", "const", "block+1", "ramp", "extremes", "single"],
)
def test_mono_roundtrip_bit_exact(signal):
    pcm = signal.astype(np.int16)
    out, rate = decode_flac(encode_flac(pcm, 16000))
    assert rate == 16000
    assert np.array_equal(out, pcm.astype(np.int32))


def test_stereo_roundtrip_bit_exact():
    left = (np.cumsum(RNG.integers(-300, 300, 10_000))).clip(-32768, 32767)
    right = (left * 0.7).astype(np.int64)
    pcm = np.stack([left, right], axis=1).astype(np.int16)
    out, rate = decode_flac(encode_flac(pcm, 44100))
    assert out.shape == pcm.shape
    assert np.array_equal(out, pcm.astype(np.int32))


def test_compresses_smooth_signal():
    t = np.arange(30_000)
    pcm = np.round(20_000 * np.sin(2 * np.pi * 440 * t / 16_000)).astype(np.int16)
    blob = encode_flac(pcm, 16000)
    assert len(blob) < 0.7 * pcm.nbytes


def test_odd_block_sizes():
    pcm = (np.cumsum(RNG.integers(-99, 99, 2_000))).clip(-32768, 32767).astype(np.int16)
    for bs in (192, 576, 1000, 4096):
        out, _ = decode_flac(encode_flac(pcm, 8000, block_size=bs))
        assert np.array_equal(out, pcm.astype(np.int32)), bs


# ------------------------------------------------------------ coded numbers


@pytest.mark.parametrize(
    "n", [0, 1, 0x7F, 0x80, 0x7FF, 0x800, 0xFFFF, 0x10FFFF, (1 << 31) - 1, (1 << 36) - 1]
)
def test_coded_number_roundtrip(n):
    enc = _encode_coded_number(n)
    assert _decode_coded_number(_BitReader(enc)) == n


def test_coded_number_rejects_bad_continuation():
    with pytest.raises(ValueError):
        _decode_coded_number(_BitReader(bytes([0xC2, 0x00])))


# ---------------------------------------------------- corruption detection


def _clean_stream():
    pcm = (np.cumsum(RNG.integers(-150, 150, 9_000))).clip(-32768, 32767).astype(np.int16)
    return pcm, encode_flac(pcm, 16000)


def test_frame_crc16_detects_body_corruption():
    pcm, blob = _clean_stream()
    b = bytearray(blob)
    b[len(b) - 40] ^= 0x10
    with pytest.raises(ValueError):
        decode_flac(bytes(b))


def test_header_crc8_detects_header_corruption():
    pcm, blob = _clean_stream()
    b = bytearray(blob)
    # find second frame sync (first is right after metadata) and flip a
    # header bit that keeps the sync pattern valid
    first = blob.index(b"\xff\xf8", 42)
    second = blob.index(b"\xff\xf8", first + 2)
    b[second + 2] ^= 0x40
    with pytest.raises(ValueError):
        decode_flac(bytes(b))


def test_md5_mismatch_detected():
    pcm, blob = _clean_stream()
    b = bytearray(blob)
    b[26] ^= 0xFF  # inside the STREAMINFO MD5 field (bytes 8+18..8+34)
    with pytest.raises(ValueError, match="MD5"):
        decode_flac(bytes(b))
    # but decodable when the caller opts out
    out, _ = decode_flac(bytes(b), check_md5=False)
    assert np.array_equal(out, pcm.astype(np.int32))


@pytest.mark.parametrize("cut", [1, 2])
def test_stream_cut_inside_the_last_crc_is_truncation(cut):
    rng = np.random.default_rng(7)
    pcm = np.cumsum(rng.integers(-150, 150, 9_000)).clip(-32768, 32767)
    blob = encode_flac(pcm.astype(np.int16), 16000)
    with pytest.raises(ValueError, match="FLAC bitstream truncated"):
        decode_flac(blob[:-cut])


def test_not_flac():
    with pytest.raises(ValueError):
        decode_flac(b"RIFF" + b"\x00" * 64)


def test_mutation_fuzz_never_hangs_or_miscrashes():
    """Every single-byte mutation either decodes (to anything) or
    raises ValueError — never an uncontrolled exception type."""
    pcm, blob = _clean_stream()
    rng = np.random.default_rng(7)
    for _ in range(200):
        b = bytearray(blob)
        i = int(rng.integers(0, len(b)))
        b[i] ^= int(rng.integers(1, 256))
        try:
            decode_flac(bytes(b))
        except (ValueError, struct.error):
            pass


# --------------------------------------------- hand-built foreign streams
#
# Streams with features our encoder never emits, so the decoder is
# proven against the spec rather than against our own writer's habits.


def _subframe_lpc(w, samples, order, coefs, shift, prec, bps=16):
    """Write an LPC subframe whose residuals reproduce `samples`."""
    w.write(0, 1)
    w.write(32 | (order - 1), 6)
    w.write(0, 1)  # no wasted bits
    for v in samples[:order]:
        w.write(int(v), bps)
    w.write(prec - 1, 4)
    w.write(shift, 5)
    for c in coefs:
        w.write(int(c), prec)
    # residuals: method 1 (5-bit rice), partition order 0, param k
    res = []
    for i in range(order, len(samples)):
        pred = sum(c * samples[i - 1 - j] for j, c in enumerate(coefs)) >> shift
        res.append(samples[i] - pred)
    w.write(1, 2)
    w.write(0, 4)
    k = 6
    w.write(k, 5)
    for r in res:
        z = (r << 1) if r >= 0 else ((-r) << 1) - 1
        w.write(1, (z >> k) + 1)
        w.write(z, k)


def _subframe_fixed_partitions(w, samples, order, po, bps=16):
    """FIXED subframe with a multi-partition rice residual, one
    partition escaped to raw storage."""
    w.write(0, 1)
    w.write(8 | order, 6)
    w.write(0, 1)
    s = [int(v) for v in samples]
    for v in s[:order]:
        w.write(v, bps)
    res = list(np.diff(np.asarray(s, dtype=np.int64), n=order))
    w.write(0, 2)  # 4-bit rice
    w.write(po, 4)
    n = len(samples)
    idx = 0
    for p in range(1 << po):
        cnt = (n >> po) - (order if p == 0 else 0)
        part = res[idx : idx + cnt]
        idx += cnt
        if p == 1:  # escape this partition: raw 18-bit
            w.write(0x0F, 4)
            w.write(18, 5)
            for r in part:
                w.write(int(r), 18)
        else:
            k = 4
            w.write(k, 4)
            for r in part:
                r = int(r)
                z = (r << 1) if r >= 0 else ((-r) << 1) - 1
                w.write(1, (z >> k) + 1)
                w.write(z, k)


def _subframe_constant_wasted(w, value, wasted, bps=16):
    """CONSTANT subframe with wasted bits (value pre-shifted down)."""
    w.write(0, 1)
    w.write(0, 6)
    w.write(1, 1)  # wasted flag
    w.write(1, wasted)  # unary(wasted-1)
    w.write(value >> wasted, bps - wasted)


def _build_stream(nch, bps, bs, ch_code, subframe_writers, rate=16000,
                  total=None, md5=b"\x00" * 16):
    hdr = _BitWriter()
    hdr.write(0b11111111111110, 14)
    hdr.write(0, 2)
    hdr.write(0b0111, 4)  # 16-bit blocksize at end
    hdr.write(0b0101, 4)  # 16 kHz from table
    hdr.write(ch_code, 4)
    hdr.write({8: 0b001, 16: 0b100, 20: 0b101, 24: 0b110}[bps], 3)
    hdr.write(0, 1)
    hdr.align()
    head = bytearray(hdr.bytes())
    head += _encode_coded_number(0)
    head += struct.pack(">H", bs - 1)
    head.append(_crc8(bytes(head)))
    body = _BitWriter()
    for write_sub in subframe_writers:
        write_sub(body)
    body.align()
    frame = bytes(head) + body.bytes()
    frame += struct.pack(">H", _crc16(frame))

    info = _BitWriter()
    info.write(16, 16)
    info.write(bs, 16)
    info.write(0, 24)
    info.write(0, 24)
    info.write(rate, 20)
    info.write(nch - 1, 3)
    info.write(bps - 1, 5)
    info.write(total if total is not None else bs, 36)
    streaminfo = info.bytes() + md5  # all-zero MD5 → check skipped
    return b"fLaC" + bytes([0x80, 0, 0, len(streaminfo)]) + streaminfo + frame


def test_decode_lpc_subframe():
    order, shift, prec = 3, 5, 12
    coefs = [29, -18, 7]
    samples = [100, -50, 30]
    rng = np.random.default_rng(3)
    for i in range(3, 200):
        pred = sum(c * samples[i - 1 - j] for j, c in enumerate(coefs)) >> shift
        samples.append(pred + int(rng.integers(-40, 40)))
    blob = _build_stream(
        1, 16, len(samples), 0,
        [lambda w: _subframe_lpc(w, samples, order, coefs, shift, prec)],
    )
    out, rate = decode_flac(blob)
    assert rate == 16000
    assert out.tolist() == samples


def test_decode_multi_partition_with_escape():
    n, order, po = 256, 2, 2
    rng = np.random.default_rng(4)
    base = np.cumsum(rng.integers(-6, 7, n)).clip(-30000, 30000)
    samples = base.astype(np.int64).tolist()
    blob = _build_stream(
        1, 16, n, 0,
        [lambda w: _subframe_fixed_partitions(w, samples, order, po)],
    )
    out, _ = decode_flac(blob)
    assert out.tolist() == samples


def test_decode_wasted_bits():
    value, wasted, n = -4096, 3, 64
    blob = _build_stream(
        1, 16, n, 0, [lambda w: _subframe_constant_wasted(w, value, wasted)]
    )
    out, _ = decode_flac(blob)
    assert out.tolist() == [value] * n


@pytest.mark.parametrize("mode", ["left_side", "right_side", "mid_side"])
def test_decode_stereo_decorrelation(mode):
    n = 128
    rng = np.random.default_rng(5)
    left = np.cumsum(rng.integers(-50, 51, n)).clip(-20000, 20000).astype(np.int64)
    right = (left - rng.integers(-30, 31, n)).clip(-20000, 20000).astype(np.int64)
    side = left - right

    def verbatim(samples, bps):
        def go(w):
            w.write(0, 1)
            w.write(1, 6)
            w.write(0, 1)
            for v in samples:
                w.write(int(v), bps)
        return go

    if mode == "left_side":
        ch_code, subs = 8, [verbatim(left, 16), verbatim(side, 17)]
    elif mode == "right_side":
        ch_code, subs = 9, [verbatim(side, 17), verbatim(right, 16)]
    else:
        mid = (left + right) >> 1
        ch_code, subs = 10, [verbatim(mid, 16), verbatim(side, 17)]
    blob = _build_stream(2, 16, n, ch_code, subs)
    out, _ = decode_flac(blob)
    assert out[:, 0].tolist() == left.tolist()
    assert out[:, 1].tolist() == right.tolist()


def test_decode_8bit_stream():
    samples = list(range(-60, 68))

    def verbatim(w):
        w.write(0, 1)
        w.write(1, 6)
        w.write(0, 1)
        for v in samples:
            w.write(int(v), 8)

    blob = _build_stream(1, 8, len(samples), 0, [verbatim])
    out, _ = decode_flac(blob)
    assert out.tolist() == samples


def test_reserved_subframe_type_rejected():
    def bad(w):
        w.write(0, 1)
        w.write(2, 6)  # reserved
        w.write(0, 1)

    blob = _build_stream(1, 16, 4, 0, [bad])
    with pytest.raises(ValueError, match="reserved subframe"):
        decode_flac(blob)


def test_md5_width_follows_bps_8_and_24_bit():
    """RFC 9639: MD5 runs over ceil(bps/8) LE bytes per sample — a
    valid 8- or 24-bit stream with a populated MD5 must verify (ADVICE
    r4: the old 2-else-4-byte pack rejected every such stream)."""
    samples = list(range(-60, 68))

    def verbatim8(w):
        w.write(0, 1)
        w.write(1, 6)
        w.write(0, 1)
        for v in samples:
            w.write(int(v), 8)

    md5 = hashlib.md5(np.array(samples, dtype="<i1").tobytes()).digest()
    blob = _build_stream(1, 8, len(samples), 0, [verbatim8], md5=md5)
    out, _ = decode_flac(blob)
    assert out.tolist() == samples

    s24 = [0, 1, -1, 123456, -123456, 8388607, -8388608]

    def verbatim24(w):
        w.write(0, 1)
        w.write(1, 6)
        w.write(0, 1)
        for v in s24:
            w.write(int(v), 24)

    raw = b"".join(int(v).to_bytes(3, "little", signed=True) for v in s24)
    blob = _build_stream(
        1, 24, len(s24), 0, [verbatim24], md5=hashlib.md5(raw).digest()
    )
    out, _ = decode_flac(blob)
    assert out.tolist() == s24
    # the old (wrong) 4-byte pack must now be REJECTED for 24-bit
    bad = hashlib.md5(np.array(s24, dtype="<i4").tobytes()).digest()
    blob = _build_stream(1, 24, len(s24), 0, [verbatim24], md5=bad)
    with pytest.raises(ValueError, match="MD5"):
        decode_flac(blob)


def test_md5_width_24bit_stereo_interleaved():
    """Stereo 24-bit: bytes are channel-interleaved per sample frame."""
    left = [100000, -100000, 42]
    right = [-1, 8000000, -8000000]

    def verbatim(ch):
        def sub(w):
            w.write(0, 1)
            w.write(1, 6)
            w.write(0, 1)
            for v in ch:
                w.write(int(v), 24)

        return sub

    inter = b"".join(
        int(v).to_bytes(3, "little", signed=True)
        for pair in zip(left, right)
        for v in pair
    )
    blob = _build_stream(
        2, 24, 3, 1, [verbatim(left), verbatim(right)],
        md5=hashlib.md5(inter).digest(),
    )
    out, _ = decode_flac(blob)
    assert out[:, 0].tolist() == left
    assert out[:, 1].tolist() == right


def test_md5_verified_when_present():
    """A stream whose STREAMINFO MD5 is set must be checked against the
    decoded (not the stored) samples."""
    pcm = np.array([10, 20, 30, 40], dtype=np.int16)
    blob = encode_flac(pcm, 16000)
    # flip one bit of the stored MD5 only
    i = blob.index(hashlib.md5(pcm.astype("<i2").tobytes()).digest())
    b = bytearray(blob)
    b[i] ^= 1
    with pytest.raises(ValueError, match="MD5"):
        decode_flac(bytes(b))
