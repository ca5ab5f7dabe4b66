"""MPEG-1 I/P video codec tests (sources/mpeg1.py): VLC table
integrity (prefix-freeness, canonical DC/AC/MV/CBP codes, the Table
B.1↔B.4 bit-space cross-check), bitstream grammar (start codes,
sequence/picture headers, slice addressing), roundtrip quality across
qscales and dimensions, the ESCAPE coefficient path, motion-
compensated P-pictures (closed-loop drift, skipped-macroblock runs
incl. MBA escapes, scene-cut intra fallback, dependency-chain
sampling), bidirectionally-predicted B-pictures (coding-order
emission, temporal_reference display mapping, interpolated/forward/
backward modes, B-skip repeat semantics, reference-less B errors),
hand-built foreign-feature streams (quantizer update
macroblocks, zero-byte stuffing, MBA stuffing, forward_f_code > 1,
full-pel vectors), mutation fuzz, and frame_sample routing."""

import numpy as np
import pytest

from scrapelect_spark.sources import mpeg1 as M
from scrapelect_spark.sources.mpeg1 import (
    decode_m1v_frames,
    encode_m1v,
    is_m1v,
    mpeg1_meta,
)

RNG = np.random.default_rng(5)


def smooth(h, w, seed=0, shift=0):
    y, x = np.mgrid[0:h, 0:w]
    rng = np.random.default_rng(seed)
    a, b, c = rng.uniform(3, 9, 3)
    r = 128 + 90 * np.sin(x / a + shift)
    g = 128 + 70 * np.cos(y / b - shift / 2)
    bl = 128 + 60 * np.sin((x + y) / c)
    return np.clip(
        np.round(np.stack([r, g, bl], axis=-1)), 0, 255
    ).astype(np.uint8)


def psnr(a, b):
    mse = ((a.astype(np.float64) - b.astype(np.float64)) ** 2).mean()
    return 99.0 if mse == 0 else 10 * np.log10(255.0**2 / mse)


def _assert_prefix_free(table):
    codes = [format(c, f"0{n}b") for (c, n) in table]
    assert len(set(codes)) == len(codes)
    for a in codes:
        for b in codes:
            assert a == b or not b.startswith(a), (a, b)


# --- table integrity --------------------------------------------------


def test_ac_table_prefix_free_with_eob_and_escape():
    _assert_prefix_free(M._AC_DEC)


def test_mba_table_prefix_free():
    _assert_prefix_free(M._MBA_DEC)


def test_dc_tables_prefix_free():
    _assert_prefix_free(M._DC_LUMA_DEC)
    _assert_prefix_free(M._DC_CHROMA_DEC)


def test_known_codes():
    # spot-check Table B.12/B.13/B.14 anchor codes
    assert M._DC_LUMA[0] == (0b100, 3)
    assert M._DC_LUMA[1] == (0b00, 2)
    assert M._DC_CHROMA[0] == (0b00, 2)
    assert M._AC_TABLE[(0, 1)] == (0b11, 2)  # dct_coeff_next
    assert M._AC_TABLE[(1, 1)] == (0b011, 3)
    assert M._EOB == (0b10, 2)
    assert M._ESCAPE == (0b000001, 6)


# --- headers / sniff --------------------------------------------------


def test_sequence_header_and_meta():
    frames = [smooth(18, 27, seed=1)]
    data = encode_m1v(frames, fps=29.5, qscale=3)
    assert is_m1v(data)
    w, h, rate, n = mpeg1_meta(data)
    assert (w, h, n) == (27, 18, 1)
    assert rate == pytest.approx(29.97)  # nearest picture_rate code
    assert data.endswith(b"\x00\x00\x01\xb7")  # sequence_end_code


def test_not_m1v_sniffs():
    assert not is_m1v(b"RIFF....AVI ")
    assert not is_m1v(b"\x00\x00\x01\x00rest")
    with pytest.raises(ValueError):
        list(decode_m1v_frames(b"\x00\x00\x01\xb7"))


# --- roundtrip quality ------------------------------------------------


@pytest.mark.parametrize("qscale,floor", [(1, 33.0), (2, 33.0), (4, 31.0)])
def test_roundtrip_quality_by_qscale(qscale, floor):
    f = smooth(32, 48, seed=2)
    data = encode_m1v([f], qscale=qscale)
    (_, dec), = decode_m1v_frames(data)
    assert dec.shape == f.shape
    assert psnr(f, dec) >= floor


@pytest.mark.parametrize("h,w", [(8, 8), (16, 16), (17, 31), (48, 64), (23, 105)])
def test_roundtrip_odd_dimensions_crop(h, w):
    f = smooth(h, w, seed=h * 100 + w)
    (_, dec), = decode_m1v_frames(encode_m1v([f], qscale=2))
    assert dec.shape == (h, w, 3)
    assert psnr(f, dec) >= 31.0


def test_flat_frame_exact():
    f = np.full((16, 32, 3), 77, np.uint8)
    (_, dec), = decode_m1v_frames(encode_m1v([f], qscale=1))
    assert np.array_equal(dec, f)


def test_grayscale_noise_survives_luma_path():
    # pure-luma noise exercises ESCAPE coefficients heavily; 4:2:0
    # cannot lose anything on gray content
    g = RNG.integers(0, 256, (24, 24), dtype=np.uint8)
    f = np.stack([g, g, g], axis=-1)
    (_, dec), = decode_m1v_frames(encode_m1v([f], qscale=1))
    assert psnr(f, dec) >= 40.0


def test_multiframe_sampling_skips_decode():
    frames = [smooth(16, 16, seed=9, shift=i) for i in range(7)]
    data = encode_m1v(frames, qscale=2)
    got = dict(decode_m1v_frames(data, every_n=3))
    assert sorted(got) == [0, 3, 6]
    for i, dec in got.items():
        assert psnr(frames[i], dec) >= 32.0


def test_deterministic_encode():
    f = smooth(16, 24, seed=4)
    assert encode_m1v([f]) == encode_m1v([f])


# --- declared boundary: B pictures; P needs a reference ---------------


def _patch_picture_types(data: bytes, ptype: int, which=None) -> bytes:
    out = bytearray(data)
    idx = 0
    i = out.find(b"\x00\x00\x01\x00")
    while i != -1:
        if which is None or idx in which:
            out[i + 5] = (out[i + 5] & 0b11000111) | (ptype << 3)
        idx += 1
        i = out.find(b"\x00\x00\x01\x00", i + 4)
    return bytes(out)


def test_sampled_b_picture_without_references_raises():
    # a stream whose FIRST picture is a B has no references for it —
    # a real bitstream error (B-pictures are decoded for real now)
    data = _patch_picture_types(encode_m1v([smooth(16, 16)]), 3)
    with pytest.raises(ValueError, match="without both references"):
        list(decode_m1v_frames(data))


def test_p_picture_without_reference_raises():
    data = _patch_picture_types(encode_m1v([smooth(16, 16)]), 2)
    with pytest.raises(ValueError, match="without a reference"):
        list(decode_m1v_frames(data))


def test_skipped_b_pictures_are_not_decoded():
    # pictures 1..5 are B-patched; they are never references, so
    # sampling every 6th touches only the I-pictures — proof that the
    # skip really is a start-code scan (a decoded B would raise)
    frames = [smooth(16, 16, seed=3, shift=i) for i in range(7)]
    data = _patch_picture_types(
        encode_m1v(frames, qscale=2), 3, which=set(range(1, 6))
    )
    got = dict(decode_m1v_frames(data, every_n=6))
    assert sorted(got) == [0, 6]


# --- P-pictures: motion-compensated interframe coding -----------------


def moving(h, w, n, seed=0, step=3):
    """Smooth translating scene + a moving sprite: MC-friendly."""
    y, x = np.mgrid[0:h, 0:w]
    frames = []
    for t in range(n):
        r = 128 + 90 * np.sin((x + step * t) / 6.0)
        g = 128 + 70 * np.cos((y + step * t) / 5.0)
        b = 128 + 60 * np.sin((x + y) / 7.0 + t / 4.0)
        f = np.clip(
            np.round(np.stack([r, g, b], axis=-1)), 0, 255
        ).astype(np.uint8)
        f[(4 + t) % (h - 8):(4 + t) % (h - 8) + 8,
          (2 * t) % (w - 8):(2 * t) % (w - 8) + 8] = (220, 50, 80)
        frames.append(f)
    return frames


def test_p_roundtrip_quality():
    frames = moving(32, 48, 7)
    data = encode_m1v(frames, qscale=2, gop_size=3)
    got = dict(decode_m1v_frames(data))
    assert sorted(got) == list(range(7))
    for i, dec in got.items():
        assert psnr(frames[i], dec) >= 28.0, i


def test_p_types_on_the_wire():
    # gop_size=3 → picture_coding_type I P P I P P on the wire
    data = encode_m1v(moving(16, 16, 6), qscale=2, gop_size=3)
    types = []
    i = data.find(b"\x00\x00\x01\x00")
    while i != -1:
        r = M._BitReader(data, i + 4)
        r.read(10)
        types.append(r.read(3))
        i = data.find(b"\x00\x00\x01\x00", i + 4)
    assert types == [1, 2, 2, 1, 2, 2]


def test_static_scene_mostly_skips():
    """Identical frames: interior P macroblocks overwhelmingly skip
    (the stream is a fraction of the all-I size); the few coded MBs
    may only REFINE the I-reconstruction's quantization error, never
    degrade it."""
    f = smooth(32, 48, seed=11)
    frames = [f] * 5
    p = encode_m1v(frames, qscale=2, gop_size=5)
    i_only = encode_m1v(frames, qscale=2)
    assert len(p) < len(i_only) * 0.45
    got = dict(decode_m1v_frames(p))
    base = psnr(f, got[0])
    for t in range(1, 5):
        assert psnr(f, got[t]) >= base - 0.1
        assert psnr(got[0], got[t]) >= 45.0  # near-copy of the ref


def test_static_flat_scene_all_skips_exact():
    """A flat scene reconstructs exactly at the I-picture, so every P
    residual is zero: all interior MBs skip and decode is bit-exact
    across the GOP."""
    f = np.full((32, 48, 3), 77, np.uint8)
    got = dict(decode_m1v_frames(
        encode_m1v([f] * 4, qscale=2, gop_size=4)
    ))
    for t in range(4):
        assert np.array_equal(got[t], f)


def test_skip_run_longer_than_33_uses_mba_escape():
    """A 40-macroblock-wide static flat row forces a skipped run of 38
    (> 33), so the encoder must emit the MBA escape (+33) and the
    decoder must accumulate it — decode is bit-exact."""
    f = np.full((16, 40 * 16, 3), 140, np.uint8)
    data = encode_m1v([f, f], qscale=2, gop_size=2)
    got = dict(decode_m1v_frames(data))
    assert np.array_equal(got[0], f)
    assert np.array_equal(got[1], f)


def test_closed_loop_no_drift_over_long_gop():
    """15 P-pictures chained off one I: closed-loop encoding keeps the
    tail frame as good as the head (open-loop drift would compound)."""
    frames = moving(32, 32, 16, step=2)
    data = encode_m1v(frames, qscale=2, gop_size=16)
    got = dict(decode_m1v_frames(data))
    head = psnr(frames[1], got[1])
    tail = psnr(frames[15], got[15])
    assert tail >= 28.0
    assert tail >= head - 3.0


def test_scene_cut_intra_fallback():
    """A full scene change mid-GOP must survive (per-macroblock intra
    fallback); quality on the cut frame stays high."""
    a = smooth(32, 32, seed=13)
    b = 255 - smooth(32, 32, seed=14)[::-1]
    frames = [a, a, b.copy(), b.copy()]
    data = encode_m1v(frames, qscale=2, gop_size=4)
    got = dict(decode_m1v_frames(data))
    assert psnr(b, got[2]) >= 28.0
    assert psnr(b, got[3]) >= 28.0


def test_dependency_chain_sampling_matches_full_decode():
    frames = moving(32, 48, 9)
    data = encode_m1v(frames, qscale=2, gop_size=4)
    full = dict(decode_m1v_frames(data, every_n=1))
    for every_n in (2, 3, 4):
        part = dict(decode_m1v_frames(data, every_n=every_n))
        assert sorted(part) == list(range(0, 9, every_n))
        for i in part:
            assert np.array_equal(part[i], full[i]), i


def test_p_deterministic_encode():
    frames = moving(32, 32, 5)
    assert (encode_m1v(frames, gop_size=3)
            == encode_m1v(frames, gop_size=3))


def test_p_odd_dimensions():
    frames = moving(23, 41, 5)
    data = encode_m1v(frames, qscale=2, gop_size=5)
    got = dict(decode_m1v_frames(data))
    for i, dec in got.items():
        assert dec.shape == (23, 41, 3)
        assert psnr(frames[i], dec) >= 27.0


def test_p_mutation_fuzz_never_hangs_or_segfaults():
    frames = moving(16, 24, 5)
    data = bytearray(encode_m1v(frames, qscale=2, gop_size=3))
    rng = np.random.default_rng(43)
    for _ in range(200):
        mut = bytearray(data)
        for _ in range(rng.integers(1, 4)):
            mut[rng.integers(0, len(mut))] = rng.integers(0, 256)
        try:
            for _idx, frame in decode_m1v_frames(bytes(mut)):
                assert frame.ndim == 3
        except (ValueError, IndexError):
            pass


# --- motion VLC tables and components ---------------------------------


def test_mv_cbp_mbtype_tables_prefix_free():
    _assert_prefix_free(M._MV_DEC)
    _assert_prefix_free(M._CBP_DEC)
    _assert_prefix_free(M._P_MBTYPE_DEC)
    _assert_prefix_free(M._B_MBTYPE_DEC)


# --- B-pictures: bidirectional motion compensation ---------------------


def _wire_pictures(data):
    """(picture_coding_type, temporal_reference) per picture, in
    bitstream order."""
    out = []
    i = data.find(b"\x00\x00\x01\x00")
    while i != -1:
        r = M._BitReader(data, i + 4)
        tref = r.read(10)
        out.append((r.read(3), tref))
        i = data.find(b"\x00\x00\x01\x00", i + 4)
    return out


def test_b_coding_order_and_temporal_reference():
    # display: I0 B1 B2 P3 B4 B5 P6 → wire: I0 P3 B1 B2 P6 B4 B5
    data = encode_m1v(moving(16, 16, 7), qscale=2, gop_size=7,
                      b_frames=2)
    assert _wire_pictures(data) == [
        (1, 0), (2, 3), (3, 1), (3, 2), (2, 6), (3, 4), (3, 5),
    ]


def test_b_last_frame_forced_reference():
    # 8 frames, refs every 3 → display I0 B1 B2 P3 B4 B5 P6 P7
    # (frame 7 forced to P so no B dangles without a backward ref)
    data = encode_m1v(moving(16, 16, 8), qscale=2, gop_size=8,
                      b_frames=2)
    assert [t for t, _ in _wire_pictures(data)] == [1, 2, 3, 3, 2, 3, 3, 2]
    assert [tr for _, tr in _wire_pictures(data)] == [0, 3, 1, 2, 6, 4, 5, 7]


def test_b_roundtrip_quality():
    frames = moving(32, 48, 9)
    data = encode_m1v(frames, qscale=2, gop_size=9, b_frames=2)
    got = dict(decode_m1v_frames(data))
    assert sorted(got) == list(range(9))
    for i, dec in got.items():
        assert psnr(frames[i], dec) >= 28.0, i


def test_b_requires_gop_size():
    with pytest.raises(ValueError, match="b_frames requires gop_size"):
        encode_m1v(moving(16, 16, 3), b_frames=1)


def test_b_static_flat_scene_exact():
    """Flat frames reconstruct exactly at the I-picture; every B
    residual is zero, interior B macroblocks SKIP (repeating the prior
    macroblock's interpolated prediction) and decode is bit-exact."""
    f = np.full((32, 48, 3), 93, np.uint8)
    data = encode_m1v([f] * 7, qscale=2, gop_size=7, b_frames=2)
    got = dict(decode_m1v_frames(data))
    for t in range(7):
        assert np.array_equal(got[t], f), t
    # the skips must actually happen: smaller than the all-I form even
    # though per-picture headers dominate at this tiny flat-scene size
    assert len(data) < len(encode_m1v([f] * 7, qscale=2)) * 0.8


def test_b_dependency_chain_sampling_matches_full():
    """Sparse sampling decodes exactly the needed chain — a sampled B
    pulls in its two surrounding references; results are bit-identical
    to the dense decode at every display index."""
    frames = moving(32, 48, 10)
    data = encode_m1v(frames, qscale=2, gop_size=5, b_frames=1)
    full = dict(decode_m1v_frames(data, every_n=1))
    assert sorted(full) == list(range(10))
    for every_n in (2, 3, 4, 5):
        part = dict(decode_m1v_frames(data, every_n=every_n))
        assert sorted(part) == list(range(0, 10, every_n)), every_n
        for i in part:
            assert np.array_equal(part[i], full[i]), (every_n, i)


def test_b_between_p_and_i_uses_both():
    """gop_size not a multiple of b_frames+1 → a B lands between the
    last P of one GOP segment and the next I; its backward reference
    is the I, its forward reference the P (the chain logic must add
    the P explicitly — walking back from the I finds nothing)."""
    frames = moving(32, 32, 8)
    # refs: I0 P2 I4(=gop) P6 P7; Bs at 1,3,5 — B3 has fwd=P2, bwd=I4
    data = encode_m1v(frames, qscale=2, gop_size=4, b_frames=1)
    full = dict(decode_m1v_frames(data))
    got = dict(decode_m1v_frames(data, every_n=3))  # samples 0, 3, 6
    assert sorted(got) == [0, 3, 6]
    for i in got:
        assert np.array_equal(got[i], full[i]), i


def test_b_scene_cut_intra_fallback():
    a = smooth(32, 32, seed=21)
    b = 255 - smooth(32, 32, seed=22)[::-1]
    frames = [a, a.copy(), b.copy(), b.copy(), b.copy()]
    data = encode_m1v(frames, qscale=2, gop_size=5, b_frames=1)
    got = dict(decode_m1v_frames(data))
    for i in range(5):
        assert psnr(frames[i], got[i]) >= 28.0, i


def test_b_deterministic_encode():
    frames = moving(32, 32, 6)
    assert (encode_m1v(frames, gop_size=6, b_frames=2)
            == encode_m1v(frames, gop_size=6, b_frames=2))


def test_b_mutation_fuzz_never_hangs_or_segfaults():
    frames = moving(16, 24, 6)
    data = bytearray(encode_m1v(frames, qscale=2, gop_size=6,
                                b_frames=2))
    rng = np.random.default_rng(47)
    for _ in range(200):
        mut = bytearray(data)
        for _ in range(rng.integers(1, 4)):
            mut[rng.integers(0, len(mut))] = rng.integers(0, 256)
        try:
            for _idx, frame in decode_m1v_frames(bytes(mut)):
                assert frame.ndim == 3
        except (ValueError, IndexError):
            pass


def test_mv_table_cross_checks_mba_table():
    """Table B.4 splits Table B.1's bit space exactly: MV code k with
    sign bit s occupies the code of MBA 2k+1-s."""
    for k in range(1, 17):
        code, n = M._MV_TABLE[k]
        assert M._MBA_TABLE[2 * k + 1] == ((code << 1) | 0, n + 1)
        assert M._MBA_TABLE[2 * k] == ((code << 1) | 1, n + 1)


def test_motion_component_roundtrip_f1():
    w = M._BitWriter()
    deltas = list(range(-16, 16))
    for d in deltas:
        M._write_mv(w, d)
    w.align()
    r = M._BitReader(w.bytes(), 0)
    for d in deltas:
        assert M._read_motion_component(r, 0, 1) == d


def test_motion_component_wraparound():
    # predictor 15, delta +2 → 17 wraps to -15 (range [-16, 15])
    w = M._BitWriter()
    M._write_mv(w, 2)
    w.align()
    r = M._BitReader(w.bytes(), 0)
    assert M._read_motion_component(r, 15, 1) == -15


def test_cbp_table_roundtrip():
    w = M._BitWriter()
    for cbp in range(1, 64):
        code, n = M._CBP_TABLE[cbp]
        w.write(code, n)
    w.align()
    r = M._BitReader(w.bytes(), 0)
    for cbp in range(1, 64):
        assert r.read_vlc(M._CBP_DEC, "cbp", max_bits=9) == cbp


# --- foreign-feature P streams (hand-built via the module's writer) ---


def _hand_p_stream(ref_rgb, header_bits, mb_motion_bits):
    """I-picture of ``ref_rgb`` (32x32, 2x2 macroblocks) + a
    hand-written P-picture of four MC-not-coded macroblocks in two
    slices; ``header_bits(w)`` writes full_pel+f_code,
    ``mb_motion_bits(w, mb)`` writes each MB's two motion
    components."""
    head = encode_m1v([ref_rgb], qscale=2)
    assert head.endswith(b"\x00\x00\x01\xb7")
    body = bytearray(head[:-4])
    pw = M._BitWriter()
    pw.write(1, 10)  # temporal_reference
    pw.write(2, 3)  # P
    pw.write(0xFFFF, 16)
    header_bits(pw)
    pw.write(0, 1)  # extra_bit_picture
    pw.align()
    body += b"\x00\x00\x01\x00" + pw.bytes()
    for row in range(2):
        sw = M._BitWriter()
        sw.write(2, 5)  # quantizer_scale
        sw.write(0, 1)
        for col in range(2):
            sw.write(1, 1)  # address increment 1
            code, n, _f = M._P_MBTYPE["mc"]
            sw.write(code, n)
            mb_motion_bits(sw, row * 2 + col)
        sw.align()
        body += b"\x00\x00\x01" + bytes([row + 1]) + sw.bytes()
    body += b"\x00\x00\x01\xb7"
    return bytes(body)


def _assert_mb0_shifted_by_2(data):
    """Decode the hand stream: MB0 carries a (+4,+4) half-pel luma MV
    (2 full pel; chroma +1 full pel) and MBs 1-3 carry MV 0.  Both
    planes shift by an even amount, so in RGB the MB0 region is
    exactly the reference translated by 2 pels; the rest is a copy."""
    got = dict(decode_m1v_frames(data))
    base, cur = got[0], got[1]
    assert np.array_equal(cur[:16, :16], base[2:18, 2:18])
    assert np.array_equal(cur[:16, 16:], base[:16, 16:])
    assert np.array_equal(cur[16:, :], base[16:, :])


def test_foreign_f_code_2_with_residual():
    """forward_f_code=2 (f=2): motion_code 2 + residual 1 → delta
    (|2|-1)*2 + 1 + 1 = +4 half-pel = two full pels down-right; the
    other MBs return to 0 via motion_code -2 + residual 1."""
    ref = smooth(32, 32, seed=21)

    def header(w):
        w.write(0, 1)  # full_pel_forward_vector
        w.write(2, 3)  # forward_f_code = 2

    def motion(w, mb):
        # per-component delta: MB0 +4, MB1 -4 (pmv back to 0), rest 0
        for _ in range(2):
            if mb == 0:
                c, n = M._MV_TABLE[2]
                w.write(c, n)
                w.write(0, 1)  # positive
                w.write(1, 1)  # motion_residual
            elif mb == 1:
                c, n = M._MV_TABLE[2]
                w.write(c, n)
                w.write(1, 1)  # negative
                w.write(1, 1)
            else:
                c, n = M._MV_TABLE[0]
                w.write(c, n)  # motion_code 0: no sign, no residual
    _assert_mb0_shifted_by_2(_hand_p_stream(ref, header, motion))


def test_foreign_full_pel_vector():
    """full_pel_forward_vector=1 at f_code=1: motion_code +2 → pmv 2,
    doubled to 4 half-pel = two full pels down-right."""
    ref = smooth(32, 32, seed=22)

    def header(w):
        w.write(1, 1)  # full_pel_forward_vector = 1
        w.write(1, 3)  # forward_f_code = 1

    def motion(w, mb):
        for _ in range(2):
            if mb == 0:
                c, n = M._MV_TABLE[2]
                w.write(c, n)
                w.write(0, 1)
            elif mb == 1:
                c, n = M._MV_TABLE[2]
                w.write(c, n)
                w.write(1, 1)
            else:
                c, n = M._MV_TABLE[0]
                w.write(c, n)
    _assert_mb0_shifted_by_2(_hand_p_stream(ref, header, motion))


# --- foreign-feature streams (hand-built via the module's writer) -----


def test_quantizer_update_macroblock():
    """macroblock_type '01' + new quantizer_scale, which our encoder
    never emits, must decode (foreign-encoder surface)."""
    f = np.full((16, 16, 3), 200, np.uint8)
    ref = encode_m1v([f], qscale=2)
    # rebuild the slice by hand: one MB, type '01', qscale 2
    w = M._BitWriter()
    w.write(31, 5)  # slice quantizer_scale (overridden per-MB)
    w.write(0, 1)
    w.write(1, 1)  # address increment 1
    w.write(0b01, 2)  # intra + quant
    w.write(2, 5)  # new quantizer_scale
    ycc = M.rgb_to_ycbcr(f.astype(np.uint8))
    dcs = {"y": round(ycc[0, 0, 0]), "cb": round(ycc[0, 0, 1]),
           "cr": round(ycc[0, 0, 2])}
    preds = {"y": 128, "cb": 128, "cr": 128}
    for comp in ("y", "y", "y", "y", "cb", "cr"):
        table = M._DC_LUMA if comp == "y" else M._DC_CHROMA
        M._write_dc(w, dcs[comp] - preds[comp], table)
        preds[comp] = dcs[comp]
        w.write(M._EOB[0], M._EOB[1])
    w.align()
    hand = (ref[: ref.find(b"\x00\x00\x01\x01")]
            + b"\x00\x00\x01\x01" + w.bytes() + b"\x00\x00\x01\xb7")
    (_, dec), = decode_m1v_frames(hand)
    assert psnr(f, dec) >= 40.0


def test_zero_stuffing_before_start_codes():
    f = smooth(16, 16, seed=6)
    data = encode_m1v([f], qscale=2)
    # insert zero-byte stuffing before every start code (legal filler)
    stuffed = data.replace(b"\x00\x00\x01", b"\x00\x00\x00\x00\x00\x01")
    (_, dec), = decode_m1v_frames(stuffed)
    assert psnr(f, dec) >= 33.0


def test_mba_stuffing_code_is_skipped():
    f = np.full((16, 16, 3), 150, np.uint8)
    ref = encode_m1v([f], qscale=2)
    head, slice_start = ref.split(b"\x00\x00\x01\x01", 1)
    # strip the trailing sequence_end_code BEFORE bit-copying: the
    # 11-bit stuffing insert would shift it off byte alignment
    assert slice_start.endswith(b"\x00\x00\x01\xb7")
    slice_start = slice_start[:-4]
    r = M._BitReader(slice_start, 0)
    q = r.read(5)
    eb = r.read(1)
    w = M._BitWriter()
    w.write(q, 5)
    w.write(eb, 1)
    w.write(M._MBA_DEC and 0b00000001111, 11)  # macroblock_stuffing
    # copy the remaining slice bits verbatim
    rest_bits = (len(slice_start) - r.pos) * 8 - r.bit
    for _ in range(rest_bits):
        w.write(r.read(1), 1)
    w.align()
    hand = head + b"\x00\x00\x01\x01" + w.bytes()
    if not hand.endswith(b"\x00\x00\x01\xb7"):
        hand += b"\x00\x00\x01\xb7"
    (_, dec), = decode_m1v_frames(hand)
    assert np.array_equal(dec, np.full((16, 16, 3), 150, np.uint8)) or \
        psnr(f, dec) >= 40.0


# --- escape coefficient path ------------------------------------------


def test_escape_levels_roundtrip_through_writer():
    """All escape level magnitudes (1..255 both signs) survive the
    write→read cycle bit-exactly."""
    w = M._BitWriter()
    levels = [lv for lv in range(-255, 256)
              if lv != 0 and (63, abs(lv)) not in M._AC_TABLE]
    for lv in levels:
        M._write_ac(w, 63, lv)
    w.align()
    r = M._BitReader(w.bytes(), 0)
    for lv in levels:
        assert M._read_ac(r) == (63, lv)


def test_ac_vlc_roundtrip_all_table_entries():
    w = M._BitWriter()
    pairs = sorted(M._AC_TABLE)
    for run, level in pairs:
        M._write_ac(w, run, level)
        M._write_ac(w, run, -level)
    w.align()
    r = M._BitReader(w.bytes(), 0)
    for run, level in pairs:
        assert M._read_ac(r) == (run, level)
        assert M._read_ac(r) == (run, -level)


def test_dc_differential_roundtrip():
    w = M._BitWriter()
    diffs = list(range(-255, 256))
    for d in diffs:
        M._write_dc(w, d, M._DC_LUMA)
    w.align()
    r = M._BitReader(w.bytes(), 0)
    for d in diffs:
        assert M._read_dc(r, M._DC_LUMA_DEC) == d


# --- robustness -------------------------------------------------------


def test_truncated_stream_raises():
    data = encode_m1v([smooth(32, 32, seed=7)], qscale=2)
    with pytest.raises(ValueError):
        list(decode_m1v_frames(data[: len(data) * 2 // 3]))


def test_cut_inside_the_start_code_after_a_slice_is_truncation():
    """A stream cut inside the start code that ends a slice leaves only
    zero bytes after the slice's last macroblock: that is truncation,
    not a macroblock address made of zero bits."""
    data = encode_m1v(moving(24, 16, 5, step=1), qscale=4, gop_size=5,
                      b_frames=2)
    codes = []
    i = data.find(b"\x00\x00\x01")
    while i != -1:
        codes.append((i, data[i + 3]))
        i = data.find(b"\x00\x00\x01", i + 3)
    cuts = [
        i + k
        for (_, prev), (i, _) in zip(codes, codes[1:])
        if 0x01 <= prev <= 0xAF  # a slice start code
        for k in (1, 2)
    ]
    assert len(data) - 2 in cuts  # inside the sequence end code
    for cut in cuts:
        with pytest.raises(ValueError, match="mpeg1: truncated bitstream"):
            list(decode_m1v_frames(data[:cut]))


def test_mutation_fuzz_never_hangs_or_segfaults():
    f = smooth(16, 24, seed=8)
    data = bytearray(encode_m1v([f], qscale=2))
    rng = np.random.default_rng(42)
    for _ in range(200):
        mut = bytearray(data)
        for _ in range(rng.integers(1, 4)):
            mut[rng.integers(0, len(mut))] = rng.integers(0, 256)
        try:
            for _idx, frame in decode_m1v_frames(bytes(mut)):
                assert frame.ndim == 3
        except (ValueError, IndexError):
            pass  # rejection is fine; crashes/hangs are not


def test_encoder_input_validation():
    with pytest.raises(ValueError):
        encode_m1v([])
    with pytest.raises(ValueError):
        encode_m1v([smooth(16, 16)], qscale=0)
    with pytest.raises(ValueError):
        encode_m1v([smooth(16, 16)], qscale=32)
    with pytest.raises(ValueError):
        encode_m1v([smooth(16, 16), smooth(32, 16)])


# --- foreign-feature B streams (hand-built via the module's writer) ----


def _hand_b_stream(a_rgb, b_rgb, header_bits, slice_writer, mbh=2):
    """Two I-pictures (the forward and backward references, encoded by
    the module) + a hand-written B-picture; ``header_bits(w)`` writes
    both full_pel+f_code pairs, ``slice_writer(w, row)`` writes one
    slice row's macroblock data."""
    head = encode_m1v([a_rgb, b_rgb], qscale=2)
    assert head.endswith(b"\x00\x00\x01\xb7")
    body = bytearray(head[:-4])
    pw = M._BitWriter()
    pw.write(2, 10)  # temporal_reference (display idx 2)
    pw.write(3, 3)  # B
    pw.write(0xFFFF, 16)
    header_bits(pw)
    pw.write(0, 1)  # extra_bit_picture
    pw.align()
    body += b"\x00\x00\x01\x00" + pw.bytes()
    for row in range(mbh):
        sw = M._BitWriter()
        sw.write(2, 5)  # quantizer_scale
        sw.write(0, 1)
        slice_writer(sw, row)
        sw.align()
        body += b"\x00\x00\x01" + bytes([row + 1]) + sw.bytes()
    body += b"\x00\x00\x01\xb7"
    return bytes(body)


def _two_ref_planes(data, w, h):
    """Integer reconstruction planes of the stream's two I-pictures."""
    pics = []
    code, pos = M._next_start_code(data, 0)
    while code != -1:
        if code == M._PIC:
            pics.append(pos)
        code, pos = M._next_start_code(data, pos)
    _, pa = M._decode_picture(data, pics[0], w, h)
    _, pb = M._decode_picture(data, pics[1], w, h)
    return pa, pb


def _rgb_of_planes(y, cb, cr, w, h):
    ry, rcb, rcr = (
        np.clip(np.rint(p), 0, 255).astype(np.int64) for p in (y, cb, cr)
    )
    cbf = np.repeat(np.repeat(rcb, 2, axis=0), 2, axis=1)
    crf = np.repeat(np.repeat(rcr, 2, axis=0), 2, axis=1)
    return M.ycbcr_to_rgb(
        np.stack([ry, cbf, crf], axis=-1).astype(np.float64)
    )[:h, :w]


def _expect_b(pa, pb, w, h, mb_modes):
    """Expected B frame built from the module's own block predictor:
    ``mb_modes[(row, col)] = (use_f, use_b, fy, fx, by, bx)``."""
    refs = (*pa, *pb)
    mbw, mbh = (w + 15) // 16, (h + 15) // 16
    y = np.zeros((mbh * 16, mbw * 16))
    cb = np.zeros((mbh * 8, mbw * 8))
    cr = np.zeros((mbh * 8, mbw * 8))
    for (row, col), (uf, ub, fy, fx, by_, bx_) in mb_modes.items():
        for b in range(6):
            pred = M._b_block_pred(refs, b, row, col, uf, ub, fy, fx, by_, bx_)
            M._mb_rec_view(y, cb, cr, b, row, col)[...] = pred
    return _rgb_of_planes(y, cb, cr, w, h)


def _mv0(w):
    c, n = M._MV_TABLE[0]
    w.write(c, n)


def test_b_foreign_modes_fwd_bwd_interp():
    """A hand-written B-picture mixing all three non-intra prediction
    modes at MV 0 (fwd copies the PAST reference, bwd the FUTURE one,
    interp their rounded average) — one macroblock each plus a fourth
    interp, decoded bit-exactly against the module's own predictor."""
    a = smooth(32, 32, seed=31)
    b = 255 - smooth(32, 32, seed=32)[::-1]

    def header(w):
        w.write(0, 1); w.write(1, 3)  # forward: full_pel 0, f 1
        w.write(0, 1); w.write(1, 3)  # backward

    modes = {}

    def slices(w, row):
        for col in range(2):
            mb = row * 2 + col
            w.write(1, 1)  # increment 1
            if mb == 0:  # forward, not coded
                c, n, _f = M._B_MBTYPE["fwd"]
                w.write(c, n); _mv0(w); _mv0(w)
                modes[(row, col)] = (1, 0, 0, 0, 0, 0)
            elif mb == 1:  # backward, not coded
                c, n, _f = M._B_MBTYPE["bwd"]
                w.write(c, n); _mv0(w); _mv0(w)
                modes[(row, col)] = (0, 1, 0, 0, 0, 0)
            else:  # interpolated, not coded
                c, n, _f = M._B_MBTYPE["interp"]
                w.write(c, n); _mv0(w); _mv0(w); _mv0(w); _mv0(w)
                modes[(row, col)] = (1, 1, 0, 0, 0, 0)

    data = _hand_b_stream(a, b, header, slices)
    got = dict(decode_m1v_frames(data))
    pa, pb = _two_ref_planes(data, 32, 32)
    assert np.array_equal(got[2], _expect_b(pa, pb, 32, 32, modes))
    assert np.array_equal(got[0][:16, :16], got[2][:16, :16])  # fwd MB
    assert np.array_equal(got[1][:16, 16:], got[2][:16, 16:])  # bwd MB


def test_b_foreign_backward_f_code_2():
    """backward_f_code=2 on the wire (our encoder always emits 1):
    motion_code 2 + residual 1 → recon +4 half-pel on the BACKWARD
    vector; the forward pair stays f_code 1."""
    a = smooth(32, 32, seed=33)
    b = smooth(32, 32, seed=34, shift=3)

    def header(w):
        w.write(0, 1); w.write(1, 3)
        w.write(0, 1); w.write(2, 3)  # backward_f_code = 2

    def wr_b_delta(w, code, sign, residual):
        c, n = M._MV_TABLE[code]
        w.write(c, n)
        w.write(sign, 1)
        w.write(residual, 1)

    modes = {}

    def slices(w, row):
        for col in range(2):
            mb = row * 2 + col
            w.write(1, 1)
            c, n, _f = M._B_MBTYPE["bwd"]
            w.write(c, n)
            if mb == 0:
                wr_b_delta(w, 2, 0, 1)  # +4
                wr_b_delta(w, 2, 0, 1)
                modes[(row, col)] = (0, 1, 0, 0, 4, 4)
            elif mb == 1:
                wr_b_delta(w, 2, 1, 1)  # -4: pmv back to 0
                wr_b_delta(w, 2, 1, 1)
                modes[(row, col)] = (0, 1, 0, 0, 0, 0)
            else:
                c0, n0 = M._MV_TABLE[0]
                w.write(c0, n0)  # motion_code 0: no sign/residual
                w.write(c0, n0)
                modes[(row, col)] = (0, 1, 0, 0, 0, 0)

    data = _hand_b_stream(a, b, header, slices)
    got = dict(decode_m1v_frames(data))
    pa, pb = _two_ref_planes(data, 32, 32)
    assert np.array_equal(got[2], _expect_b(pa, pb, 32, 32, modes))
    # MB0 really is the backward ref shifted by two full pels
    assert np.array_equal(got[2][:16, :16], got[1][2:18, 2:18])


def test_b_foreign_full_pel_backward():
    """full_pel_backward_vector=1: recon +2 doubles to 4 half-pel."""
    a = smooth(32, 32, seed=35)
    b = smooth(32, 32, seed=36, shift=5)

    def header(w):
        w.write(0, 1); w.write(1, 3)
        w.write(1, 1); w.write(1, 3)  # full_pel_backward = 1

    modes = {}

    def slices(w, row):
        for col in range(2):
            mb = row * 2 + col
            w.write(1, 1)
            c, n, _f = M._B_MBTYPE["bwd"]
            w.write(c, n)
            cc, nn = M._MV_TABLE[2]
            if mb == 0:
                w.write(cc, nn); w.write(0, 1)
                w.write(cc, nn); w.write(0, 1)
                modes[(row, col)] = (0, 1, 0, 0, 4, 4)
            elif mb == 1:
                w.write(cc, nn); w.write(1, 1)
                w.write(cc, nn); w.write(1, 1)
                modes[(row, col)] = (0, 1, 0, 0, 0, 0)
            else:
                _mv0(w); _mv0(w)
                modes[(row, col)] = (0, 1, 0, 0, 0, 0)

    data = _hand_b_stream(a, b, header, slices)
    got = dict(decode_m1v_frames(data))
    pa, pb = _two_ref_planes(data, 32, 32)
    assert np.array_equal(got[2], _expect_b(pa, pb, 32, 32, modes))


def test_b_foreign_pmv_persists_across_untransmitted_direction():
    """MB0 interp sets the forward predictor to +2; MB1 is
    backward-only (forward pair not on the wire — predictor must
    survive untouched); MB2 interp transmits forward delta 0 and must
    land back on +2."""
    a = smooth(32, 64, seed=37)  # 4x2 MBs: one slice of 4 wide rows? (h=32,w=64 → mbw 4, mbh 2)
    b = smooth(32, 64, seed=38, shift=4)

    def header(w):
        w.write(0, 1); w.write(1, 3)
        w.write(0, 1); w.write(1, 3)

    modes = {}
    c2, n2 = M._MV_TABLE[2]

    def slices(w, row):
        if row == 0:
            # MB0: interp, fwd +2/+2, bwd 0
            w.write(1, 1)
            c, n, _f = M._B_MBTYPE["interp"]
            w.write(c, n)
            w.write(c2, n2); w.write(0, 1)
            w.write(c2, n2); w.write(0, 1)
            _mv0(w); _mv0(w)
            modes[(0, 0)] = (1, 1, 2, 2, 0, 0)
            # MB1: backward-only, delta 0 — forward pmv untouched
            w.write(1, 1)
            c, n, _f = M._B_MBTYPE["bwd"]
            w.write(c, n); _mv0(w); _mv0(w)
            modes[(0, 1)] = (0, 1, 0, 0, 0, 0)
            # MB2: interp, fwd delta 0 → still +2/+2
            w.write(1, 1)
            c, n, _f = M._B_MBTYPE["interp"]
            w.write(c, n)
            _mv0(w); _mv0(w)
            _mv0(w); _mv0(w)
            modes[(0, 2)] = (1, 1, 2, 2, 0, 0)
            # MB3: forward-only, delta -2 → back to 0
            w.write(1, 1)
            c, n, _f = M._B_MBTYPE["fwd"]
            w.write(c, n)
            w.write(c2, n2); w.write(1, 1)
            w.write(c2, n2); w.write(1, 1)
            modes[(0, 3)] = (1, 0, 0, 0, 0, 0)
        else:
            for col in range(4):
                w.write(1, 1)
                c, n, _f = M._B_MBTYPE["fwd"]
                w.write(c, n); _mv0(w); _mv0(w)
                modes[(1, col)] = (1, 0, 0, 0, 0, 0)

    data = _hand_b_stream(a, b, header, slices)
    got = dict(decode_m1v_frames(data))
    pa, pb = _two_ref_planes(data, 64, 32)
    assert np.array_equal(got[2], _expect_b(pa, pb, 64, 32, modes))


def test_b_foreign_skip_repeats_previous_macroblock():
    """Skipped B macroblocks repeat the PREVIOUS macroblock's mode and
    vectors — NOT the co-located reference copy P-skips use.  MB0 is
    interp; MBs 1-2 are skipped (increment 3); MB3 is coded.  The
    skipped region must equal the interp prediction, which differs
    from both references."""
    a = np.full((16, 64, 3), 60, np.uint8)
    b = np.full((16, 64, 3), 200, np.uint8)

    def header(w):
        w.write(0, 1); w.write(1, 3)
        w.write(0, 1); w.write(1, 3)

    modes = {}

    def slices(w, row):
        # MB0: interp, MV 0
        w.write(1, 1)
        c, n, _f = M._B_MBTYPE["interp"]
        w.write(c, n)
        _mv0(w); _mv0(w); _mv0(w); _mv0(w)
        modes[(0, 0)] = (1, 1, 0, 0, 0, 0)
        # MBs 1-2 skipped → repeat interp; MB3 coded fwd-only
        inc_c, inc_n = M._MBA_TABLE[3]
        w.write(inc_c, inc_n)
        c, n, _f = M._B_MBTYPE["fwd"]
        w.write(c, n); _mv0(w); _mv0(w)
        modes[(0, 1)] = (1, 1, 0, 0, 0, 0)
        modes[(0, 2)] = (1, 1, 0, 0, 0, 0)
        modes[(0, 3)] = (1, 0, 0, 0, 0, 0)

    data = _hand_b_stream(a, b, header, slices, mbh=1)
    got = dict(decode_m1v_frames(data))
    pa, pb = _two_ref_planes(data, 64, 16)
    assert np.array_equal(got[2], _expect_b(pa, pb, 64, 16, modes))
    # the skipped MBs are neither reference
    mid = got[2][:, 16:48]
    assert not np.array_equal(mid, got[0][:, 16:48])
    assert not np.array_equal(mid, got[1][:, 16:48])
