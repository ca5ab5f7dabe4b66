"""H.264 I_PCM codec (sources/h264.py): round-trips, Annex-B framing
details, and the declared-scope rejections (hand-built streams, like
the GIF/BMP foreign-feature suites)."""

import numpy as np
import pytest

from scrapelect_spark.sources.h264 import (
    _BitWriter,
    _ebsp,
    _nal,
    _pps_rbsp,
    _rbsp,
    _rbsp_trailing,
    _sps_rbsp,
    decode_h264,
    encode_h264_ipcm,
    h264_meta,
    is_annexb,
)


def _mk(h, w, seed=0):
    rng = np.random.RandomState(seed)
    return (
        rng.randint(0, 256, (h, w), dtype=np.uint8),
        rng.randint(0, 256, (h // 2, w // 2), dtype=np.uint8),
        rng.randint(0, 256, (h // 2, w // 2), dtype=np.uint8),
    )


def test_roundtrip_exact16():
    frames = [_mk(32, 48, s) for s in range(3)]
    blob = encode_h264_ipcm(frames)
    assert is_annexb(blob)
    dec, meta = decode_h264(blob)
    assert meta == {
        "width": 48, "height": 32, "profile": 66, "n_pictures": 3,
    }
    for (fi, got), src in zip(dec, frames):
        for g, s in zip(got, src):
            assert np.array_equal(g, s)


def test_roundtrip_cropped_dims():
    # 40x24 -> 3x2 MB grid with frame_cropping in the SPS
    frames = [_mk(24, 40, 9)]
    blob = encode_h264_ipcm(frames)
    dec, meta = decode_h264(blob)
    assert (meta["width"], meta["height"]) == (40, 24)
    for g, s in zip(dec[0][1], frames[0]):
        assert np.array_equal(g, s)


def test_emulation_prevention_on_zero_runs():
    # all-zero PCM payload is wall-to-wall start-code emulations
    z = (
        np.zeros((16, 16), np.uint8),
        np.zeros((8, 8), np.uint8),
        np.zeros((8, 8), np.uint8),
    )
    blob = encode_h264_ipcm([z])
    assert b"\x00\x00\x03" in blob
    dec, _ = decode_h264(blob)
    for g, s in zip(dec[0][1], z):
        assert np.array_equal(g, s)


def test_ebsp_rbsp_inverse_includes_escaped_03():
    raw = bytes([0, 0, 0, 0, 1, 0, 0, 2, 0, 0, 3, 7, 255])
    assert _rbsp(_ebsp(raw)) == raw


def test_sampling_skips_non_sampled_idrs():
    frames = [_mk(16, 16, s) for s in range(5)]
    blob = encode_h264_ipcm(frames)
    dec, meta = decode_h264(blob, every_n=2)
    assert [fi for fi, _ in dec] == [0, 2, 4]
    assert meta["n_pictures"] == 5
    for fi, got in dec:
        for g, s in zip(got, frames[fi]):
            assert np.array_equal(g, s)


def test_meta_scan():
    blob = encode_h264_ipcm([_mk(48, 64, 1), _mk(48, 64, 2)])
    m = h264_meta(blob)
    assert m["width"] == 64 and m["height"] == 48
    assert m["n_pictures"] == 2 and m["n_idr"] == 2
    assert m["profile"] == 66 and m["level"] == 20


def test_sei_and_aud_are_skipped():
    blob = encode_h264_ipcm([_mk(16, 16, 3)])
    # splice an SEI (type 6) and an AUD (type 9) before the IDR
    sei = _nal(0, 6, bytes([0x05, 0x01, 0xAA, 0x80]))
    aud = _nal(0, 9, bytes([0x10 | 0x80]))
    first_idr = blob.index(b"\x00\x00\x00\x01\x65")
    spliced = blob[:first_idr] + sei + aud + blob[first_idr:]
    dec, meta = decode_h264(spliced)
    assert meta["n_pictures"] == 1 and len(dec) == 1


def _sps_pps_prefix(w=16, h=16):
    return _nal(3, 7, _sps_rbsp(w, h)) + _nal(3, 8, _pps_rbsp())


def _idr_with_mb_type(mb_type: int) -> bytes:
    bw = _BitWriter()
    bw.ue(0)   # first_mb_in_slice
    bw.ue(7)   # slice_type I
    bw.ue(0)   # pps id
    bw.write(0, 4)  # frame_num
    bw.ue(0)   # idr_pic_id
    bw.write(0, 1)
    bw.write(0, 1)
    bw.se(0)   # slice_qp_delta
    bw.ue(1)   # disable deblocking
    bw.ue(mb_type)
    _rbsp_trailing(bw)
    return _sps_pps_prefix() + _nal(3, 5, bw.bytes())


def test_transform_coded_mb_rejected():
    with pytest.raises(NotImplementedError, match="I_PCM only"):
        decode_h264(_idr_with_mb_type(0))  # I_4x4


def test_p_slice_rejected():
    bw = _BitWriter()
    bw.ue(0)
    bw.ue(5)  # slice_type P (all-P pic)
    bw.ue(0)
    bw.write(0, 4)
    bw.ue(0)
    _rbsp_trailing(bw)
    blob = _sps_pps_prefix() + _nal(3, 5, bw.bytes())
    with pytest.raises(NotImplementedError, match="P/B slice"):
        decode_h264(blob)


def test_cabac_pps_rejected():
    bw = _BitWriter()
    bw.ue(0)
    bw.ue(0)
    bw.write(1, 1)  # entropy_coding_mode_flag: CABAC
    bw.write(0, 1)
    bw.ue(0)
    bw.ue(0)
    bw.ue(0)
    bw.write(0, 1)
    bw.write(0, 2)
    bw.se(0)
    bw.se(0)
    bw.se(0)
    bw.write(1, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    _rbsp_trailing(bw)
    blob = _nal(3, 7, _sps_rbsp(16, 16)) + _nal(3, 8, bw.bytes())
    with pytest.raises(NotImplementedError, match="CABAC"):
        decode_h264(blob)


def test_high_profile_sps_rejected():
    sps = bytearray(_sps_rbsp(16, 16))
    sps[0] = 100  # High profile: SPS grammar diverges right after
    blob = _nal(3, 7, bytes(sps))
    with pytest.raises(NotImplementedError, match="High-family"):
        h264_meta(blob)


def test_truncated_pcm_raises():
    blob = encode_h264_ipcm([_mk(16, 16, 4)])
    with pytest.raises(ValueError, match="truncated"):
        decode_h264(blob[:-40])


def test_no_start_codes_raises():
    with pytest.raises(ValueError, match="start code"):
        decode_h264(b"\x12\x34\x56\x78" * 8)


def test_slice_before_sps_raises():
    blob = encode_h264_ipcm([_mk(16, 16, 5)])
    idr = blob.index(b"\x00\x00\x00\x01\x65")
    with pytest.raises(ValueError, match="before SPS"):
        decode_h264(blob[idr:])


def test_odd_dims_rejected_by_encoder():
    y = np.zeros((15, 16), np.uint8)
    with pytest.raises(ValueError, match="even"):
        encode_h264_ipcm([(y, np.zeros((7, 8), np.uint8),
                           np.zeros((7, 8), np.uint8))])
