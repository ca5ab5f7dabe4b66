"""MPEG-2 intra codec (sources/mpeg2.py): round-trips, the MPEG-2-vs-
MPEG-1 sniff, escape coding, and declared-scope rejections."""

import numpy as np
import pytest

from scrapelect_spark.sources.mpeg1 import is_m1v
from scrapelect_spark.sources.mpeg2 import (
    _dequant_intra2,
    _read_ac2,
    _write_ac2,
    decode_m2v_frames,
    encode_m2v,
    is_m2v,
    mpeg2_meta,
)
from scrapelect_spark.sources.mpeg1 import _BitReader, _BitWriter


def _frame(seed, h=32, w=48):
    base = np.zeros((h, w, 3), np.uint8)
    base[..., 0] = (np.arange(w)[None, :] * 3) % 256
    base[..., 1] = (np.arange(h)[:, None] * 5) % 256
    base[8:20, 10 + seed * 2 : 22 + seed * 2] = [200, 40, 90]
    return base


def _psnr(a, b):
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return 99.0 if mse == 0 else 10.0 * np.log10(255.0**2 / mse)


def test_roundtrip_and_sniff():
    frames = [_frame(s) for s in range(4)]
    blob = encode_m2v(frames, qscale=2)
    assert is_m2v(blob)
    assert is_m1v(blob)  # same start code: order of sniffing matters
    out = list(decode_m2v_frames(blob))
    assert [i for i, _ in out] == [0, 1, 2, 3]
    for (_, rgb), src in zip(out, frames):
        assert _psnr(rgb, src) >= 35.0


def test_non_multiple_of_16_dims():
    frames = [_frame(0, h=24, w=40)]
    blob = encode_m2v(frames, qscale=2)
    (idx, rgb), = list(decode_m2v_frames(blob))
    assert rgb.shape == (24, 40, 3)
    assert _psnr(rgb, frames[0]) >= 35.0


def test_sampling_skips_pictures():
    frames = [_frame(s) for s in range(6)]
    blob = encode_m2v(frames, qscale=4)
    out = list(decode_m2v_frames(blob, every_n=3))
    assert [i for i, _ in out] == [0, 3]


def test_meta():
    blob = encode_m2v([_frame(0)], fps=30, qscale=4)
    w, h, fps, pl, n = mpeg2_meta(blob)
    assert (w, h, n) == (48, 32, 1)
    assert pl == 0x48  # Main@Main
    assert abs(fps - 29.97) < 0.1


def test_mpeg1_stream_is_not_m2v():
    from scrapelect_spark.sources.mpeg1 import encode_m1v

    blob = encode_m1v([_frame(0)], qscale=4)
    assert is_m1v(blob) and not is_m2v(blob)
    with pytest.raises(ValueError, match="sequence_extension"):
        list(decode_m2v_frames(blob))


def test_escape_levels_roundtrip():
    # levels outside Table B.14 must take the 12-bit signed escape
    for level in (50, -50, 300, -300, 2047, -2047):
        bw = _BitWriter()
        _write_ac2(bw, 5, level)
        bw.align()
        r = _BitReader(bw.bytes(), 0)
        assert _read_ac2(r) == (5, level)


def test_forbidden_escape_levels():
    bw = _BitWriter()
    bw.write(0b000001, 6)  # ESCAPE
    bw.write(0, 6)
    bw.write(0x800, 12)  # -2048: forbidden
    bw.align()
    with pytest.raises(ValueError, match="forbidden"):
        _read_ac2(_BitReader(bw.bytes(), 0))


def test_mismatch_control_toggles_lsb():
    # an all-zero AC block with even DC sum gets F''[7][7] toggled
    zz = np.zeros(64, dtype=np.int64)
    zz[0] = 16  # DC recon 128 -> sum 128 even -> toggle
    out = _dequant_intra2(zz, 2)
    assert out[7, 7] == 1
    assert int(out.sum()) % 2 == 1


def test_p_picture_rejected():
    blob = bytearray(encode_m2v([_frame(0)], qscale=4))
    i = blob.find(b"\x00\x00\x01\x00")
    blob[i + 5] = (blob[i + 5] & 0b11000111) | (2 << 3)
    with pytest.raises(NotImplementedError, match="intra tier only"):
        list(decode_m2v_frames(bytes(blob)))


def test_frame_sample_dispatches_mpeg2(spark):
    import pandas as pd
    from scrapelect_spark.operators.multimodal import frame_sample
    from scrapelect_spark.sources.png import decode_png

    frames = [_frame(s) for s in range(4)]
    blob = encode_m2v(frames, qscale=2)
    video = spark.createDataFrame(
        pd.DataFrame({"video_id": ["1"], "bytes": [blob]})
    )
    rows = frame_sample(video, every_n=2).orderBy("frame_idx").collect()
    assert [r.frame_idx for r in rows] == [0, 2]
    assert all(r.decode_error is None for r in rows)
    for r in rows:
        got = decode_png(bytes(r.bytes))
        assert _psnr(got, frames[r.frame_idx]) >= 35.0
