"""GIF codec tests (sources/gif.py).

The encoder emits a subset (global palette, non-interlaced, full-frame
images), so decoder-only surfaces — interlace, local color tables,
transparency, disposal methods, sub-rectangle frames, the LZW KwKwK
case — are exercised with hand-built streams whose expected pixels are
computed independently."""

import struct

import numpy as np
import pytest

from scrapelect_spark.sources.gif import (
    _lzw_decode,
    _lzw_encode,
    decode_gif,
    encode_gif,
)

RNG = np.random.default_rng(11)


# ------------------------------------------------------------- roundtrips


@pytest.mark.parametrize("shape,ncolors", [
    ((45, 63), 37), ((16, 16), 2), ((16, 16), 256), ((1, 1), 1),
    ((200, 300), 37), ((7, 5), 5),
])
def test_roundtrip_exact(shape, ncolors):
    pal = RNG.integers(0, 256, (ncolors, 3), dtype=np.uint8)
    img = pal[RNG.integers(0, ncolors, shape)]
    frames, _ = decode_gif(encode_gif(img))
    assert len(frames) == 1
    assert np.array_equal(frames[0], img)


def test_animation_roundtrip_with_delays():
    pal = RNG.integers(0, 256, (19, 3), dtype=np.uint8)
    anim = [pal[RNG.integers(0, 19, (20, 30))] for _ in range(5)]
    frames, delays = decode_gif(encode_gif(anim, delays_cs=[10, 0, 30, 2, 50]))
    assert len(frames) == 5
    assert all(np.array_equal(a, b) for a, b in zip(frames, anim))
    assert delays == [10, 0, 30, 2, 50]


def test_too_many_colors_rejected():
    img = RNG.integers(0, 256, (32, 32, 3), dtype=np.uint8)  # ~1024 colors
    with pytest.raises(ValueError, match="unique colors"):
        encode_gif(img)


def test_max_frames_cap():
    pal = RNG.integers(0, 256, (4, 3), dtype=np.uint8)
    anim = [pal[RNG.integers(0, 4, (8, 8))] for _ in range(6)]
    frames, _ = decode_gif(encode_gif(anim), max_frames=2)
    assert len(frames) == 2


# ------------------------------------------------------------------ LZW


def test_lzw_roundtrip_and_kwkwk():
    # KwKwK: a run like [0,0,0,...] forces code == len(table) on decode
    for seq in ([0, 0, 0, 0, 0], [1, 1, 2, 2, 2, 1, 1, 1],
                list(RNG.integers(0, 4, 5000))):
        enc = _lzw_encode(2, list(map(int, seq)))
        dec = _lzw_decode(2, enc, len(seq))
        assert dec[: len(seq)] == list(map(int, seq))


def test_lzw_invalid_code_raises():
    # code far beyond the table with no prefix context
    # width 3 initially (min 2): craft bits = code 6 (eoi+... invalid early)
    with pytest.raises(ValueError, match="invalid LZW"):
        _lzw_decode(2, bytes([0b00000110]), 100)  # code 6 first, table has 4+2


# -------------------------------------------------- hand-built features


def _screen(w, h, gct, bg=0):
    depth = max(1, (len(gct) - 1).bit_length())
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (depth - 1), bg, 0)
    table = np.zeros((1 << depth, 3), dtype=np.uint8)
    table[: len(gct)] = gct
    out += table.tobytes()
    return out, depth


def _image_block(idx, ix, iy, interlace=False, lct=None):
    h, w = idx.shape
    packed = 0x40 if interlace else 0
    out = bytearray(b"\x2c")
    if lct is not None:
        depth = max(1, (len(lct) - 1).bit_length())
        packed |= 0x80 | (depth - 1)
        out += struct.pack("<HHHHB", ix, iy, w, h, packed)
        table = np.zeros((1 << depth, 3), dtype=np.uint8)
        table[: len(lct)] = lct
        out += table.tobytes()
    else:
        out += struct.pack("<HHHHB", ix, iy, w, h, packed)
    min_code = 2
    rows = idx
    if interlace:
        hh = idx.shape[0]
        order = (list(range(0, hh, 8)) + list(range(4, hh, 8))
                 + list(range(2, hh, 4)) + list(range(1, hh, 2)))
        rows = idx[order]  # stream carries pass-ordered rows
    out.append(min_code)
    lzw = _lzw_encode(min_code, [int(v) for v in rows.reshape(-1)])
    for i in range(0, len(lzw), 255):
        out.append(len(lzw[i:i + 255]))
        out += lzw[i:i + 255]
    out.append(0)
    return out


def _gce(disposal=0, delay=0, transparent=None):
    flags = (disposal & 7) << 2 | (1 if transparent is not None else 0)
    return b"\x21\xf9\x04" + struct.pack(
        "<BHB", flags, delay, transparent or 0
    ) + b"\x00"


def test_interlaced_image():
    gct = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], np.uint8)
    idx = RNG.integers(0, 4, (16, 9))
    out, _ = _screen(9, 16, gct)
    out += _image_block(idx, 0, 0, interlace=True)
    out += b"\x3b"
    frames, _ = decode_gif(bytes(out))
    assert np.array_equal(frames[0], gct[idx])


def test_local_color_table_overrides_global():
    gct = np.array([[0, 0, 0], [255, 255, 255]], np.uint8)
    lct = np.array([[10, 20, 30], [40, 50, 60]], np.uint8)
    idx = np.array([[0, 1], [1, 0]])
    out, _ = _screen(2, 2, gct)
    out += _image_block(idx, 0, 0, lct=lct)
    out += b"\x3b"
    frames, _ = decode_gif(bytes(out))
    assert np.array_equal(frames[0], lct[idx])


def test_transparency_and_subrect_composite():
    """Frame 2 is a 2x2 patch at (1,1) with a transparent index — the
    composite keeps frame 1's pixels under transparent cells."""
    gct = np.array([[9, 9, 9], [255, 0, 0], [0, 255, 0], [7, 7, 7]], np.uint8)
    base = np.zeros((4, 4), dtype=int)  # all color 0
    patch = np.array([[1, 3], [3, 2]])  # 3 = transparent
    out, _ = _screen(4, 4, gct)
    out += _image_block(base, 0, 0)
    out += _gce(transparent=3)
    out += _image_block(patch, 1, 1)
    out += b"\x3b"
    frames, _ = decode_gif(bytes(out))
    assert len(frames) == 2
    expect = gct[base].copy()
    expect[1, 1] = gct[1]
    expect[2, 2] = gct[2]
    # transparent cells (1,2) and (2,1) keep frame-1 pixels
    assert np.array_equal(frames[1], expect)


def test_disposal_restore_background():
    gct = np.array([[5, 5, 5], [200, 0, 0]], np.uint8)
    out, _ = _screen(3, 3, gct, bg=0)
    out += _gce(disposal=2)
    out += _image_block(np.ones((1, 1), dtype=int), 1, 1)
    out += _image_block(np.zeros((1, 1), dtype=int), 0, 0)
    out += b"\x3b"
    frames, _ = decode_gif(bytes(out))
    # frame 1: red pixel at (1,1); frame 2: it was restored to bg
    assert tuple(frames[0][1, 1]) == (200, 0, 0)
    assert tuple(frames[1][1, 1]) == (5, 5, 5)


def test_disposal_restore_previous():
    gct = np.array([[5, 5, 5], [200, 0, 0], [0, 200, 0]], np.uint8)
    out, _ = _screen(3, 1, gct, bg=0)
    out += _image_block(np.array([[1, 1, 1]]), 0, 0)  # all red
    out += _gce(disposal=3)
    out += _image_block(np.array([[2]]), 1, 0)  # green patch
    out += _image_block(np.array([[0]]), 2, 0)  # unrelated patch
    out += b"\x3b"
    frames, _ = decode_gif(bytes(out))
    assert tuple(frames[1][0, 1]) == (0, 200, 0)  # patch visible
    assert tuple(frames[2][0, 1]) == (200, 0, 0)  # restored to previous
    assert tuple(frames[2][0, 2]) == (5, 5, 5)


def test_comment_and_app_extensions_skipped():
    gct = np.array([[0, 0, 0], [1, 2, 3]], np.uint8)
    idx = np.array([[1]])
    out, _ = _screen(1, 1, gct)
    out += b"\x21\xfe\x05hello\x00"  # comment
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"  # app
    out += _image_block(idx, 0, 0)
    out += b"\x3b"
    frames, _ = decode_gif(bytes(out))
    assert np.array_equal(frames[0], gct[idx])


# --------------------------------------------------------------- errors


def test_not_a_gif():
    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"PNG\x00" + b"\x00" * 40)


def test_oversized_dimensions_rejected():
    hdr = b"GIF89a" + struct.pack("<HHBBB", 60000, 60000, 0, 0, 0) + b"\x3b"
    with pytest.raises(ValueError, match="too large"):
        decode_gif(hdr)


def test_descriptor_outside_screen_rejected():
    gct = np.array([[0, 0, 0], [1, 1, 1]], np.uint8)
    out, _ = _screen(2, 2, gct)
    out += _image_block(np.array([[1]]), 5, 0)
    out += b"\x3b"
    with pytest.raises(ValueError, match="outside"):
        decode_gif(bytes(out))


def test_mutation_fuzz_never_hangs_or_miscrashes():
    pal = RNG.integers(0, 256, (16, 3), dtype=np.uint8)
    anim = [pal[RNG.integers(0, 16, (12, 17))] for _ in range(3)]
    blob = encode_gif(anim, delays_cs=5)
    rng = np.random.default_rng(3)
    for _ in range(300):
        b = bytearray(blob)
        i = int(rng.integers(0, len(b)))
        b[i] ^= int(rng.integers(1, 256))
        try:
            decode_gif(bytes(b))
        except (ValueError, struct.error, IndexError):
            pass


# --------------------------------------------- frame_sample integration


def test_frame_sample_over_animated_gif(spark):
    """The frame_sample operator accepts animated GIF payloads next to
    MJPEG-AVI: every_n-th composite frame out, pixels PNG-lossless."""
    import pandas as pd
    from scrapelect_spark.operators.multimodal import frame_sample
    from scrapelect_spark.sources.png import decode_png

    pal = RNG.integers(0, 256, (9, 3), dtype=np.uint8)
    anim = [pal[RNG.integers(0, 9, (10, 14))] for _ in range(7)]
    blob = encode_gif(anim, delays_cs=4)
    video = spark.createDataFrame(
        pd.DataFrame({"video_id": ["g1"], "bytes": [blob]})
    )
    rows = frame_sample(video, every_n=3).collect()
    assert [r.frame_idx for r in rows] == [0, 3, 6]
    assert all(r.decode_error is None for r in rows)
    for r in rows:
        assert np.array_equal(decode_png(bytes(r.bytes)), anim[r.frame_idx])
        assert (r.h, r.w) == (10, 14)


def test_iter_gif_frames_is_lazy():
    """frame_sample's GIF path must not materialize all composites:
    iter_gif_frames yields one frame at a time (ADVICE r4 item #3)."""
    import itertools

    from scrapelect_spark.sources.gif import iter_gif_frames

    pal = RNG.integers(0, 256, (4, 3), dtype=np.uint8)
    anim = [pal[RNG.integers(0, 4, (6, 6))] for _ in range(30)]
    blob = encode_gif(anim)
    it = iter_gif_frames(blob)
    assert iter(it) is it  # a real generator, not a list
    first = list(itertools.islice(it, 2))
    assert len(first) == 2
    assert np.array_equal(first[0][0], anim[0])
    it.close()  # abandoning mid-stream is fine


def test_frame_sample_caps_hostile_frame_count(spark):
    """Animations longer than MAX_SCAN_FRAMES are truncated, not an
    unbounded decode loop."""
    import pandas as pd

    from scrapelect_spark.operators import multimodal
    from scrapelect_spark.operators.multimodal import frame_sample

    pal = RNG.integers(0, 256, (4, 3), dtype=np.uint8)
    anim = [pal[RNG.integers(0, 4, (4, 4))] for _ in range(9)]
    blob = encode_gif(anim)
    video = spark.createDataFrame(
        pd.DataFrame({"video_id": ["g"], "bytes": [blob]})
    )
    old = multimodal.MAX_SCAN_FRAMES
    multimodal.MAX_SCAN_FRAMES = 5
    try:
        rows = frame_sample(video, every_n=2).collect()
    finally:
        multimodal.MAX_SCAN_FRAMES = old
    assert sorted(r.frame_idx for r in rows) == [0, 2, 4]


def test_frame_sample_gif_error_capture(spark):
    import pandas as pd
    from scrapelect_spark.operators.multimodal import frame_sample

    video = spark.createDataFrame(
        pd.DataFrame({"video_id": ["bad"], "bytes": [b"GIF89a\x00\x01"]})
    )
    rows = frame_sample(video).collect()
    assert len(rows) == 1 and rows[0].decode_error is not None


def test_frame_sample_truncated_gif_keeps_decoded_frames(spark):
    """A GIF cut short yields the frames decoded before the cut, then
    exactly one decode_error row: frame_sample catches inside its row
    kernel, where map_rows's error fallback would drop the frames."""
    import pandas as pd
    from scrapelect_spark.operators.multimodal import frame_sample
    from scrapelect_spark.sources.png import decode_png

    levels = np.array([0, 85, 170, 255], dtype=np.uint8)  # 64 colors
    rng = np.random.default_rng(3)
    anim = [levels[rng.integers(0, 4, (16, 16, 3))] for _ in range(3)]
    blob = encode_gif(anim)
    video = spark.createDataFrame(
        pd.DataFrame({"video_id": ["t"], "bytes": [blob[: 2 * len(blob) // 3]]})
    )
    rows = frame_sample(video, every_n=1).collect()
    frames, errors = rows[:-1], rows[-1:]
    assert frames and [r.frame_idx for r in frames] == list(range(len(frames)))
    assert len(frames) < len(anim)
    for r in frames:
        assert r.decode_error is None
        assert np.array_equal(decode_png(bytes(r.bytes)), anim[r.frame_idx])
    assert [(r.video_id, r.frame_idx, r.bytes) for r in errors] == [("t", None, None)]
    assert errors[0].decode_error
