"""The container layers: TIFF IFDs (sources/tiff.py) and RIFF chunks
(sources/riff.py) on their own, the shared WAV reader's error
contract on short and cut files, and a guard that keeps the codecs
from framing chunks or unpacking IFD entries on their own again."""

import ast
import glob
import os
import struct

import numpy as np
import pytest

from scrapelect_spark.sources import riff as R
from scrapelect_spark.sources import tiff as T
from scrapelect_spark.sources.adpcm import decode_wav_ima, encode_wav_ima
from scrapelect_spark.sources.avi import encode_avi_mjpeg
from scrapelect_spark.sources.g711 import decode_wav_g711, encode_ulaw, encode_wav_g711

from test_container_digests import RATE, _image, _sine, _stereo

SOURCES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scrapelect_spark",
    "sources",
)


# --- the layers on their own ----------------------------------------------


@pytest.mark.parametrize("byte_order", ["II", "MM"])
def test_ifd_write_read_roundtrip(byte_order):
    bo = "<" if byte_order == "II" else ">"
    entries = [
        (0x0100, 3, 1, struct.pack(bo + "H", 7)),
        (0x0102, 3, 3, struct.pack(bo + "3H", 8, 8, 8)),  # overflows
        (0x010F, 2, 4, b"abc\x00"),  # exactly inline
        (0x0111, 4, 2, struct.pack(bo + "2I", 1, 2)),
        (0x011A, 5, 1, struct.pack(bo + "II", 72, 1)),
    ]
    base = 8
    blob = T.write_header(byte_order) + T.write_ifd(entries[::-1], bo, base)
    assert len(blob) == base + T.ifd_size(entries)
    assert T.read_header(blob, "tiff") == (bo, base)
    got, nxt = T.read_ifd(blob, base, bo, (2, 3, 4, 5), "tiff", 16)
    assert got == entries and nxt == 0
    # a type the caller does not read is skipped, value unread
    got, _ = T.read_ifd(blob, base, bo, (3,), "tiff", 16)
    assert [e[0] for e in got] == [0x0100, 0x0102]
    with pytest.raises(ValueError, match="^exif: too many IFD entries"):
        T.read_ifd(blob, base, bo, (3,), "exif", 4)


def _zero_count(blob: bytes, tag: int) -> bytes:
    """``blob`` with the count of the first IFD's ``tag`` entry set to 0."""
    bo, off = T.read_header(blob, "tiff")
    (n,) = struct.unpack_from(bo + "H", blob, off)
    for pos in range(off + 2, off + 2 + 12 * n, 12):
        if struct.unpack_from(bo + "H", blob, pos)[0] == tag:
            return blob[: pos + 4] + struct.pack(bo + "I", 0) + blob[pos + 8 :]
    raise AssertionError(f"no tag {tag}")


@pytest.mark.parametrize("byte_order", ["II", "MM"])
def test_exif_entry_with_count_0_is_a_value_error(byte_order):
    from scrapelect_spark.sources.exif import TAG_ORIENTATION, build_tiff, parse_tiff

    blob = build_tiff({TAG_ORIENTATION: 6}, byte_order)
    assert parse_tiff(blob)[TAG_ORIENTATION] == 6
    with pytest.raises(ValueError, match="^exif: tag 274 has count 0"):
        parse_tiff(_zero_count(blob, TAG_ORIENTATION))


@pytest.mark.parametrize("byte_order", ["II", "MM"])
def test_tiff_width_with_count_0_is_a_value_error(byte_order):
    blob = T.encode_tiff(_image(4, 6, 3, seed=1), byte_order=byte_order)
    assert T.decode_tiff(blob).shape == (4, 6, 3)
    with pytest.raises(ValueError, match="^tiff: tag 256 has count 0"):
        T.decode_tiff(_zero_count(blob, 256))


@pytest.mark.parametrize("cut", [20, 55])
def test_avi_cut_inside_avih_is_a_value_error(cut):
    from scrapelect_spark.sources.avi import avi_meta

    data = encode_avi_mjpeg([_image(16, 24, 3, seed=0)], fps=5)
    assert avi_meta(data) == (24, 16, 1, 5)
    body = data.index(b"avih") + 8
    with pytest.raises(ValueError, match="^truncated avih header"):
        avi_meta(data[: body + cut])


def test_avi_avih_declared_short_is_a_value_error():
    from scrapelect_spark.sources.avi import avi_meta

    data = encode_avi_mjpeg([_image(16, 24, 3, seed=0)], fps=5)
    at = data.index(b"avih") + 4
    short = data[:at] + struct.pack("<I", 8) + data[at + 4 :]
    with pytest.raises(ValueError, match="^truncated avih header"):
        avi_meta(short)


def test_riff_walk_yields_the_frames_before_a_cut():
    from scrapelect_spark.sources.avi import avi_frame_chunks

    frames = [_image(16, 24, 3, seed=s) for s in range(3)]
    data = encode_avi_mjpeg(frames, quality=70)
    whole = list(avi_frame_chunks(data))
    third = data.index(whole[2])
    for cut in (third - 5, third + 10):  # inside its header, inside its body
        got = list(avi_frame_chunks(data[:cut]))
        assert got[:2] == whole[:2]
        assert len(got) == 2 or whole[2].startswith(got[2])


def test_riff_chunk_pads_odd_bodies():
    assert R.chunk(b"abcd", b"xyz") == b"abcd\x03\x00\x00\x00xyz\x00"
    blob = R.riff(b"TEST", R.chunk(b"one ", b"1") + R.chunk(b"two ", b"22"))
    assert list(R.walk(blob, 12, len(blob))) == [
        (b"one ", 20, 1), (b"two ", 30, 2)
    ]


# --- the shared WAV reader -------------------------------------------------


@pytest.mark.parametrize("law", ["ulaw", "alaw"])
@pytest.mark.parametrize("stereo", [False, True])
def test_g711_data_shorter_than_fact_is_truncation(law, stereo):
    x = _stereo(4000) if stereo else _sine(4000)
    wav = encode_wav_g711(x, RATE, law)
    y, _ = decode_wav_g711(wav)
    assert y.shape == x.shape
    with pytest.raises(ValueError, match="truncated data"):
        decode_wav_g711(wav[:-1000])


def test_g711_without_fact_decodes_what_data_holds():
    x = _sine(4000)
    fmt = struct.pack("<HHIIHHH", 7, 1, RATE, RATE, 1, 8, 0)
    wav = R.riff(b"WAVE", R.chunk(b"fmt ", fmt) + R.chunk(b"data", encode_ulaw(x)))
    y, _ = decode_wav_g711(wav[:-1000])
    assert len(y) == 3000
    assert np.array_equal(y, decode_wav_g711(wav)[0][:3000])


@pytest.mark.parametrize(
    "encode,decode",
    [(encode_wav_ima, decode_wav_ima), (encode_wav_g711, decode_wav_g711)],
    ids=["ima", "g711"],
)
def test_short_fmt_chunk_is_a_value_error(encode, decode):
    wav = encode(_sine(4000), RATE)
    with pytest.raises(ValueError):
        decode(wav[:30])
    # a whole file whose fmt chunk declares 10 bytes
    fmt_len = struct.unpack_from("<I", wav, 16)[0]
    short = wav[:16] + struct.pack("<I", 10) + wav[20:30] + wav[20 + fmt_len:]
    short = short[:4] + struct.pack("<I", len(short) - 8) + short[8:]
    with pytest.raises(ValueError, match="fmt chunk too short"):
        decode(short)


def test_snr_db_reads_the_first_len_original_samples():
    from scrapelect_spark.sources.adpcm import snr_db

    x = _sine(1000)
    padded = np.concatenate([x + 1, np.full(152, 9999, np.int16)])
    assert snr_db(x, padded) == snr_db(x, x + 1)
    assert snr_db(x, x) == float("inf")


# --- guard -----------------------------------------------------------------


def _struct_format(call):
    """The constant part of a ``struct.*`` call's format (all of it, or
    the tail of ``bo + "..."``); None for other calls."""
    if not (
        isinstance(call.func, ast.Attribute)
        and isinstance(call.func.value, ast.Name)
        and call.func.value.id == "struct"
        and call.args
    ):
        return None
    fmt = call.args[0]
    if isinstance(fmt, ast.BinOp):
        fmt = fmt.right
    if isinstance(fmt, ast.JoinedStr):
        fmt = fmt.values[-1]
    if isinstance(fmt, ast.Constant) and isinstance(fmt.value, str):
        return fmt.value
    return None


def _container_sites(path):
    """Lines that pack or unpack a RIFF chunk header (``<4sI``, or a
    little-endian ``<I`` of a ``len()``) or a 12-byte IFD entry
    (``HHI...`` in either byte order)."""
    with open(path) as f:
        tree = ast.parse(f.read())
    sites = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        fmt = _struct_format(node)
        if fmt is None:
            continue
        riff_len = (
            fmt == "<I" and node.func.attr == "pack" and len(node.args) == 2
            and isinstance(node.args[1], ast.Call)
            and getattr(node.args[1].func, "id", None) == "len"
        )
        entry = fmt.lstrip("<>")
        ifd_entry = entry.startswith("HHI") and struct.calcsize("<" + entry) in (8, 12)
        if riff_len or fmt == "<4sI" or ifd_entry:
            sites.append(node.lineno)
    return sites


def test_no_hand_rolled_container_framing():
    """``riff.py`` frames and walks RIFF chunks and ``tiff.py`` reads
    and writes IFD entries; no other codec in ``sources/`` does."""
    owners = {"riff.py", "tiff.py"}
    found = {}
    for path in sorted(glob.glob(os.path.join(SOURCES, "*.py"))):
        sites = _container_sites(path)
        if sites:
            found[os.path.basename(path)] = sites
    assert set(found) == owners, found
