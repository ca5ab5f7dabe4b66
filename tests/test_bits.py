"""The shared MSB-first bit reader/writer (sources/bits.py): seeded
round trips of every field kind, prefix-code decoding on MPEG-1's
real tables, each codec's exact error strings, and a guard that keeps
the codecs from growing their own bit classes again."""

import ast
import glob
import os
import random

import numpy as np
import pytest

from scrapelect_spark.sources import flac, h264, mp2, mpeg1, mpeg2
from scrapelect_spark.sources.bits import BitReader, BitWriter

SOURCES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scrapelect_spark",
    "sources",
)


def _random_ops(rng: random.Random, n_ops: int):
    ops = []
    for _ in range(n_ops):
        kind = rng.choice(("u", "s", "ue", "se", "unary", "align", "bytes"))
        if kind == "u":
            n = rng.randint(0, 32)
            ops.append((kind, n, rng.getrandbits(n) if n else 0))
        elif kind == "s":
            n = rng.randint(1, 32)
            ops.append((kind, n, rng.randint(-(1 << (n - 1)), (1 << (n - 1)) - 1)))
        elif kind == "ue":
            top = rng.choice((4, 300, (1 << 31) - 2))
            ops.append((kind, 0, rng.randint(0, top)))
        elif kind == "se":
            top = rng.choice((4, 300, (1 << 30) - 1))
            ops.append((kind, 0, rng.randint(-top, top)))
        elif kind == "unary":
            ops.append((kind, 0, rng.choice((0, 1, 7, 8, 9, rng.randint(0, 80)))))
        elif kind == "bytes":
            ops.append((kind, 0, bytes(rng.getrandbits(8) for _ in range(rng.randint(0, 5)))))
        else:
            ops.append((kind, 0, None))
    return ops


@pytest.mark.parametrize("seed", range(8))
def test_random_roundtrip(seed):
    rng = random.Random(seed)
    ops = _random_ops(rng, 300)
    prefix = bytes(rng.getrandbits(8) for _ in range(rng.randint(0, 3)))
    w = BitWriter()
    aligned_at = []
    for kind, n, v in ops:
        if kind in ("u", "s"):
            w.write(v, n)
        elif kind == "ue":
            w.ue(v)
        elif kind == "se":
            w.se(v)
        elif kind == "unary":
            w.write_unary(v)
        elif kind == "bytes":
            w.align()
            w.write_bytes(v)
        else:
            w.align()
            aligned_at.append(len(prefix) + len(w.buf))
    w.align()
    data = prefix + w.bytes()

    r = BitReader(data, len(prefix))
    aligned = iter(aligned_at)
    for kind, n, v in ops:
        if kind == "u":
            assert r.read(n) == v
        elif kind == "s":
            assert r.read_signed(n) == v
        elif kind == "ue":
            assert r.ue() == v
        elif kind == "se":
            assert r.se() == v
        elif kind == "unary":
            assert r.read_unary() == v
        elif kind == "bytes":
            r.align()
            assert r.read_bytes(len(v)) == v
        else:
            r.align()
            at = next(aligned)
            assert (r.byte_pos(), r.pos, r.bit) == (at, at, 0)
    assert r.byte_pos() == len(data)


def test_byte_pos_rounds_up_mid_byte():
    r = BitReader(b"\xab\xcd\xef", 1)
    assert (r.pos, r.bit, r.byte_pos()) == (1, 0, 1)
    r.read(3)
    assert (r.pos, r.bit, r.byte_pos()) == (1, 3, 2)
    r.read(5)
    assert (r.pos, r.bit, r.byte_pos()) == (2, 0, 2)


_MPEG1_TABLES = [
    ("_DC_LUMA_DEC", "dct_dc_size", 8),
    ("_DC_CHROMA_DEC", "dct_dc_size", 8),
    ("_AC_DEC", "dct_coefficient", 12),
    ("_MBA_DEC", "macroblock_address_increment", 11),
]


@pytest.mark.parametrize("name,what,max_bits", _MPEG1_TABLES)
def test_read_vlc_on_mpeg1_tables(name, what, max_bits):
    table = getattr(mpeg1, name)
    codes = sorted(table)
    random.Random(name).shuffle(codes)
    w = BitWriter()
    for code, n in codes:
        w.write(code, n)
    w.write(0b1011, 4)  # a plain field after the last code
    w.align()
    r = mpeg1._BitReader(w.bytes())
    for code, n in codes:
        assert r.read_vlc(table, what, max_bits) == table[(code, n)]
    assert r.read(4) == 0b1011


def _bits_at_end(value: int, nbits: int) -> BitReader:
    """A reader whose remaining bits are exactly ``value``'s ``nbits``."""
    nbytes = (nbits + 7) // 8
    r = mpeg1._BitReader(value.to_bytes(nbytes, "big"))
    r.read(nbytes * 8 - nbits)
    return r


@pytest.mark.parametrize("name,what,max_bits", _MPEG1_TABLES)
def test_read_vlc_cut_inside_a_code_is_truncation(name, what, max_bits):
    table = getattr(mpeg1, name)
    for code, n in table:
        for keep in range(1, n):
            r = _bits_at_end(code >> (n - keep), keep)
            with pytest.raises(ValueError) as e:
                r.read_vlc(table, what, max_bits)
            assert str(e.value) == "mpeg1: truncated bitstream"


def test_read_vlc_outside_table():
    r = mpeg1._BitReader(b"\x00\x00")
    with pytest.raises(ValueError) as e:
        r.read_vlc(mpeg1._MBA_DEC, "macroblock_address_increment", 11)
    assert str(e.value) == (
        "mpeg1: VLC code outside the implemented "
        "macroblock_address_increment table"
    )
    # the same zeros with fewer than max_bits left: the stream ends first
    with pytest.raises(ValueError) as e:
        _bits_at_end(0, 10).read_vlc(mpeg1._MBA_DEC, "mba", 11)
    assert str(e.value) == "mpeg1: truncated bitstream"


def _message(fn) -> str:
    with pytest.raises(ValueError) as e:
        fn()
    return str(e.value)


def test_codec_error_strings():
    assert _message(lambda: flac._BitReader(b"\xff").read(9)) == (
        "FLAC bitstream truncated"
    )
    assert _message(lambda: flac._BitReader(b"\x80").read_signed(16)) == (
        "FLAC bitstream truncated"
    )
    unary = flac._BitReader(b"\x80\x00")
    unary.read(1)
    assert _message(unary.read_unary) == "FLAC bitstream truncated in unary code"
    assert _message(lambda: mp2._BitReader(b"\xff", 0).read(9)) == (
        "mp2: truncated frame"
    )
    assert _message(lambda: mpeg1._BitReader(b"\xff", 1).read(1)) == (
        "mpeg1: truncated bitstream"
    )
    assert mpeg2._BitReader is mpeg1._BitReader
    assert _message(lambda: h264._BitReader(b"\xff").read(9)) == (
        "h264: truncated NAL payload"
    )
    assert _message(lambda: h264._BitReader(b"\x00" * 4).ue()) == (
        "h264: exp-Golomb code too long"
    )
    assert _message(lambda: h264._BitReader(b"\x00" * 3).ue()) == (
        "h264: truncated NAL payload"
    )
    # 31 zeros then the one bit: a valid prefix whose suffix is missing
    assert _message(lambda: h264._BitReader(b"\x00\x00\x00\x01").ue()) == (
        "h264: truncated NAL payload"
    )
    assert _message(lambda: h264._BitReader(b"\x00").read_bytes(2)) == (
        "h264: truncated PCM samples"
    )


def test_m1v_cut_inside_a_vlc(monkeypatch):
    """A stream cut inside a macroblock's codes reports truncation,
    never an out-of-table code.  (A cut on a byte boundary between
    macroblocks ends the slice early and decodes.)"""
    y, x = np.mgrid[0:16, 0:32]
    frame = np.stack([x * 7 % 256, y * 13 % 256, (x + y) * 5 % 256], -1)
    data = mpeg1.encode_m1v([frame.astype(np.uint8)], qscale=2)
    slice_at = data.find(b"\x00\x00\x01\x01")
    end = data.find(b"\x00\x00\x01", slice_at + 4)

    inside = []  # (bits left when read_vlc started, message)
    read_vlc = mpeg1._BitReader.read_vlc

    def spy(self, table, what, max_bits=16):
        left = len(self.data) * 8 - self.pos * 8 - self.bit
        try:
            return read_vlc(self, table, what, max_bits)
        except ValueError as e:
            if left:
                inside.append((left, str(e)))
            raise

    monkeypatch.setattr(mpeg1._BitReader, "read_vlc", spy)
    errors = set()
    for cut in range(slice_at + 6, end):
        try:
            list(mpeg1.decode_m1v_frames(data[:cut]))
        except ValueError as e:
            errors.add(str(e))
    assert errors == {"mpeg1: truncated bitstream"}
    assert inside, "no cut landed inside a VLC"
    assert {msg for _, msg in inside} == {"mpeg1: truncated bitstream"}


def test_no_hand_rolled_bit_classes():
    """``bits.py`` is the one MSB-first bit reader/writer: elsewhere in
    ``sources/`` a class named ``*Bit*`` may only set message strings.
    JPEG (byte-stuffed) and WebP (LSB-first) keep their own."""
    sites = []
    for path in sorted(glob.glob(os.path.join(SOURCES, "*.py"))):
        base = os.path.basename(path)
        if base in ("bits.py", "jpeg.py", "webp.py"):
            continue
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if not (isinstance(node, ast.ClassDef) and "Bit" in node.name):
                continue
            for item in node.body:
                if not (
                    isinstance(item, ast.Assign)
                    and isinstance(item.value, ast.Constant)
                    and isinstance(item.value.value, str)
                ):
                    sites.append(f"{base}:{node.name}:{item.lineno}")
    assert sites == []
