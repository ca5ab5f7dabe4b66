"""Pure-Python baseline TIFF codec (TIFF 6.0) — the scanned-document
image tier of the corpus decode path.

TIFF is the remaining first-class still-image container after
PNG/JPEG/GIF/BMP: scanned-document corpora (patents, books, archival
scans) ship as strip-based TIFFs.  This module implements the
baseline profile from the public TIFF 6.0 specification:

- IFD layer: ``II``/``MM`` byte orders, magic 42, 12-byte IFD
  entries.  ``read_header`` and ``read_ifd`` (bounds-checked entries
  as raw value bytes) read it; ``write_ifd`` lays out one IFD and its
  overflow values, and ``ifd_size`` sizes one before its pointer
  values are known.  sources/exif.py reads and writes the APP1
  payload through these and keeps only the EXIF tag semantics; this
  codec reads the array-valued tags (StripOffsets/StripByteCounts/
  BitsPerSample/ColorMap).
- Decoder: bilevel (1-bit, both photometric polarities), 8-bit
  grayscale, 8-bit palette-color (ColorMap's 16-bit entries scaled),
  RGB and RGBA (ExtraSamples alpha composited over white like the
  PNG path), chunky planar configuration, multi-strip images, with
  Compression 1 (none), 32773 (PackBits) and 5 (LZW with the
  TIFF-variant EarlyChange code-width switch and optional horizontal
  Predictor 2).
- Encoder: deterministic single-IFD RGB8 or gray8, strip-based,
  Compression 1/32773/5 (LZW writer emits ClearCode resets at table
  overflow; PackBits writer maximal runs), Predictor 2 optional
  under LZW.

Untrusted-input contract (same as sources/exif.py/sitemap.py): every
offset/count is bounds-checked before the read, IFD entry counts and
image dimensions are capped, and malformed input raises ``ValueError``
into the operator's per-row error capture — no out-of-bounds reads,
no unbounded loops.

Reference parity note: the reference engine (suaviloquence/
scrapelect) has no media layer; this codec serves the multimodal
corpus operators (operators/multimodal.decode_image) mandated by the
graft brief.  Scale shape: one image per row through Arrow-batched
``mapInPandas``; strips decode in one linear pass; no shuffle.
"""

from __future__ import annotations

import struct
from collections.abc import Container
from itertools import accumulate

import numpy as np

from .bits import BitWriter

MAX_PIXELS = 1 << 24
_MAX_ENTRIES = 512

# tag ids (TIFF 6.0 §8)
_T_WIDTH = 256
_T_LENGTH = 257
_T_BITS = 258
_T_COMPRESSION = 259
_T_PHOTOMETRIC = 262
_T_STRIP_OFFSETS = 273
_T_SAMPLES = 277
_T_ROWS_PER_STRIP = 278
_T_STRIP_COUNTS = 279
_T_PLANAR = 284
_T_PREDICTOR = 317
_T_COLORMAP = 320
_T_EXTRA_SAMPLES = 338

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2,
               9: 4, 10: 8}
#: the array-valued types baseline decode reads (BYTE, SHORT, LONG)
_ARRAY_FORMATS = {1: "B", 3: "H", 4: "I"}


# --- IFD layer (shared with sources/exif.py) ------------------------


def read_header(data: bytes, prefix: str) -> tuple[str, int]:
    """TIFF header → (``struct`` byte-order char, first IFD offset).
    ``prefix`` (``tiff``/``exif``) starts every error message."""
    if len(data) < 8:
        raise ValueError(f"{prefix}: truncated header")
    bo = {b"II": "<", b"MM": ">"}.get(data[:2])
    if bo is None:
        raise ValueError(f"{prefix}: bad byte-order mark")
    magic, first = struct.unpack_from(bo + "HI", data, 2)
    if magic != 42:
        raise ValueError(f"{prefix}: bad magic")
    return bo, first


def read_ifd(
    data: bytes, off: int, bo: str, types: Container[int], prefix: str,
    max_entries: int,
) -> tuple[list[tuple[int, int, int, bytes]], int]:
    """The IFD at ``off`` → ([(tag, type, count, raw value bytes)],
    next IFD offset).  Entries whose type is not in ``types`` are
    skipped unread, as TIFF 6.0 readers skip what they do not know;
    every offset is checked against ``len(data)`` before the read."""
    if off + 2 > len(data):
        raise ValueError(f"{prefix}: IFD offset out of bounds")
    (n,) = struct.unpack_from(bo + "H", data, off)
    if n > max_entries:
        raise ValueError(f"{prefix}: too many IFD entries")
    end = off + 2 + 12 * n
    if end + 4 > len(data):
        raise ValueError(f"{prefix}: IFD overruns payload")
    entries = []
    for pos in range(off + 2, end, 12):
        tag, typ, cnt, vpos = struct.unpack_from(bo + "HHII", data, pos)
        if typ not in types:
            continue
        total = _TYPE_SIZES[typ] * cnt
        if total <= 4:
            vpos = pos + 8
        elif vpos + total > len(data):
            raise ValueError(f"{prefix}: value offset out of bounds")
        entries.append((tag, typ, cnt, data[vpos:vpos + total]))
    return entries, struct.unpack_from(bo + "I", data, end)[0]


def ifd_size(entries: list[tuple[int, int, int, bytes]]) -> int:
    """Bytes :func:`write_ifd` emits for ``entries``: the IFD and the
    values too long to sit in their entries.  Placeholder values of
    the final length give the size before pointers are known."""
    return 2 + 12 * len(entries) + 4 + sum(
        len(raw) for *_, raw in entries if len(raw) > 4
    )


def write_ifd(
    entries: list[tuple[int, int, int, bytes]], bo: str, base: int
) -> bytes:
    """One IFD at file offset ``base`` (entries sorted by tag, no next
    IFD), followed by the values longer than 4 bytes in entry order."""
    head = [struct.pack(bo + "H", len(entries))]
    tail = []
    pos = base + 2 + 12 * len(entries) + 4
    for tag, typ, cnt, raw in sorted(entries, key=lambda e: e[0]):
        if len(raw) > 4:
            field = struct.pack(bo + "I", pos)
            tail.append(raw)
            pos += len(raw)
        else:
            field = raw.ljust(4, b"\x00")
        head.append(struct.pack(bo + "HHI", tag, typ, cnt) + field)
    head.append(struct.pack(bo + "I", 0))
    return b"".join(head + tail)


def write_header(byte_order: str) -> bytes:
    """The 8-byte header of a file whose first IFD follows it."""
    bo = "<" if byte_order == "II" else ">"
    return struct.pack(bo + "2sHI", byte_order.encode("ascii"), 42, 8)


def _unpackbits(data: bytes, expected: int) -> bytes:
    """PackBits (TIFF 6.0 §9): n in 0..127 → n+1 literals; n in
    129..255 (signed -1..-127) → repeat next byte 1-n times; 128 is
    a no-op."""
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expected:
        n = data[i]
        i += 1
        if n < 128:
            if i + n + 1 > len(data):
                raise ValueError("tiff: PackBits literal overruns strip")
            out += data[i:i + n + 1]
            i += n + 1
        elif n > 128:
            if i >= len(data):
                raise ValueError("tiff: PackBits run overruns strip")
            out += bytes([data[i]]) * (257 - n)
            i += 1
    if len(out) < expected:
        raise ValueError("tiff: PackBits strip too short")
    return bytes(out[:expected])


def _packbits(row: bytes) -> bytes:
    """Maximal-run PackBits encoder (deterministic)."""
    out = bytearray()
    i = 0
    n = len(row)
    while i < n:
        run = 1
        while i + run < n and run < 128 and row[i + run] == row[i]:
            run += 1
        if run >= 2:
            out.append(257 - run)
            out.append(row[i])
            i += run
            continue
        lit = i
        while (i < n and i - lit < 128
               and not (i + 2 < n and row[i] == row[i + 1] == row[i + 2])):
            i += 1
        out.append(i - lit - 1)
        out += row[lit:i]
    return bytes(out)


# --- TIFF-variant LZW (MSB-first, EarlyChange) ------------------------

_CLEAR = 256
_EOI = 257


def _lzw_decode(data: bytes, expected: int) -> bytes:
    """TIFF LZW (§13): 9→12-bit codes MSB-first; the width bumps one
    code EARLY (at 510/1022/2046 free entries — the EarlyChange
    quirk that differs from GIF's LZW)."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    acc = bits = 0
    prev: bytes | None = None
    for byte in data:
        acc = (acc << 8) | byte
        bits += 8
        while bits >= width:
            bits -= width
            code = (acc >> bits) & ((1 << width) - 1)
            if code == _CLEAR:
                table = table[:258]
                width = 9
                prev = None
                continue
            if code == _EOI:
                if len(out) < expected:
                    raise ValueError("tiff: LZW stream ended early")
                return bytes(out[:expected])
            if code < len(table):
                entry = table[code]
                if not entry and code >= 258:
                    raise ValueError("tiff: invalid LZW code")
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]
            else:
                raise ValueError("tiff: invalid LZW code")
            out += entry
            if prev is not None:
                table.append(prev + entry[:1])
            prev = entry
            # EarlyChange: bump width when the NEXT code would not fit
            if len(table) + 1 >= (1 << width) and width < 12:
                width += 1
            if len(out) >= expected:
                return bytes(out[:expected])
    raise ValueError("tiff: LZW strip too short")


#: the 256 one-byte strings, built once: the encoder's hot loop joins
#: one per input byte
_BYTES = [bytes([i]) for i in range(256)]


def _lzw_encode(data: bytes) -> bytes:
    w = BitWriter()
    write = w.write
    table: dict[bytes, int] = {c: i for i, c in enumerate(_BYTES)}
    nxt = 258
    width = 9
    write(_CLEAR, width)
    cur = b""
    for b in data:
        cand = cur + _BYTES[b]
        if cand in table:
            cur = cand
            continue
        write(table[cur], width)
        table[cand] = nxt
        nxt += 1
        # EarlyChange: widen when the next emitted code could be the
        # first of the new width
        if nxt + 1 > (1 << width) and width < 12:
            width += 1
        if nxt >= 4094:
            write(_CLEAR, width)
            table = {c: i for i, c in enumerate(_BYTES)}
            nxt = 258
            width = 9
        cur = _BYTES[b]
    if cur:
        write(table[cur], width)
    write(_EOI, width)
    w.align()
    return w.bytes()


# --- decoder ----------------------------------------------------------


def decode_tiff(data: bytes) -> np.ndarray:
    """TIFF bytes → HxWx3 uint8 RGB (alpha composited over white)."""
    bo, first = read_header(data, "tiff")
    entries, _ = read_ifd(data, first, bo, _ARRAY_FORMATS, "tiff", _MAX_ENTRIES)
    tags = {
        tag: struct.unpack(f"{bo}{cnt}{_ARRAY_FORMATS[typ]}", raw)
        for tag, typ, cnt, raw in entries
    }

    def one(tag, default=None):
        v = tags.get(tag)
        if v is None:
            if default is None:
                raise ValueError(f"tiff: missing required tag {tag}")
            return default
        if not v:
            raise ValueError(f"tiff: tag {tag} has count 0")
        return int(v[0])

    w = one(_T_WIDTH)
    h = one(_T_LENGTH)
    if w <= 0 or h <= 0 or w * h > MAX_PIXELS:
        raise ValueError("tiff: bad dimensions")
    spp = one(_T_SAMPLES, 1)
    bits = tags.get(_T_BITS, (1,) * spp)
    if len(bits) < spp:
        bits = tuple(bits) * spp
    compression = one(_T_COMPRESSION, 1)
    photometric = one(_T_PHOTOMETRIC)
    planar = one(_T_PLANAR, 1)
    predictor = one(_T_PREDICTOR, 1)
    if planar != 1:
        raise ValueError("tiff: planar configuration 2 not supported")
    if compression not in (1, 5, 32773):
        raise ValueError(
            f"tiff: compression {compression} not supported "
            "(baseline: none/LZW/PackBits)"
        )
    if predictor not in (1, 2):
        raise ValueError(f"tiff: predictor {predictor} not supported")
    offsets = tags.get(_T_STRIP_OFFSETS)
    counts = tags.get(_T_STRIP_COUNTS)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("tiff: missing strip layout")
    rows_per_strip = one(_T_ROWS_PER_STRIP, h)
    if rows_per_strip <= 0:
        raise ValueError("tiff: bad RowsPerStrip")

    if photometric in (0, 1):
        if spp != 1 or bits[0] not in (1, 8):
            raise ValueError("tiff: unsupported grayscale layout")
    elif photometric == 2:
        if spp not in (3, 4) or any(b != 8 for b in bits[:spp]):
            raise ValueError("tiff: unsupported RGB layout")
    elif photometric == 3:
        if spp != 1 or bits[0] != 8:
            raise ValueError("tiff: unsupported palette layout")
        if _T_COLORMAP not in tags:
            raise ValueError("tiff: palette image without ColorMap")
    else:
        raise ValueError(f"tiff: photometric {photometric} not supported")

    if bits[0] == 1:
        row_bytes = (w + 7) // 8
    else:
        row_bytes = w * spp
    rows = []
    for s, (off, cnt) in enumerate(zip(offsets, counts)):
        if off + cnt > len(data):
            raise ValueError("tiff: strip outside file")
        nrows = min(rows_per_strip, h - s * rows_per_strip)
        if nrows <= 0:
            raise ValueError("tiff: too many strips")
        raw = data[off:off + cnt]
        expected = row_bytes * nrows
        if compression == 32773:
            raw = _unpackbits(raw, expected)
        elif compression == 5:
            raw = _lzw_decode(raw, expected)
        elif len(raw) < expected:
            raise ValueError("tiff: strip too short")
        strip = np.frombuffer(raw[:expected], np.uint8).reshape(
            nrows, row_bytes
        )
        if predictor == 2 and bits[0] == 8:
            strip = np.cumsum(
                strip.reshape(nrows, -1, spp).astype(np.uint32), axis=1
            ).astype(np.uint8).reshape(nrows, row_bytes)
        rows.append(strip)
    img = np.concatenate(rows, axis=0)
    if img.shape[0] != h:
        raise ValueError("tiff: strip rows do not cover the image")

    if bits[0] == 1:
        b = np.unpackbits(img, axis=1)[:, :w]
        g = (b * 255).astype(np.uint8)
        if photometric == 0:  # WhiteIsZero
            g = 255 - g
        return np.stack([g, g, g], axis=-1)
    if photometric in (0, 1):
        g = img[:, :w]
        if photometric == 0:
            g = 255 - g
        return np.stack([g, g, g], axis=-1)
    if photometric == 3:
        cmap = tags[_T_COLORMAP]
        if len(cmap) < 3 * 256:
            raise ValueError("tiff: short ColorMap")
        lut = (np.array(cmap[:3 * 256], np.uint32)
               .reshape(3, 256).T // 257).astype(np.uint8)
        return lut[img[:, :w]]
    px = img.reshape(h, w, spp)
    if spp == 4:
        a = px[..., 3:4].astype(np.uint32)
        rgb = px[..., :3].astype(np.uint32)
        return ((rgb * a + 255 * (255 - a) + 127) // 255).astype(np.uint8)
    return px.copy()


# --- encoder ----------------------------------------------------------


def encode_tiff(
    arr: np.ndarray,
    compression: int = 1,
    byte_order: str = "II",
    rows_per_strip: int | None = None,
    predictor: int = 1,
) -> bytes:
    """HxWx3 uint8 RGB (or HxW grayscale) → single-IFD TIFF.
    ``compression``: 1 none, 5 LZW, 32773 PackBits; ``predictor=2``
    (horizontal differencing) is valid under LZW only."""
    a = np.asarray(arr, dtype=np.uint8)
    gray = a.ndim == 2
    if not gray and (a.ndim != 3 or a.shape[2] != 3):
        raise ValueError("tiff: expected HxW or HxWx3 uint8")
    if compression not in (1, 5, 32773):
        raise ValueError("tiff: unsupported compression")
    if predictor == 2 and compression != 5:
        raise ValueError("tiff: predictor 2 requires LZW")
    h, w = a.shape[:2]
    if h == 0 or w == 0 or w * h > MAX_PIXELS:
        raise ValueError("tiff: bad dimensions")
    spp = 1 if gray else 3
    bo = "<" if byte_order == "II" else ">"
    if rows_per_strip is None:
        rows_per_strip = max(1, min(h, 8192 // max(1, w * spp // 8) or h))
    flat = a.reshape(h, w * spp)
    strips = []
    for y0 in range(0, h, rows_per_strip):
        strip = flat[y0:y0 + rows_per_strip]
        if predictor == 2:
            p = strip.reshape(strip.shape[0], -1, spp).astype(np.int16)
            d = np.empty_like(p)
            d[:, 0] = p[:, 0]
            d[:, 1:] = p[:, 1:] - p[:, :-1]
            strip = (d & 0xFF).astype(np.uint8).reshape(strip.shape)
        raw = strip.tobytes()
        if compression == 32773:
            raw = b"".join(
                _packbits(strip[r].tobytes())
                for r in range(strip.shape[0])
            )
        elif compression == 5:
            raw = _lzw_encode(raw)
        strips.append(raw)

    def field(tag, typ, *vals):
        fmt = f"{bo}{len(vals)}{_ARRAY_FORMATS[typ]}"
        return tag, typ, len(vals), struct.pack(fmt, *vals)

    counts = [len(s) for s in strips]
    entries = [
        field(_T_WIDTH, 3, w),
        field(_T_LENGTH, 3, h),
        field(_T_BITS, 3, *((8,) * spp)),
        field(_T_COMPRESSION, 3, compression),
        field(_T_PHOTOMETRIC, 3, 1 if gray else 2),
        field(_T_SAMPLES, 3, spp),
        field(_T_ROWS_PER_STRIP, 3, rows_per_strip),
        field(_T_STRIP_COUNTS, 4, *counts),
    ]
    if predictor == 2:
        entries.append(field(_T_PREDICTOR, 3, 2))
    # layout: header | IFD | values over 4 bytes | strips.  A zero
    # StripOffsets of the final length sizes the IFD, which places
    # the strips.
    placeholder = field(_T_STRIP_OFFSETS, 4, *([0] * len(strips)))
    start = 8 + ifd_size(entries + [placeholder])
    entries.append(
        field(_T_STRIP_OFFSETS, 4, *accumulate(counts[:-1], initial=start))
    )
    return write_header(byte_order) + write_ifd(entries, bo, 8) + b"".join(strips)


def is_tiff(data: bytes) -> bool:
    """Cheap sniff: TIFF header at offset 0."""
    return (data[:4] == b"II*\x00" or data[:4] == b"MM\x00*")
