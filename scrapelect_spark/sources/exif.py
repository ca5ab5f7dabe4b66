"""EXIF (TIFF/IFD) metadata reader + writer for JPEG APP1 segments.

A crawl-scale image corpus carries camera metadata that training
pipelines filter and stratify on (orientation for rotation-fixup,
capture time for dedup/decontamination windows, camera model for
source diversity).  This module parses the Exif APP1 payload — a TIFF
byte stream: ``II``/``MM`` byte order, magic 42, chained IFDs of
12-byte entries — from untrusted bytes, and builds deterministic APP1
segments for the gate corpus.  The IFD layer itself (header, bounds-
checked entry reads, IFD layout) is sources/tiff.py's; this module
keeps the tag semantics: scalar decode, the EXIF and GPS sub-IFD
pointers, ``GPS_KEY_BASE``, and the IFD chain and nesting caps.

Scope (the tags pipelines actually use): IFD0 Make/Model/Orientation/
DateTime, the EXIF sub-IFD (DateTimeOriginal, ISO, ExposureTime,
PixelXDimension/PixelYDimension).  Unknown tags are skipped by size,
never dereferenced.  Both byte orders are first-class (the gate
corpus alternates them).  Layout is from the public TIFF 6.0 / EXIF
specifications (also mirrored in every open EXIF tool).

Untrusted-input contract (same as sources/sitemap.py): offsets are
validated against the payload length before every read, IFD chains
are capped, and a malformed segment raises ``ValueError`` into the
operator's per-row error capture — it never reads out of bounds or
loops.
"""

from __future__ import annotations

import struct

from .tiff import ifd_size, read_header, read_ifd, write_header, write_ifd

#: IFD0 tags
TAG_MAKE = 0x010F
TAG_MODEL = 0x0110
TAG_ORIENTATION = 0x0112
TAG_DATETIME = 0x0132
TAG_EXIF_IFD = 0x8769
TAG_GPS_IFD = 0x8825
#: GPS IFD tags (EXIF 2.3 §4.6.6), stored in the parsed dict under
#: ``GPS_KEY_BASE | tag`` so they never collide with IFD0/EXIF tags
GPS_KEY_BASE = 0x10000
TAG_GPS_LAT_REF = 0x0001
TAG_GPS_LAT = 0x0002
TAG_GPS_LON_REF = 0x0003
TAG_GPS_LON = 0x0004
#: EXIF sub-IFD tags
TAG_EXPOSURE_TIME = 0x829A
TAG_ISO = 0x8827
TAG_DATETIME_ORIGINAL = 0x9003
TAG_PIXEL_X = 0xA002
TAG_PIXEL_Y = 0xA003

_IFD0_TAGS = (TAG_MAKE, TAG_MODEL, TAG_ORIENTATION, TAG_DATETIME)
_SUB_TAGS = (TAG_EXPOSURE_TIME, TAG_ISO, TAG_DATETIME_ORIGINAL,
             TAG_PIXEL_X, TAG_PIXEL_Y)
#: the field types the tags above use: ASCII, SHORT, LONG, RATIONAL
_TYPES = (2, 3, 4, 5)

_MAX_IFDS = 8
_MAX_ENTRIES = 256

EXIF_HEADER = b"Exif\x00\x00"


def _read_ifd(data: bytes, off: int, bo: str, out: dict, depth: int,
              gps: bool = False) -> int:
    """Parse one IFD at ``off`` into ``out``; returns the next-IFD
    offset."""
    if depth > 2:
        raise ValueError("exif: IFD nesting too deep")
    entries, nxt = read_ifd(data, off, bo, _TYPES, "exif", _MAX_ENTRIES)
    for tag, typ, cnt, raw in entries:
        if cnt == 0 and typ != 2:
            raise ValueError(f"exif: tag {tag} has count 0")
        if typ == 4 and not gps and tag in (TAG_EXIF_IFD, TAG_GPS_IFD):
            (sub,) = struct.unpack_from(bo + "I", raw)
            _read_ifd(data, sub, bo, out, depth + 1, gps=tag == TAG_GPS_IFD)
            continue
        key = (GPS_KEY_BASE | tag) if gps else tag
        if typ == 2:  # ASCII, NUL-terminated
            out[key] = raw.split(b"\x00", 1)[0].decode("ascii", "replace")
        elif typ == 5:
            # multi-RATIONAL (GPS lat/lon triplets): tuple of pairs
            out[key] = (tuple(struct.iter_unpack(bo + "II", raw)) if cnt >= 2
                        else struct.unpack_from(bo + "II", raw))
        else:
            out[key] = struct.unpack_from(bo + ("H" if typ == 3 else "I"), raw)[0]
    return nxt


def parse_tiff(data: bytes) -> dict[int, object]:
    """TIFF byte stream (as inside APP1, after ``Exif\\0\\0``) → tag
    dict (EXIF sub-IFD tags merged in)."""
    bo, off = read_header(data, "exif")
    out: dict[int, object] = {}
    seen = set()
    for _ in range(_MAX_IFDS):
        if off == 0:
            return out
        if off in seen:
            raise ValueError("exif: IFD chain loop")
        seen.add(off)
        off = _read_ifd(data, off, bo, out, 0)
    raise ValueError("exif: IFD chain too long")


def _find_app1(jpeg: bytes) -> tuple[int, int] | None:
    """(start, end) of the ``APP1 Exif`` segment, marker included, or
    None when the marker stream reaches SOS or its end without one."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("exif: not a JPEG")
    pos = 2
    while pos + 4 <= len(jpeg):
        if jpeg[pos] != 0xFF:
            raise ValueError("exif: bad marker stream")
        marker = jpeg[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xDA:  # SOS: entropy data follows, no EXIF past here
            break
        (seglen,) = struct.unpack_from(">H", jpeg, pos + 2)
        if seglen < 2 or pos + 2 + seglen > len(jpeg):
            raise ValueError("exif: segment overruns file")
        if marker == 0xE1 and jpeg[pos + 4:pos + 10] == EXIF_HEADER:
            return pos, pos + 2 + seglen
        pos += 2 + seglen
    return None


def parse_exif_jpeg(jpeg: bytes) -> dict[int, object]:
    """Walk the JPEG marker stream for an ``APP1 Exif`` segment and
    parse it.  Raises if the image has no EXIF payload."""
    seg = _find_app1(jpeg)
    if seg is None:
        raise ValueError("exif: no APP1 Exif segment")
    return parse_tiff(jpeg[seg[0] + 10:seg[1]])


# --- writer -----------------------------------------------------------


def _entry(bo: str, tag: int, v) -> tuple[int, int, int, bytes]:
    """A tag value as an IFD entry: str → ASCII, (num, den) or a tuple
    of them → RATIONAL, int → SHORT when it fits, else LONG."""
    if isinstance(v, str):
        raw = v.encode("ascii") + b"\x00"
        return tag, 2, len(raw), raw
    if isinstance(v, tuple):
        pairs = v if v and isinstance(v[0], tuple) else (v,)
        raw = b"".join(struct.pack(bo + "II", *p) for p in pairs)
        return tag, 5, len(pairs), raw
    if v < 0x10000:
        return tag, 3, 1, struct.pack(bo + "H", v)
    return tag, 4, 1, struct.pack(bo + "I", v)


def build_tiff(fields: dict[int, object], byte_order: str = "II") -> bytes:
    """Deterministic TIFF stream with IFD0 + EXIF sub-IFD + GPS IFD
    from a tag dict (the inverse of :func:`parse_tiff` for the
    supported tags)."""
    bo = "<" if byte_order == "II" else ">"
    ifd0 = [_entry(bo, t, v) for t, v in fields.items() if t in _IFD0_TAGS]
    sub = [_entry(bo, t, v) for t, v in fields.items() if t in _SUB_TAGS]
    gps = [_entry(bo, t & 0xFFFF, v) for t, v in fields.items()
           if t >= GPS_KEY_BASE]
    children = [(ptr, entries) for ptr, entries
                in ((TAG_EXIF_IFD, sub), (TAG_GPS_IFD, gps)) if entries]
    # IFD0 sits at offset 8 and its pointers are inline LONGs, so its
    # size (with zero pointers) places the sub-IFDs after it
    pointers = [(ptr, 4, 1, bytes(4)) for ptr, _ in children]
    off = 8 + ifd_size(ifd0 + pointers)
    blobs = []
    for ptr, entries in children:
        ifd0.append((ptr, 4, 1, struct.pack(bo + "I", off)))
        blobs.append(write_ifd(entries, bo, off))
        off += len(blobs[-1])
    return write_header(byte_order) + write_ifd(ifd0, bo, 8) + b"".join(blobs)


def insert_exif_jpeg(jpeg: bytes, tiff: bytes) -> bytes:
    """Insert an ``APP1 Exif`` segment right after SOI."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("exif: not a JPEG")
    payload = EXIF_HEADER + tiff
    if len(payload) + 2 > 0xFFFF:
        raise ValueError("exif: APP1 payload too large")
    seg = b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload
    return jpeg[:2] + seg + jpeg[2:]


def strip_exif_jpeg(jpeg: bytes) -> bytes:
    """Remove the APP1 Exif segment (if any) from a JPEG."""
    seg = _find_app1(jpeg)
    return jpeg if seg is None else jpeg[:seg[0]] + jpeg[seg[1]:]


def scrub_gps_jpeg(jpeg: bytes, byte_order: str = "II") -> tuple[bytes, bool]:
    """GPS-location privacy scrub: drop the GPS IFD from the EXIF
    payload, keep every other tag, leave the compressed image data
    untouched.  Returns ``(scrubbed_jpeg, had_gps)``; a JPEG without
    EXIF passes through unchanged."""
    try:
        fields = parse_exif_jpeg(jpeg)
    except ValueError:
        return jpeg, False
    had_gps = any(t >= GPS_KEY_BASE for t in fields)
    if not had_gps:
        return jpeg, False
    kept = {t: v for t, v in fields.items() if t < GPS_KEY_BASE}
    return (
        insert_exif_jpeg(strip_exif_jpeg(jpeg), build_tiff(kept, byte_order)),
        True,
    )


def apply_orientation(arr, orientation: int):
    """Undo a TIFF/EXIF orientation (tag 274) on an HxWxC pixel array —
    the transform that renders the stored data upright, matching the
    de-facto standard table (TIFF 6.0 §Orientation; same mapping as
    PIL's exif_transpose).  Returns a contiguous copy; orientation 1
    (or anything out of range → treated as malformed) must be handled
    by the caller — this raises on values outside 1..8."""
    import numpy as np

    if not 1 <= int(orientation) <= 8:
        raise ValueError(f"bad EXIF orientation {orientation}")
    o = int(orientation)
    if o == 1:
        out = arr
    elif o == 2:          # mirrored horizontally
        out = arr[:, ::-1]
    elif o == 3:          # rotated 180
        out = arr[::-1, ::-1]
    elif o == 4:          # mirrored vertically
        out = arr[::-1]
    elif o == 5:          # transposed (flip along TL-BR diagonal)
        out = arr.transpose(1, 0, 2)
    elif o == 6:          # rotated 90 CW to display
        out = np.rot90(arr, -1)
    elif o == 7:          # transverse (flip along TR-BL diagonal)
        out = arr.transpose(1, 0, 2)[::-1, ::-1]
    else:                 # 8: rotated 90 CCW to display
        out = np.rot90(arr, 1)
    return np.ascontiguousarray(out)
