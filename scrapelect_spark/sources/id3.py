"""ID3 audio tag metadata — the audio analogue of EXIF.

Pure-Python reader/writer from the public specs (id3.org: ID3v2.3
informal standard, ID3v2.4 structure doc, ID3v1 appendix):

* **ID3v2.2 / v2.3 / v2.4** header + text frames.  Header: "ID3",
  version, flags, 28-bit syncsafe size.  v2.3 frame sizes are plain
  big-endian 32-bit; v2.4 sizes are syncsafe; v2.2 uses 3-byte ids and
  3-byte sizes.  Text frames carry an encoding byte — 0 latin-1,
  1 UTF-16 with BOM, 2 UTF-16BE (v2.4), 3 UTF-8 (v2.4) — and are
  NUL-terminated.  The tag-level unsynchronization flag (0xFF 0x00 →
  0xFF) is undone before frame parsing.
* **ID3v1**: the fixed 128-byte "TAG" trailer (title/artist/album 30
  bytes, year 4, comment 28+track, genre) as the fallback when no v2
  header is present.

The writer emits ID3v2.3 (or v2.4 on request) with deterministic frame
order — encode→parse is exactly round-trippable, which the gate
oracle exploits.
"""

from __future__ import annotations

import struct

#: frame id → output field for the common text frames (v2.3/v2.4 ids;
#: the v2.2 3-byte ancestors are mapped below)
TEXT_FRAMES = {
    "TIT2": "title",
    "TPE1": "artist",
    "TALB": "album",
    "TRCK": "track",
    "TYER": "year",   # v2.3
    "TDRC": "year",   # v2.4 recording time supersedes TYER
}

_V22_IDS = {"TT2": "TIT2", "TP1": "TPE1", "TAL": "TALB",
            "TRK": "TRCK", "TYE": "TYER"}


def _syncsafe(n: int) -> bytes:
    return bytes(
        [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
    )


def _unsyncsafe(b: bytes) -> int:
    return (b[0] << 21) | (b[1] << 14) | (b[2] << 7) | b[3]


def encode_id3v2(
    tags: dict[str, str],
    audio: bytes = b"",
    version: int = 3,
    encoding: int = 0,
) -> bytes:
    """Serialize ``tags`` (field → value, fields from TEXT_FRAMES
    values) as an ID3v2.3/v2.4 tag prepended to ``audio``.
    ``encoding``: 0 latin-1, 1 UTF-16+BOM, 3 UTF-8 (v2.4 only)."""
    if version not in (3, 4):
        raise ValueError("writer emits ID3v2.3 or v2.4")
    if encoding == 3 and version != 4:
        raise ValueError("UTF-8 text requires v2.4")
    field_to_id = {}
    for fid, field in TEXT_FRAMES.items():
        if field == "year":
            fid = "TDRC" if version == 4 else "TYER"
        field_to_id.setdefault(field, fid)
    frames = b""
    for field in sorted(tags):
        value = tags[field]
        fid = field_to_id[field]
        if encoding == 0:
            payload = b"\x00" + value.encode("latin-1") + b"\x00"
        elif encoding == 1:
            payload = b"\x01" + value.encode("utf-16") + b"\x00\x00"
        elif encoding == 3:
            payload = b"\x03" + value.encode("utf-8") + b"\x00"
        else:
            raise ValueError(f"unsupported text encoding {encoding}")
        size = (
            _syncsafe(len(payload)) if version == 4
            else struct.pack(">I", len(payload))
        )
        frames += fid.encode("ascii") + size + b"\x00\x00" + payload
    header = b"ID3" + bytes([version, 0, 0]) + _syncsafe(len(frames))
    return header + frames + audio


def _decode_text(payload: bytes) -> str:
    if not payload:
        return ""
    enc, rest = payload[0], payload[1:]
    if enc == 0:
        return rest.split(b"\x00")[0].decode("latin-1")
    if enc == 1:
        return rest.decode("utf-16", errors="replace").split("\x00")[0]
    if enc == 2:
        return rest.decode("utf-16-be", errors="replace").split("\x00")[0]
    if enc == 3:
        return rest.split(b"\x00")[0].decode("utf-8", errors="replace")
    raise ValueError(f"bad text encoding byte {enc}")


def parse_id3v2(data: bytes) -> tuple[dict[str, str], int] | None:
    """Parse a leading ID3v2.{2,3,4} tag.  Returns (fields, audio
    offset) or None when no v2 header is present.  Raises on a
    malformed tag (truncated, bad sizes) — callers error-capture."""
    if len(data) < 10 or data[:3] != b"ID3":
        return None
    ver, flags = data[3], data[5]
    if ver not in (2, 3, 4):
        raise ValueError(f"unsupported ID3v2.{ver}")
    size = _unsyncsafe(data[6:10])
    end = 10 + size
    if end > len(data):
        raise ValueError("truncated ID3v2 tag")
    body = data[10:end]
    if flags & 0x80:  # tag-level unsynchronization
        body = body.replace(b"\xff\x00", b"\xff")
    if flags & 0x40 and ver in (3, 4):  # extended header: skip it
        if ver == 4:
            ext = _unsyncsafe(body[:4])
        else:
            ext = struct.unpack(">I", body[:4])[0] + 4
        body = body[ext:]
    out: dict[str, str] = {}
    pos = 0
    id_len = 3 if ver == 2 else 4
    while pos + id_len <= len(body):
        fid = body[pos:pos + id_len]
        if fid.rstrip(b"\x00") == b"":  # padding
            break
        fid_s = fid.decode("latin-1", errors="replace")
        if ver == 2:
            if pos + 6 > len(body):
                raise ValueError("truncated v2.2 frame header")
            fsize = int.from_bytes(body[pos + 3:pos + 6], "big")
            payload = body[pos + 6:pos + 6 + fsize]
            pos += 6 + fsize
            fid_s = _V22_IDS.get(fid_s, fid_s)
        else:
            if pos + 10 > len(body):
                raise ValueError("truncated frame header")
            raw_sz = body[pos + 4:pos + 8]
            fsize = (
                _unsyncsafe(raw_sz) if ver == 4
                else struct.unpack(">I", raw_sz)[0]
            )
            payload = body[pos + 10:pos + 10 + fsize]
            pos += 10 + fsize
        if len(payload) < fsize:
            raise ValueError("frame payload overruns tag")
        field = TEXT_FRAMES.get(fid_s)
        if field is not None and field not in out:
            out[field] = _decode_text(payload)
    return out, end


def parse_id3v1(data: bytes) -> dict[str, str] | None:
    """Parse the trailing 128-byte ID3v1(.1) block, or None."""
    if len(data) < 128 or data[-128:-125] != b"TAG":
        return None
    blk = data[-128:]

    def txt(b: bytes) -> str:
        return b.split(b"\x00")[0].decode("latin-1").strip()

    out = {
        "title": txt(blk[3:33]),
        "artist": txt(blk[33:63]),
        "album": txt(blk[63:93]),
        "year": txt(blk[93:97]),
    }
    # ID3v1.1: comment[28] == 0 and comment[29] != 0 → track number
    if blk[125] == 0 and blk[126] != 0:
        out["track"] = str(blk[126])
    return {k: v for k, v in out.items() if v}


def encode_id3v1(tags: dict[str, str], audio: bytes = b"") -> bytes:
    """Append an ID3v1.1 trailer to ``audio``."""

    def pad(s: str, n: int) -> bytes:
        b = s.encode("latin-1", errors="replace")[:n]
        return b + b"\x00" * (n - len(b))

    blk = (
        b"TAG"
        + pad(tags.get("title", ""), 30)
        + pad(tags.get("artist", ""), 30)
        + pad(tags.get("album", ""), 30)
        + pad(tags.get("year", ""), 4)
        + pad("", 28)
        + b"\x00"
        + bytes([int(tags["track"]) if "track" in tags else 0])
        + b"\xff"  # genre: none
    )
    assert len(blk) == 128
    return audio + blk


def extract_tags(data: bytes) -> dict[str, str]:
    """v2 tag if present, else the v1 trailer.  Raises when neither
    exists (callers map that to failed=1, mirroring EXIF)."""
    v2 = parse_id3v2(data)
    if v2 is not None:
        return v2[0]
    v1 = parse_id3v1(data)
    if v1 is not None:
        return v1
    raise ValueError("no ID3v2 header or ID3v1 trailer")
