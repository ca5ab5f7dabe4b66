"""Pure-Python PNG codec (numpy + zlib) and perceptual hashing.

The runtime has no PIL/OpenCV, so the multimodal pipeline's *real*
decode path is PNG (lossless, exactly round-trippable — the PSNR≥40dB
invariant from BASELINE.json ``input_hint`` is trivially satisfied at
∞); JPEG decode is a clearly-marked stub (operators/multimodal.py), but
all Spark-side plumbing (binary columns, Arrow batch shapes, schema)
is identical for both formats.

Encode: 8-bit grayscale / RGB / RGBA, filter-0 (deterministic output
bytes — required for byte-stable golden tables).  Decode: the FULL
PNG 1.2 still-image surface — all five color types (grayscale,
RGB, palette, grayscale+alpha, RGBA), every legal bit depth
(1/2/4/8/16; 16-bit scanlines take the most-significant byte, the
standard 8-bit reduction), PLTE indexing, tRNS transparency (palette
alpha AND the single-transparent-color form for gray/RGB), all five
scanline filters, and Adam7 interlacing (each of the seven passes is
its own independently-filtered sub-image).  Grayscale+alpha and
transparent-color images expand to RGBA so callers always see C in
{1, 3, 4}.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray) -> bytes:
    """Encode HxW (gray), HxWx3 (RGB) or HxWx4 (RGBA) uint8 → PNG."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim == 3 and arr.shape[2] == 1:
        arr = arr[:, :, 0]  # decode_png's gray shape round-trips
    if arr.ndim == 2:
        color_type, channels = 0, 1
        arr = arr[:, :, None]
    elif arr.shape[2] == 3:
        color_type, channels = 2, 3
    elif arr.shape[2] == 4:
        color_type, channels = 6, 4
    else:
        raise ValueError(f"unsupported channel count {arr.shape[2]}")
    h, w = arr.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = np.zeros((h, 1 + w * channels), dtype=np.uint8)
    raw[:, 1:] = arr.reshape(h, w * channels)
    idat = zlib.compress(raw.tobytes(), level=6)
    return _SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _paeth(a, b, c):
    p = a.astype(np.int16) + b.astype(np.int16) - c.astype(np.int16)
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


#: channels per color type (3 = palette: one index channel pre-PLTE)
_TYPE_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
#: legal bit depths per color type (PNG 1.2 §4.1.1)
_TYPE_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}

#: Adam7 pass grid: (x0, y0, dx, dy) per pass
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _unfilter(raw: np.ndarray, w: int, h: int, channels: int,
              depth: int) -> tuple[np.ndarray, int]:
    """Unfilter one (sub-)image of ``h`` scanlines from the head of
    ``raw`` (flat uint8).  Returns (HxWxchannels uint8 samples with
    16-bit reduced to the MSB and sub-byte depths unpacked UNSCALED,
    bytes consumed)."""
    line_bytes = (w * channels * depth + 7) // 8
    stride = 1 + line_bytes
    need = stride * h
    if len(raw) < need:
        raise ValueError("png: truncated image data")
    rows = raw[:need].reshape(h, stride)
    filters = rows[:, 0]
    bpp = max(1, (channels * depth) // 8)
    out = np.zeros((h, line_bytes), dtype=np.uint8)
    for y in range(h):
        line = rows[y, 1:]
        f = filters[y]
        prev = out[y - 1] if y > 0 else np.zeros(line_bytes, np.uint8)
        if f == 0:
            out[y] = line
        elif f == 1:  # Sub
            for x in range(line_bytes):
                left = out[y, x - bpp] if x >= bpp else 0
                out[y, x] = (int(line[x]) + int(left)) & 0xFF
        elif f == 2:  # Up
            out[y] = line + prev
        elif f == 3:  # Average
            for x in range(line_bytes):
                left = int(out[y, x - bpp]) if x >= bpp else 0
                out[y, x] = (int(line[x]) + ((left + int(prev[x])) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for x in range(line_bytes):
                left = out[y, x - bpp] if x >= bpp else np.uint8(0)
                ul = prev[x - bpp] if x >= bpp else np.uint8(0)
                pred = _paeth(
                    np.array(left, dtype=np.uint8),
                    np.array(prev[x], dtype=np.uint8),
                    np.array(ul, dtype=np.uint8),
                )
                out[y, x] = (int(line[x]) + int(pred)) & 0xFF
        else:
            raise ValueError(f"bad filter {f}")
    if depth == 8:
        img = out[:, : w * channels]
    elif depth == 16:
        # most-significant byte = the standard 16→8 reduction
        img = out.reshape(h, -1)[:, : w * channels * 2][:, 0::2]
    else:
        bits = np.unpackbits(out, axis=1)[:, : w * depth]
        weights = 1 << np.arange(depth - 1, -1, -1)
        img = (
            bits.reshape(h, w, depth).astype(np.uint16) * weights
        ).sum(axis=2).astype(np.uint8)
    return img.reshape(h, w, channels), need


def decode_png(data: bytes) -> np.ndarray:
    """Decode PNG bytes → HxWxC uint8 array (C = 1, 3, or 4).

    Full PNG 1.2 still-image surface: every color type × bit depth
    combination, PLTE, both tRNS forms, Adam7.  Palette images decode
    to RGB (RGBA when tRNS adds alpha); grayscale+alpha and
    transparent-color images expand to RGBA."""
    if data[:8] != _SIG:
        raise ValueError("not a PNG")
    pos = 8
    width = height = None
    color_type = depth = interlace = None
    plte = None
    trns = None
    idat = []
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            width, height, depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if (
                color_type not in _TYPE_CHANNELS
                or depth not in _TYPE_DEPTHS[color_type]
                or interlace not in (0, 1)
                or comp != 0
                or filt != 0
            ):
                raise ValueError(
                    f"unsupported PNG (depth={depth}, color={color_type}, interlace={interlace})"
                )
        elif tag == b"PLTE":
            if length % 3 or length > 768:
                raise ValueError("png: bad PLTE length")
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"tRNS":
            trns = body
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("png: missing IHDR")
    if width == 0 or height == 0 or width * height > (1 << 24):
        raise ValueError("png: bad dimensions")
    channels = _TYPE_CHANNELS[color_type]
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), dtype=np.uint8)
    if interlace == 0:
        img, _used = _unfilter(raw, width, height, channels, depth)
    else:
        img = np.zeros((height, width, channels), dtype=np.uint8)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            sub, used = _unfilter(raw[off:], pw, ph, channels, depth)
            off += used
            img[y0::dy, x0::dx] = sub
    max_val = (1 << min(depth, 8)) - 1

    if color_type == 3:
        if plte is None:
            raise ValueError("png: palette image without PLTE")
        idx = img[:, :, 0]
        if int(idx.max()) >= len(plte):
            raise ValueError("png: palette index out of range")
        rgb = plte[idx]
        if trns is not None:
            alpha = np.full(len(plte), 255, np.uint8)
            a = np.frombuffer(trns, dtype=np.uint8)
            alpha[: len(a)] = a
            return np.concatenate([rgb, alpha[idx][..., None]], axis=2)
        return rgb
    if depth < 8:
        # scale sub-byte grayscale to full 8-bit range
        img = (img.astype(np.uint16) * 255 // max_val).astype(np.uint8)
    if color_type == 4:
        # grayscale+alpha → RGBA
        g, a = img[:, :, 0], img[:, :, 1]
        return np.stack([g, g, g, a], axis=2)
    if trns is not None and color_type in (0, 2):
        # single transparent color (tRNS holds 16-bit samples; compare
        # against the SCALED 8-bit image, taking each sample's MSB for
        # depth 16 and rescaling for sub-byte depths, matching the
        # image reduction above)
        vals = struct.unpack(f">{len(trns) // 2}H", trns)
        if color_type == 0:
            key = (
                vals[0] >> 8 if depth == 16
                else vals[0] * 255 // max_val if depth < 8
                else vals[0]
            )
            mask = img[:, :, 0] == key
            rgb = np.repeat(img, 3, axis=2)
        else:
            key = [v >> 8 if depth == 16 else v for v in vals[:3]]
            mask = (img == np.array(key, np.uint8)).all(axis=2)
            rgb = img
        alpha = np.where(mask, 0, 255).astype(np.uint8)
        return np.concatenate([rgb, alpha[..., None]], axis=2)
    return img


# --- perceptual hash ------------------------------------------------


def _to_gray(arr: np.ndarray) -> np.ndarray:
    if arr.ndim == 2:
        return arr.astype(np.float64)
    if arr.shape[2] == 1:
        return arr[:, :, 0].astype(np.float64)
    rgb = arr[:, :, :3].astype(np.float64)
    return 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]


def _block_mean(gray: np.ndarray, n: int = 8) -> np.ndarray:
    h, w = gray.shape
    ys = (np.arange(n + 1) * h) // n
    xs = (np.arange(n + 1) * w) // n
    out = np.zeros((n, n))
    for i in range(n):
        for j in range(n):
            out[i, j] = gray[ys[i] : max(ys[i + 1], ys[i] + 1),
                             xs[j] : max(xs[j + 1], xs[j] + 1)].mean()
    return out


def phash64(arr: np.ndarray) -> int:
    """8x8 average-hash over decoded pixels → signed int64 (LongType)."""
    blocks = _block_mean(_to_gray(arr), 8)
    bits = (blocks > blocks.mean()).flatten()
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    if v >= 1 << 63:
        v -= 1 << 64
    return v


def _pack_bits(bits: np.ndarray) -> int:
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    if v >= 1 << 63:
        v -= 1 << 64
    return v


def dhash64(arr: np.ndarray) -> int:
    """8x8 difference-hash (horizontal gradient sign over a 9x8 block
    grid) → signed int64.  Robust to global brightness/contrast
    shifts phash64's mean threshold is sensitive to."""
    gray = _to_gray(arr)
    h, w = gray.shape
    ys = (np.arange(9) * h) // 8
    xs = (np.arange(10) * w) // 9
    cells = np.zeros((8, 9))
    for i in range(8):
        for j in range(9):
            cells[i, j] = gray[ys[i] : max(ys[i + 1], ys[i] + 1),
                               xs[j] : max(xs[j + 1], xs[j] + 1)].mean()
    return _pack_bits((cells[:, 1:] > cells[:, :-1]).flatten())


_DCT32 = None


def dct_phash64(arr: np.ndarray) -> int:
    """DCT perceptual hash: 32x32 block-mean reduction → 2-D DCT-II →
    top-left 8x8 low-frequency block (DC replaced by its own median
    comparison is the common convention; here the 64 coefficients
    excluding DC plus one sign bit of DC's deviation) thresholded at
    the median → signed int64.  Catches scaled/re-encoded duplicates
    that pixel-domain hashes miss."""
    global _DCT32
    if _DCT32 is None:
        k = np.arange(32)
        _DCT32 = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 64)
        _DCT32[0] *= 1 / np.sqrt(2)
    g = _block_mean(_to_gray(arr), 32)
    d = _DCT32 @ g @ _DCT32.T
    low = d[:8, :8].flatten().copy()
    rest = low[1:]
    bits = np.empty(64, dtype=bool)
    bits[0] = low[0] > np.median(d[:8, :8])
    bits[1:] = rest > np.median(rest)
    return _pack_bits(bits)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    a = a.astype(np.float64)
    b = b.astype(np.float64)
    mse = np.mean((a - b) ** 2)
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)
