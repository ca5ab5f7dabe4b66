"""Pure-Python WebP-lossless (VP8L) codec — the modern lossless web
image format, written from the public "WebP Lossless Bitstream
Specification" (RFC 9649 / developers.google.com/speed/webp).

Decoder surface: RIFF/WEBP container or bare VP8L stream; all four
transforms (PREDICTOR with the 14 spatial modes, COLOR with the
signed-fixed-point color-transform deltas, SUBTRACT_GREEN,
COLOR_INDEXING incl. sub-byte pixel bundling for ≤16-color palettes);
canonical prefix codes (both "simple" 1/2-symbol codes and the
code-length-coded normal form with 16/17/18 repeat codes and the
optional max-symbol cap); meta-prefix groups via the entropy image;
LZ77 backward references with the 120-entry 2D distance-plane mapping
plus direct distances; and the hashed color cache (1-11 bits).

Encoder surface (the exact-roundtrip subset): SUBTRACT_GREEN, one
prefix-code group, distance-1 LZ77 run collapsing, canonical
Huffman codes (length-limited, emitted in simple or code-length-coded
form as fits).  Bit packing is LSB-first throughout; prefix-code bits
are written/read most-significant-code-bit first, matching the spec's
canonical-code definition.

Like the sibling JPEG/GIF/FLAC codecs this is spec-derived original
code; the reference engine (suaviloquence/scrapelect) has no image
layer at all.
"""

from __future__ import annotations

import numpy as np

from .riff import chunk, riff, walk

_MAX_PIXELS = 1 << 24  # same decoder cap as the JPEG/GIF/BMP codecs


# --------------------------------------------------------------- bit I/O


class BitReader:
    """LSB-first bit reader (VP8L convention)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            byte = self.pos >> 3
            if byte >= len(self.data):
                raise ValueError("vp8l: bitstream overrun")
            v |= ((self.data[byte] >> (self.pos & 7)) & 1) << i
            self.pos += 1
        return v

    def read_code_bit(self) -> int:
        byte = self.pos >> 3
        if byte >= len(self.data):
            raise ValueError("vp8l: bitstream overrun")
        b = (self.data[byte] >> (self.pos & 7)) & 1
        self.pos += 1
        return b


class BitWriter:
    """LSB-first bit writer."""

    def __init__(self):
        self.bytes = bytearray()
        self.bit = 0

    def write(self, value: int, n: int) -> None:
        for i in range(n):
            if self.bit == 0:
                self.bytes.append(0)
            if (value >> i) & 1:
                self.bytes[-1] |= 1 << self.bit
            self.bit = (self.bit + 1) & 7

    def write_code(self, code: int, length: int) -> None:
        """Prefix-code bits, MSB of the canonical code first."""
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)

    def getvalue(self) -> bytes:
        return bytes(self.bytes)


# ------------------------------------------------------- canonical codes


class PrefixCode:
    """Canonical prefix decoder built from per-symbol code lengths."""

    def __init__(self, lengths):
        nz = [(l, s) for s, l in enumerate(lengths) if l > 0]
        if not nz:
            raise ValueError("vp8l: empty prefix code")
        if len(nz) == 1:
            self.single = nz[0][1]
            self.table = None
            return
        self.single = None
        if any(l > 15 for l, _ in nz):
            raise ValueError("vp8l: code length exceeds 15")
        kraft = sum(1 << (15 - l) for l, _ in nz)
        if kraft > (1 << 15):
            raise ValueError("vp8l: over-subscribed prefix code")
        # DEFLATE-style canonical assignment: by (length, symbol)
        table = {}
        code = 0
        last_l = None
        for l, s in sorted(nz):
            code = 0 if last_l is None else (code + 1) << (l - last_l)
            table[(l, code)] = s
            last_l = l
        self.table = table
        self.max_len = max(l for l, _ in nz)

    def decode(self, br: BitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        length = 0
        while length <= self.max_len:
            code = (code << 1) | br.read_code_bit()
            length += 1
            sym = self.table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("vp8l: invalid prefix code bits")


def canonical_codes(lengths) -> dict[int, tuple[int, int]]:
    """lengths[sym] → {sym: (code, length)} canonical assignment."""
    nz = sorted((l, s) for s, l in enumerate(lengths) if l > 0)
    out = {}
    code = 0
    last_l = None
    for l, s in nz:
        code = 0 if last_l is None else (code + 1) << (l - last_l)
        out[s] = (code, l)
        last_l = l
    return out


def limited_huffman_lengths(freqs: dict[int, int], limit: int) -> dict[int, int]:
    """Huffman code lengths capped at ``limit`` (clamp + Kraft repair)."""
    import heapq

    syms = [s for s, c in freqs.items() if c > 0]
    if not syms:
        return {}
    if len(syms) == 1:
        return {syms[0]: 1}
    heap = [(freqs[s], i, (s,)) for i, s in enumerate(syms)]
    heapq.heapify(heap)
    lengths = {s: 0 for s in syms}
    nxt = len(syms)
    while len(heap) > 1:
        ca, _, sa = heapq.heappop(heap)
        cb, _, sb = heapq.heappop(heap)
        for s in sa + sb:
            lengths[s] += 1
        heapq.heappush(heap, (ca + cb, nxt, sa + sb))
        nxt += 1
    for s in lengths:
        if lengths[s] > limit:
            lengths[s] = limit
    # repair Kraft sum: lengthen the least-frequent still-short symbols
    def kraft():
        return sum(1 << (limit - l) for l in lengths.values())

    order = sorted(syms, key=lambda s: (freqs[s], s))
    while kraft() > (1 << limit):
        for s in order:
            if lengths[s] < limit:
                lengths[s] += 1
                break
        else:
            raise ValueError("cannot satisfy Kraft inequality")
    return lengths


# -------------------------------------------------- value/prefix mapping

_CODE_LENGTH_ORDER = [
    17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15
]


def _prefix_decode_value(sym: int, br: BitReader) -> int:
    """LZ77 length / distance prefix symbol → value (≥ 1)."""
    if sym < 4:
        return sym + 1
    extra = (sym - 2) >> 1
    offset = (2 + (sym & 1)) << extra
    return offset + br.read(extra) + 1


def _prefix_encode_value(value: int) -> tuple[int, int, int]:
    """value (≥1) → (symbol, extra_bits, extra_value)."""
    x = value - 1
    if x < 4:
        return x, 0, 0
    b = x.bit_length() - 1
    second = (x >> (b - 1)) & 1
    sym = 2 * b + second
    extra_bits = b - 1
    extra_val = x - ((2 + second) << extra_bits)
    return sym, extra_bits, extra_val


def _make_distance_table() -> list[tuple[int, int]]:
    """The 120-entry plane-code → (dx, dy) neighborhood map: offsets
    with dy in 0..7 (dx 1..8 when dy=0, else -8..8) sorted by squared
    distance, ties by larger dy first, then positive dx first."""
    cand = []
    for y in range(8):
        for x in range(-8, 9):
            if y == 0 and x <= 0:
                continue
            cand.append((x, y))
    cand.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1], 0 if p[0] > 0 else 1))
    return cand[:120]


_DIST_TABLE = _make_distance_table()


def _plane_code_to_distance(code: int, xsize: int) -> int:
    if code > 120:
        return code - 120
    dx, dy = _DIST_TABLE[code - 1]
    dist = dy * xsize + dx
    return dist if dist >= 1 else 1


# ---------------------------------------------------------- entropy image


def _read_prefix_code(br: BitReader, alphabet_size: int) -> PrefixCode:
    if br.read(1):  # simple code
        num_symbols = br.read(1) + 1
        first_8 = br.read(1)
        s0 = br.read(8 if first_8 else 1)
        lengths = [0] * alphabet_size
        if num_symbols == 2:
            s1 = br.read(8)
            if s0 >= alphabet_size or s1 >= alphabet_size or s0 == s1:
                raise ValueError("vp8l: bad simple code symbols")
            lengths[s0] = lengths[s1] = 1
        else:
            if s0 >= alphabet_size:
                raise ValueError("vp8l: bad simple code symbol")
            lengths[s0] = 1
        return PrefixCode(lengths)
    # normal form: code lengths are themselves prefix-coded
    num_code_lengths = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_code_lengths):
        cl_lengths[_CODE_LENGTH_ORDER[i]] = br.read(3)
    cl_code = PrefixCode(cl_lengths)
    if br.read(1):  # explicit max-symbol cap
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev_len = 8
    sym = 0
    while sym < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        cl = cl_code.decode(br)
        if cl < 16:
            lengths[sym] = cl
            sym += 1
            if cl != 0:
                prev_len = cl
        elif cl == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if sym >= alphabet_size:
                    raise ValueError("vp8l: code length repeat overflow")
                lengths[sym] = prev_len
                sym += 1
        elif cl == 17:
            sym += 3 + br.read(3)
        else:  # 18
            sym += 11 + br.read(7)
    if sym > alphabet_size:
        raise ValueError("vp8l: code length overflow")
    return PrefixCode(lengths)


class _Group:
    __slots__ = ("green", "red", "blue", "alpha", "dist")

    def __init__(self, br: BitReader, cache_size: int):
        self.green = _read_prefix_code(br, 256 + 24 + cache_size)
        self.red = _read_prefix_code(br, 256)
        self.blue = _read_prefix_code(br, 256)
        self.alpha = _read_prefix_code(br, 256)
        self.dist = _read_prefix_code(br, 40)


def _decode_image_data(
    br: BitReader, w: int, h: int, is_level0: bool
) -> np.ndarray:
    """Spatially-coded ARGB image → (h, w) uint32 ARGB array."""
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("vp8l: bad color cache size")
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [0] * cache_size

    meta = None
    meta_bits = 0
    if is_level0 and br.read(1):
        meta_bits = br.read(3) + 2
        mw = (w + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        meta = _decode_image_data(br, mw, mh, False)
        # meta code index lives in (red << 8) | green
        num_groups = int(((meta >> 8) & 0xFFFF).max()) + 1
    else:
        num_groups = 1
    groups = [_Group(br, cache_size) for _ in range(num_groups)]

    out = np.zeros(h * w, dtype=np.uint32)
    pos = 0
    total = h * w
    while pos < total:
        g = groups[0]
        if meta is not None:
            x, y = pos % w, pos // w
            midx = int(meta[y >> meta_bits, x >> meta_bits])
            g = groups[(midx >> 8) & 0xFFFF]
        sym = g.green.decode(br)
        if sym < 256:  # literal
            green = sym
            red = g.red.decode(br)
            blue = g.blue.decode(br)
            alpha = g.alpha.decode(br)
            argb = (alpha << 24) | (red << 16) | (green << 8) | blue
            out[pos] = argb
            if cache_size:
                cache[(0x1E35A7BD * argb & 0xFFFFFFFF) >> (32 - cache_bits)] = argb
            pos += 1
        elif sym < 256 + 24:  # LZ77 backward reference
            length = _prefix_decode_value(sym - 256, br)
            dist_sym = g.dist.decode(br)
            plane = _prefix_decode_value(dist_sym, br)
            dist = _plane_code_to_distance(plane, w)
            if dist > pos or pos + length > total:
                raise ValueError("vp8l: bad backward reference")
            for _ in range(length):
                argb = int(out[pos - dist])
                out[pos] = argb
                if cache_size:
                    cache[
                        (0x1E35A7BD * argb & 0xFFFFFFFF) >> (32 - cache_bits)
                    ] = argb
                pos += 1
        else:  # color cache hit
            if not cache_size:
                raise ValueError("vp8l: cache symbol without cache")
            idx = sym - 256 - 24
            out[pos] = cache[idx]
            pos += 1
    return out.reshape(h, w)


# ------------------------------------------------------ inverse transforms


def _avg2(a: int, b: int) -> int:
    # per-channel (a + b) >> 1 on packed ARGB
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _channels(p: int) -> tuple[int, int, int, int]:
    return (p >> 24) & 255, (p >> 16) & 255, (p >> 8) & 255, p & 255


def _select(l: int, t: int, tl: int) -> int:
    la, lr, lg, lb = _channels(l)
    ta, tr, tg, tb = _channels(t)
    ca, cr, cg, cb = _channels(tl)
    pa, pr, pg, pb = la + ta - ca, lr + tr - cr, lg + tg - cg, lb + tb - cb
    p_l = abs(pa - la) + abs(pr - lr) + abs(pg - lg) + abs(pb - lb)
    p_t = abs(pa - ta) + abs(pr - tr) + abs(pg - tg) + abs(pb - tb)
    return l if p_l < p_t else t


def _clamp_add_full(l: int, t: int, tl: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        v = ((l >> sh) & 255) + ((t >> sh) & 255) - ((tl >> sh) & 255)
        out |= max(0, min(255, v)) << sh
    return out


def _clamp_add_half(l: int, t: int, tl: int) -> int:
    ave = _avg2(l, t)
    out = 0
    for sh in (24, 16, 8, 0):
        a = (ave >> sh) & 255
        b = (tl >> sh) & 255
        v = a + int((a - b) / 2)  # truncating division per spec
        out |= max(0, min(255, v)) << sh
    return out


def _apply_inverse_predictor(
    img: np.ndarray, modes: np.ndarray, size_bits: int
) -> None:
    h, w = img.shape
    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = int(img[0, x - 1])  # mode forced to L on row 0
            elif x == 0:
                pred = int(img[y - 1, 0])  # mode forced to T on col 0
            else:
                mode = int(modes[y >> size_bits, x >> size_bits]) >> 8 & 255
                l = int(img[y, x - 1])
                t = int(img[y - 1, x])
                tl = int(img[y - 1, x - 1])
                # TR at the right edge wraps to the row start one line
                # down in flat order (libwebp's pos - xsize + 1)
                tr = int(img[y - 1, x + 1]) if x + 1 < w else int(img[y, 0])
                if mode == 0:
                    pred = 0xFF000000
                elif mode == 1:
                    pred = l
                elif mode == 2:
                    pred = t
                elif mode == 3:
                    pred = tr
                elif mode == 4:
                    pred = tl
                elif mode == 5:
                    pred = _avg2(_avg2(l, tr), t)
                elif mode == 6:
                    pred = _avg2(l, tl)
                elif mode == 7:
                    pred = _avg2(l, t)
                elif mode == 8:
                    pred = _avg2(tl, t)
                elif mode == 9:
                    pred = _avg2(t, tr)
                elif mode == 10:
                    pred = _avg2(_avg2(l, tl), _avg2(t, tr))
                elif mode == 11:
                    pred = _select(l, t, tl)
                elif mode == 12:
                    pred = _clamp_add_full(l, t, tl)
                elif mode == 13:
                    pred = _clamp_add_half(l, t, tl)
                else:
                    raise ValueError(f"vp8l: bad predictor mode {mode}")
            # residual + prediction, per-channel modular
            img[y, x] = _add_pixels(int(img[y, x]), pred)


def _add_pixels(a: int, b: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        out |= ((((a >> sh) & 255) + ((b >> sh) & 255)) & 255) << sh
    return out


def _ct_delta(t: int, c: int) -> int:
    # (int8)t * (int8)c >> 5, arithmetic shift
    ts = t - 256 if t >= 128 else t
    cs = c - 256 if c >= 128 else c
    return (ts * cs) >> 5


def _apply_inverse_color_transform(
    img: np.ndarray, cte: np.ndarray, size_bits: int
) -> None:
    h, w = img.shape
    for y in range(h):
        for x in range(w):
            e = int(cte[y >> size_bits, x >> size_bits])
            g2r = e & 255
            g2b = (e >> 8) & 255
            r2b = (e >> 16) & 255
            p = int(img[y, x])
            a, r, g, b = _channels(p)
            r = (r + _ct_delta(g2r, g)) & 255
            b = (b + _ct_delta(g2b, g) + _ct_delta(r2b, r)) & 255
            img[y, x] = (a << 24) | (r << 16) | (g << 8) | b


def _apply_inverse_subtract_green(img: np.ndarray) -> None:
    g = (img >> 8) & 255
    r = (((img >> 16) & 255) + g) & 255
    b = ((img & 255) + g) & 255
    img[...] = (img & 0xFF00FF00) | (r << 16) | b


def _apply_color_indexing(
    img: np.ndarray, palette: np.ndarray, width_bits: int, w: int
) -> np.ndarray:
    h = img.shape[0]
    if width_bits == 0:
        idx = (img >> 8) & 255
    else:
        per = 1 << width_bits  # pixels packed per green byte
        bits = 8 >> width_bits  # bits per pixel index
        packed = ((img >> 8) & 255).astype(np.int64)
        cols = []
        for i in range(per):
            cols.append((packed >> (i * bits)) & ((1 << bits) - 1))
        idx = np.stack(cols, axis=2).reshape(h, -1)[:, :w]
    idx = idx.astype(np.int64)
    if idx.max() >= len(palette):
        raise ValueError("vp8l: palette index out of range")
    return palette[idx]


# ----------------------------------------------------------------- decode


def decode_webp(data: bytes) -> np.ndarray:
    """WebP (RIFF) or bare VP8L stream → HxWx4 RGBA uint8."""
    if data[:4] == b"RIFF":
        if len(data) < 12 or data[8:12] != b"WEBP":
            raise ValueError("webp: bad RIFF container")
        for fourcc, start, length in walk(data, 12, len(data)):
            if fourcc == b"VP8L":
                data = data[start : start + length]
                break
        else:
            raise ValueError("webp: no VP8L chunk (lossy VP8 unsupported)")
    if not data or data[0] != 0x2F:
        raise ValueError("vp8l: bad signature")
    br = BitReader(data)
    br.pos = 8
    w = br.read(14) + 1
    h = br.read(14) + 1
    _alpha_hint = br.read(1)
    version = br.read(3)
    if version != 0:
        raise ValueError(f"vp8l: unsupported version {version}")
    if w * h > _MAX_PIXELS:
        raise ValueError("vp8l: image too large")

    # transforms (each at most once), applied inversely in reverse order
    transforms = []
    eff_w = w
    seen = set()
    while br.read(1):
        ttype = br.read(2)
        if ttype in seen:
            raise ValueError("vp8l: duplicate transform")
        seen.add(ttype)
        if ttype == 0:  # PREDICTOR
            size_bits = br.read(3) + 2
            bw = (eff_w + (1 << size_bits) - 1) >> size_bits
            bh = (h + (1 << size_bits) - 1) >> size_bits
            sub = _decode_image_data(br, bw, bh, False)
            transforms.append(("pred", size_bits, sub))
        elif ttype == 1:  # COLOR
            size_bits = br.read(3) + 2
            bw = (eff_w + (1 << size_bits) - 1) >> size_bits
            bh = (h + (1 << size_bits) - 1) >> size_bits
            sub = _decode_image_data(br, bw, bh, False)
            transforms.append(("color", size_bits, sub))
        elif ttype == 2:  # SUBTRACT_GREEN
            transforms.append(("subgreen",))
        else:  # COLOR_INDEXING
            n_colors = br.read(8) + 1
            pal_deltas = _decode_image_data(br, n_colors, 1, False)[0]
            # palette entries are per-channel delta-coded
            pal = np.zeros(n_colors, dtype=np.uint32)
            prev = 0
            for i in range(n_colors):
                prev = _add_pixels(prev, int(pal_deltas[i]))
                pal[i] = prev
            if n_colors <= 2:
                width_bits = 3
            elif n_colors <= 4:
                width_bits = 2
            elif n_colors <= 16:
                width_bits = 1
            else:
                width_bits = 0
            transforms.append(("index", width_bits, pal))
            per = 1 << width_bits
            eff_w = (eff_w + per - 1) // per

    img = _decode_image_data(br, eff_w, h, True)

    for t in reversed(transforms):
        if t[0] == "pred":
            _apply_inverse_predictor(img, t[2], t[1])
        elif t[0] == "color":
            _apply_inverse_color_transform(img, t[2], t[1])
        elif t[0] == "subgreen":
            _apply_inverse_subtract_green(img)
        else:
            img = _apply_color_indexing(img, t[2], t[1], w)

    if img.shape != (h, w):
        raise ValueError("vp8l: decoded dimensions mismatch")
    a = (img >> 24) & 255
    r = (img >> 16) & 255
    g = (img >> 8) & 255
    b = img & 255
    return np.stack([r, g, b, a], axis=2).astype(np.uint8)


# ----------------------------------------------------------------- encode


def _write_prefix_code(
    bw: BitWriter, lengths_map: dict[int, int], alphabet_size: int
):
    """Emit a prefix code: simple form when possible, else the
    code-length-coded normal form."""
    used = sorted(s for s, l in lengths_map.items() if l > 0)
    if 1 <= len(used) <= 2 and all(s <= 255 for s in used):
        bw.write(1, 1)  # simple
        bw.write(len(used) - 1, 1)
        s0 = used[0]
        if s0 <= 1 and len(used) == 1:
            bw.write(0, 1)  # first symbol in 1 bit
            bw.write(s0, 1)
        else:
            bw.write(1, 1)
            bw.write(s0, 8)
        if len(used) == 2:
            bw.write(used[1], 8)
        return
    bw.write(0, 1)  # normal form
    lengths = [lengths_map.get(s, 0) for s in range(alphabet_size)]
    # RLE the length sequence with 16/17/18
    seq: list[tuple[int, int, int]] = []  # (symbol, extra_bits, extra_val)
    i = 0
    prev_nz = 8
    n = len(lengths)
    while i < n:
        if lengths[i] == 0:
            j = i
            while j < n and lengths[j] == 0:
                j += 1
            run = j - i
            # trailing zeros must be emitted too: without the
            # max-symbol cap the decoder keeps reading until the
            # alphabet is full
            while run >= 11:
                take = min(run, 138)
                seq.append((18, 7, take - 11))
                run -= take
            while run >= 3:
                take = min(run, 10)
                seq.append((17, 3, take - 3))
                run -= take
            for _ in range(run):
                seq.append((0, 0, 0))
            i = j
        else:
            l = lengths[i]
            seq.append((l, 0, 0))
            prev = l
            i += 1
            run = 0
            while i + run < n and lengths[i + run] == prev:
                run += 1
            emitted = 0
            while run - emitted >= 3:
                take = min(run - emitted, 6)
                seq.append((16, 2, take - 3))
                emitted += take
            for _ in range(run - emitted):
                seq.append((prev, 0, 0))
            i += run
    # code-length code over the 19-symbol alphabet
    cl_freq: dict[int, int] = {}
    for s, _, _ in seq:
        cl_freq[s] = cl_freq.get(s, 0) + 1
    if not cl_freq:
        cl_freq = {0: 1}
    cl_lengths = limited_huffman_lengths(cl_freq, 7)
    if len(cl_lengths) == 1:
        # single code-length symbol still needs a wire length of 1
        (only,) = cl_lengths
        cl_lengths[only] = 1
    order_len = [cl_lengths.get(s, 0) for s in _CODE_LENGTH_ORDER]
    num = max(
        (i + 1 for i, l in enumerate(order_len) if l > 0), default=4
    )
    num = max(num, 4)
    bw.write(num - 4, 4)
    for i in range(num):
        bw.write(order_len[i], 3)
    bw.write(0, 1)  # no explicit max-symbol cap
    cl_codes = canonical_codes(
        [cl_lengths.get(s, 0) for s in range(19)]
    )
    single = len(cl_codes) == 1
    for s, eb, ev in seq:
        if not single:
            code, clen = cl_codes[s]
            bw.write_code(code, clen)
        if eb:
            bw.write(ev, eb)


def encode_webp(arr: np.ndarray) -> bytes:
    """HxW gray / HxWx3 RGB / HxWx4 RGBA uint8 → lossless WebP (RIFF +
    VP8L: SUBTRACT_GREEN, one prefix group, distance-1 run LZ77)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None].repeat(3, axis=2)
    if a.ndim == 3 and a.shape[2] == 1:
        a = a.repeat(3, axis=2)
    if a.ndim != 3 or a.shape[2] not in (3, 4):
        raise ValueError("expected gray, RGB, or RGBA")
    h, w = a.shape[:2]
    if w > 1 << 14 or h > 1 << 14:
        raise ValueError("webp: max dimension is 16384")
    alpha = (
        a[:, :, 3].astype(np.uint32)
        if a.shape[2] == 4
        else np.full((h, w), 255, np.uint32)
    )
    r = a[:, :, 0].astype(np.uint32)
    g = a[:, :, 1].astype(np.uint32)
    b = a[:, :, 2].astype(np.uint32)
    # forward subtract-green
    r = (r - g) & 255
    b = (b - g) & 255
    argb = (alpha << 24) | (r << 16) | (g << 8) | b
    flat = argb.ravel()

    # tokens: literals + distance-1 runs (length ≤ 4096)
    tokens = []
    i = 0
    n = len(flat)
    while i < n:
        if i > 0 and flat[i] == flat[i - 1]:
            j = i
            while j < n and flat[j] == flat[j - 1] and j - i < 4096:
                j += 1
            if j - i >= 3:
                tokens.append(("copy", j - i))
                i = j
                continue
        tokens.append(("lit", int(flat[i])))
        i += 1

    gfreq: dict[int, int] = {}
    rfreq: dict[int, int] = {}
    bfreq: dict[int, int] = {}
    afreq: dict[int, int] = {}
    dfreq: dict[int, int] = {}
    # distance 1 = plane code for (dx=1, dy=0)
    plane_one = _DIST_TABLE.index((1, 0)) + 1
    dist_sym, dist_eb, dist_ev = _prefix_encode_value(plane_one)
    for t in tokens:
        if t[0] == "lit":
            p = t[1]
            gfreq[(p >> 8) & 255] = gfreq.get((p >> 8) & 255, 0) + 1
            rfreq[(p >> 16) & 255] = rfreq.get((p >> 16) & 255, 0) + 1
            bfreq[p & 255] = bfreq.get(p & 255, 0) + 1
            afreq[(p >> 24) & 255] = afreq.get((p >> 24) & 255, 0) + 1
        else:
            ls, _, _ = _prefix_encode_value(t[1])
            gfreq[256 + ls] = gfreq.get(256 + ls, 0) + 1
            dfreq[dist_sym] = dfreq.get(dist_sym, 0) + 1
    for f in (gfreq, rfreq, bfreq, afreq, dfreq):
        if not f:
            f[0] = 1

    bw = BitWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1 if a.shape[2] == 4 else 0, 1)
    bw.write(0, 3)  # version
    # one transform: subtract-green
    bw.write(1, 1)
    bw.write(2, 2)
    bw.write(0, 1)  # no more transforms
    bw.write(0, 1)  # no color cache
    bw.write(0, 1)  # no meta-prefix
    glen = limited_huffman_lengths(gfreq, 15)
    rlen = limited_huffman_lengths(rfreq, 15)
    blen = limited_huffman_lengths(bfreq, 15)
    alen = limited_huffman_lengths(afreq, 15)
    dlen = limited_huffman_lengths(dfreq, 15)
    _write_prefix_code(bw, glen, 256 + 24)
    _write_prefix_code(bw, rlen, 256)
    _write_prefix_code(bw, blen, 256)
    _write_prefix_code(bw, alen, 256)
    _write_prefix_code(bw, dlen, 40)
    gc = canonical_codes([glen.get(s, 0) for s in range(256 + 24)])
    rc = canonical_codes([rlen.get(s, 0) for s in range(256)])
    bc = canonical_codes([blen.get(s, 0) for s in range(256)])
    ac = canonical_codes([alen.get(s, 0) for s in range(256)])
    dc = canonical_codes([dlen.get(s, 0) for s in range(40)])

    def emit(codes, sym, single_ok):
        if len(codes) == 1:
            return  # 0-bit single-symbol code
        code, clen = codes[sym]
        bw.write_code(code, clen)

    for t in tokens:
        if t[0] == "lit":
            p = t[1]
            emit(gc, (p >> 8) & 255, True)
            emit(rc, (p >> 16) & 255, True)
            emit(bc, p & 255, True)
            emit(ac, (p >> 24) & 255, True)
        else:
            ls, leb, lev = _prefix_encode_value(t[1])
            emit(gc, 256 + ls, True)
            if leb:
                bw.write(lev, leb)
            emit(dc, dist_sym, True)
            if dist_eb:
                bw.write(dist_ev, dist_eb)

    return riff(b"WEBP", chunk(b"VP8L", bw.getvalue()))
