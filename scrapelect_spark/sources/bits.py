"""MSB-first bit reader and writer shared by the pure-Python codecs
(FLAC, MP2/MP1, MPEG-1/2 video, H.264 I_PCM, TIFF LZW).

A read takes the bytes a field spans in one step (direct indexing for
one or two bytes, one ``int.from_bytes`` window beyond), whatever the
field's width; ``read_vlc`` peeks its longest code once and matches
prefixes against a ``(code, nbits)`` table.  Error messages reach gate
outputs (``decode_error`` columns), so each codec subclasses
:class:`BitReader` only to name its own strings; the byte-stuffed JPEG
and the LSB-first WebP/GIF bitstreams keep their own readers.
"""

from __future__ import annotations


class BitReader:
    """MSB-first reader over ``data`` starting at byte ``pos``."""

    truncated = "bitstream truncated"
    truncated_unary = "bitstream truncated in unary code"
    truncated_bytes = "bitstream truncated"
    vlc_outside = "VLC code outside the implemented {what} table"
    ue_too_long = "exp-Golomb code too long"

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self._p = pos * 8  # bit cursor
        self._end = len(data) * 8

    @property
    def pos(self) -> int:
        """Byte holding the next unread bit."""
        return self._p >> 3

    @property
    def bit(self) -> int:
        """Bits already consumed of byte ``pos`` (0..7)."""
        return self._p & 7

    def byte_pos(self) -> int:
        """First byte boundary at or after the cursor."""
        return (self._p + 7) >> 3

    def read(self, nbits: int) -> int:
        start = self._p
        end = start + nbits
        if end > self._end:
            raise ValueError(self.truncated)
        self._p = end
        data = self.data
        b0, b1 = start >> 3, (end + 7) >> 3
        # most fields span one or two bytes: index them directly
        if b1 - b0 == 1:
            v = data[b0]
        elif b1 - b0 == 2:
            v = data[b0] << 8 | data[b0 + 1]
        else:
            v = int.from_bytes(data[b0:b1], "big")
        return (v >> (b1 * 8 - end)) & ((1 << nbits) - 1)

    def read_signed(self, nbits: int) -> int:
        """Two's-complement ``nbits``-bit field."""
        v = self.read(nbits)
        if nbits and v >= 1 << (nbits - 1):
            v -= 1 << nbits
        return v

    def read_unary(self) -> int:
        """Count of zero bits before the next one bit (which is
        consumed), scanned a byte at a time."""
        data = self.data
        p = self._p
        byte = p >> 3
        cur = data[byte] & (0xFF >> (p & 7)) if byte < len(data) else 0
        while not cur:
            byte += 1
            if byte >= len(data):
                raise ValueError(self.truncated_unary)
            cur = data[byte]
        one = byte * 8 + 8 - cur.bit_length()  # index of the one bit
        self._p = one + 1
        return one - p

    def _peek(self, nbits: int) -> int:
        """The next ``nbits`` bits without consuming them; the caller
        keeps ``nbits`` within the bits left."""
        start = self._p
        end = start + nbits
        b1 = (end + 7) >> 3
        v = int.from_bytes(self.data[start >> 3 : b1], "big")
        return (v >> (b1 * 8 - end)) & ((1 << nbits) - 1)

    def ue(self) -> int:
        """Exp-Golomb ue(v): at most 31 leading zeros."""
        k = min(32, self._end - self._p)
        w = self._peek(k)
        if not w:
            # 32 zeros is too long; fewer means the stream ended first
            raise ValueError(self.ue_too_long if k == 32 else self.truncated)
        zeros = k - w.bit_length()
        self._p += zeros + 1
        return (1 << zeros) - 1 + self.read(zeros)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)

    def read_vlc(self, table: dict, what: str, max_bits: int = 16):
        """Decode one prefix code from a ``(code, nbits) → value``
        table.  A stream that ends before a code matches is truncated;
        ``max_bits`` bits that match nothing are outside the table."""
        k = min(max_bits, self._end - self._p)
        w = self._peek(k)
        get = table.get
        for n in range(1, k + 1):
            hit = get((w >> (k - n), n))
            if hit is not None:
                self._p += n
                return hit
        if k < max_bits:
            raise ValueError(self.truncated)
        raise ValueError(self.vlc_outside.format(what=what))

    def align(self) -> None:
        """Skip to the next byte boundary."""
        self._p = (self._p + 7) & ~7

    def read_bytes(self, n: int) -> bytes:
        """``n`` whole bytes from a byte-aligned cursor."""
        assert self._p & 7 == 0
        start = self._p >> 3
        if start + n > len(self.data):
            raise ValueError(self.truncated_bytes)
        self._p += n * 8
        return self.data[start : start + n]


class BitWriter:
    """MSB-first writer; :meth:`bytes` needs a byte-aligned end."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0  # pending bits, fewer than 8
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        n = self.nbits + nbits
        if n >= 8:
            buf = self.buf
            while n >= 8:
                n -= 8
                buf.append((acc >> n) & 0xFF)
            acc &= (1 << n) - 1
        self.acc = acc
        self.nbits = n

    def write_unary(self, q: int) -> None:
        """``q`` zero bits then a one bit."""
        # in 32-bit steps, so a long run never makes one huge write
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def ue(self, value: int) -> None:
        """Exp-Golomb ue(v): (n-1) zeros then the n-bit ``value + 1``."""
        k = value + 1
        self.write(k, 2 * k.bit_length() - 1)

    def se(self, value: int) -> None:
        self.ue(2 * value - 1 if value > 0 else -2 * value)

    def align(self) -> None:
        """Pad to a byte boundary with zero bits."""
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def write_bytes(self, data: bytes) -> None:
        assert self.nbits == 0
        self.buf += data

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.buf)
