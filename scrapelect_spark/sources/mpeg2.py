"""MPEG-2 video (H.262 / ISO 13818-2) — the intra tier of the
DVD/broadcast-era codec, built on the MPEG-1 machinery this package
already proves (sources/mpeg1.py shares the DCT, the DC-size and
Table-B.14 AC VLC tables, and the start-code framing; ISO 13818-2 is
a superset of 11172-2).

REAL here, from the public spec structure:

- sequence_extension (extension start code 0xB5, identifier 0001):
  profile_and_level (Main@Main 0x48), progressive_sequence,
  chroma_format 4:2:0, size/bit-rate/vbv extensions — the header that
  *makes* a stream MPEG-2 rather than MPEG-1.
- picture_coding_extension (identifier 1000): the four f_codes
  (1111 = unused for intra), intra_dc_precision, picture_structure
  (frame), frame_pred_frame_dct, q_scale_type, intra_vlc_format,
  alternate_scan, progressive_frame.
- MPEG-2 escape coding: 6-bit ESCAPE + run(6) + a SINGLE 12-bit
  two's-complement level (-2047..2047, -2048 and 0 forbidden) —
  replacing MPEG-1's 8/16-bit double-escape.
- MPEG-2 intra dequantisation (§7.4): F'' = (2·QF·W·qscale)/32 with
  truncation toward zero, saturation to [-2048, 2047], and the
  MISMATCH CONTROL that replaces MPEG-1's per-coefficient
  oddification: if the sum of all coefficients is even, the LSB of
  F''[7][7] is toggled.
- Slice-per-macroblock-row layout (mandatory in MP@ML), DC prediction
  reset per slice at 2^(precision+2).

Declared scope boundary (NotImplementedError → the operators'
per-row error capture): P/B pictures (MPEG-2 frame/field motion —
MPEG-1 P/B in this package already proves the motion-compensation
tier), field pictures / interlace, q_scale_type=1 (non-linear
quantiser), intra_vlc_format=1 (Table B.15), alternate scan, DC
precision above 8 bits, and custom quantiser matrices.
"""

from __future__ import annotations

import numpy as np

from .jpeg import ZIGZAG, _A, _pad_replicate, rgb_to_ycbcr, ycbcr_to_rgb
from .mpeg1 import (
    INTRA_Q,
    MAX_PIXELS,
    _AC_DEC,
    _AC_TABLE,
    _BitReader,
    _BitWriter,
    _DC_CHROMA,
    _DC_CHROMA_DEC,
    _DC_LUMA,
    _DC_LUMA_DEC,
    _EOB,
    _ESCAPE,
    _EXT,
    _GOP,
    _PIC,
    _PICTURE_RATES,
    _SEQ,
    _SEQ_END,
    _SLICE_MAX,
    _mb_blocks,
    _next_start_code,
    _read_dc,
    _write_dc,
)

__all__ = ["encode_m2v", "decode_m2v_frames", "mpeg2_meta", "is_m2v"]


# --- MPEG-2 coefficient coding ---------------------------------------


def _write_ac2(w: _BitWriter, run: int, level: int) -> None:
    """Table B.14 VLC, else the MPEG-2 escape (12-bit signed level)."""
    hit = _AC_TABLE.get((run, abs(level)))
    if hit is not None:
        w.write(hit[0], hit[1])
        w.write(1 if level < 0 else 0, 1)
        return
    if not (0 <= run < 64) or level == 0 or not (-2047 <= level <= 2047):
        raise ValueError("mpeg2: AC coefficient out of escape range")
    w.write(_ESCAPE[0], _ESCAPE[1])
    w.write(run, 6)
    w.write(level & 0xFFF, 12)


def _read_ac2(r: _BitReader):
    """One MPEG-2 dct coefficient: (run, level) or None at EOB."""
    hit = r.read_vlc(_AC_DEC, "dct_coefficient", max_bits=12)
    if hit == "eob":
        return None
    if hit == "esc":
        run = r.read(6)
        level = r.read(12)
        if level & 0x800:
            level -= 0x1000
        if level == 0 or level == -2048:
            raise ValueError("mpeg2: forbidden escape level")
        return run, level
    run, level = hit
    sign = r.read(1)
    return run, -level if sign else level


def _quantize_intra2(block: np.ndarray, qscale: int) -> np.ndarray:
    """8x8 float DCT coefficients → zigzag levels, inverting the §7.4
    reconstruction (intra_dc_precision 8 → dc multiplier 8)."""
    out = np.zeros(64, dtype=np.int64)
    f = block.reshape(64)[ZIGZAG]
    q = INTRA_Q.reshape(64)[ZIGZAG].astype(np.float64)
    out[0] = int(np.round(f[0] / 8.0))
    ac = np.round(16.0 * f[1:] / (qscale * q[1:])).astype(np.int64)
    out[1:] = np.clip(ac, -2047, 2047)
    return out


def _dequant_intra2(zz: np.ndarray, qscale: int) -> np.ndarray:
    """zigzag levels → 8x8 coefficients per §7.4.2-7.4.4: linear
    quantiser_scale, truncating divide by 32, saturation, and the
    single-coefficient mismatch control (NOT MPEG-1 oddification)."""
    q = INTRA_Q.reshape(64)[ZIGZAG].astype(np.int64)
    rec = np.fix((2 * zz * qscale * q) / 32.0).astype(np.int64)
    rec[0] = zz[0] * 8  # intra_dc_mult for 8-bit precision
    rec = np.clip(rec, -2048, 2047)
    if int(rec.sum()) % 2 == 0:
        out_idx = int(np.where(ZIGZAG == 63)[0][0])
        rec[out_idx] ^= 1  # toggle LSB of F''[7][7]
    out = np.zeros(64, dtype=np.int64)
    out[ZIGZAG] = rec
    return out.reshape(8, 8)


# --- encoder ---------------------------------------------------------


def encode_m2v(frames, fps: float = 25.0, qscale: int = 4) -> bytes:
    """RGB frames → MPEG-2 MP@ML intra-only elementary stream (.m2v):
    every picture an I-frame (progressive, frame_pred_frame_dct,
    linear quantiser, Table B.14, zigzag scan), one slice per
    macroblock row.  Deterministic output."""
    if not frames:
        raise ValueError("mpeg2: no frames")
    if not (1 <= qscale <= 31):
        raise ValueError("mpeg2: quantizer_scale must be 1..31")
    h, w = frames[0].shape[:2]
    if not (1 <= w < 4096 and 1 <= h < 4096):
        raise ValueError("mpeg2: dimensions must fit 12 bits")
    mbw, mbh = (w + 15) // 16, (h + 15) // 16
    if mbh > _SLICE_MAX:
        raise ValueError("mpeg2: height exceeds slice addressing range")
    rate_code = min(
        _PICTURE_RATES, key=lambda c: abs(_PICTURE_RATES[c] - fps)
    )
    out = bytearray()
    sw = _BitWriter()
    sw.write(w, 12)
    sw.write(h, 12)
    sw.write(1, 4)  # aspect: square samples
    sw.write(rate_code, 4)
    sw.write(0x3FFFF, 18)  # bit_rate low bits: variable
    sw.write(1, 1)  # marker
    sw.write(0, 10)  # vbv_buffer_size low bits
    sw.write(0, 1)  # constrained_parameters_flag
    sw.write(0, 1)  # load_intra_quantiser_matrix
    sw.write(0, 1)  # load_non_intra_quantiser_matrix
    sw.align()
    out += b"\x00\x00\x01" + bytes([_SEQ]) + sw.bytes()
    # sequence_extension — this is what makes the stream MPEG-2
    ew = _BitWriter()
    ew.write(0b0001, 4)  # extension_start_code_identifier: sequence
    ew.write(0x48, 8)  # profile_and_level: Main@Main
    ew.write(1, 1)  # progressive_sequence
    ew.write(0b01, 2)  # chroma_format: 4:2:0
    ew.write(0, 2)  # horizontal_size_extension
    ew.write(0, 2)  # vertical_size_extension
    ew.write(0, 12)  # bit_rate_extension
    ew.write(1, 1)  # marker
    ew.write(0, 8)  # vbv_buffer_size_extension
    ew.write(0, 1)  # low_delay
    ew.write(0, 2)  # frame_rate_extension_n
    ew.write(0, 5)  # frame_rate_extension_d
    ew.align()
    out += b"\x00\x00\x01" + bytes([_EXT]) + ew.bytes()

    for idx, frame in enumerate(frames):
        if frame.shape[:2] != (h, w):
            raise ValueError("mpeg2: frame dimensions differ")
        ycc = rgb_to_ycbcr(np.asarray(frame, dtype=np.uint8))
        y = _pad_replicate(ycc[..., 0], 16, 16)
        cb2 = _pad_replicate(ycc[..., 1], 16, 16)
        cr2 = _pad_replicate(ycc[..., 2], 16, 16)
        cb = cb2.reshape(mbh * 8, 2, mbw * 8, 2).mean(axis=(1, 3))
        cr = cr2.reshape(mbh * 8, 2, mbw * 8, 2).mean(axis=(1, 3))
        pw = _BitWriter()
        pw.write(idx % 1024, 10)  # temporal_reference
        pw.write(1, 3)  # picture_coding_type: I
        pw.write(0xFFFF, 16)  # vbv_delay
        pw.write(0, 1)  # extra_bit_picture
        pw.align()
        out += b"\x00\x00\x01" + bytes([_PIC]) + pw.bytes()
        xw = _BitWriter()
        xw.write(0b1000, 4)  # identifier: picture coding extension
        for _ in range(4):
            xw.write(0b1111, 4)  # f_code[s][t]: unused (intra)
        xw.write(0, 2)  # intra_dc_precision: 8-bit
        xw.write(0b11, 2)  # picture_structure: frame
        xw.write(0, 1)  # top_field_first
        xw.write(1, 1)  # frame_pred_frame_dct
        xw.write(0, 1)  # concealment_motion_vectors
        xw.write(0, 1)  # q_scale_type: linear
        xw.write(0, 1)  # intra_vlc_format: Table B.14
        xw.write(0, 1)  # alternate_scan: zigzag
        xw.write(0, 1)  # repeat_first_field
        xw.write(1, 1)  # chroma_420_type (= progressive_frame)
        xw.write(1, 1)  # progressive_frame
        xw.write(0, 1)  # composite_display_flag
        xw.align()
        out += b"\x00\x00\x01" + bytes([_EXT]) + xw.bytes()
        for row in range(mbh):
            bw = _BitWriter()
            bw.write(qscale, 5)
            bw.write(0, 1)  # no intra_slice info
            preds = {"y": 128, "cb": 128, "cr": 128}
            for col in range(mbw):
                bw.write(1, 1)  # macroblock_address_increment = 1
                bw.write(1, 1)  # macroblock_type: intra
                for _b, comp, pix, _rec in _mb_blocks(
                    y, cb, cr, row, col
                ):
                    f = _A @ pix.astype(np.float64) @ _A.T
                    zz = _quantize_intra2(f, qscale)
                    dc = int(zz[0])
                    table = _DC_LUMA if comp == "y" else _DC_CHROMA
                    _write_dc(bw, dc - preds[comp], table)
                    preds[comp] = dc
                    nz = np.nonzero(zz[1:])[0]
                    prev = 0
                    for i in nz:
                        _write_ac2(bw, int(i) - prev, int(zz[1 + i]))
                        prev = int(i) + 1
                    bw.write(_EOB[0], _EOB[1])
            bw.align()
            out += b"\x00\x00\x01" + bytes([row + 1]) + bw.bytes()
    out += b"\x00\x00\x01" + bytes([_SEQ_END])
    return bytes(out)


# --- decoder ---------------------------------------------------------


def _parse_pce(r: _BitReader) -> dict:
    """picture_coding_extension after its 4-bit identifier."""
    for _ in range(4):
        r.read(4)  # f_codes (intra streams: 1111)
    prec = r.read(2)
    structure = r.read(2)
    r.read(1)  # top_field_first
    fpfd = r.read(1)
    conceal = r.read(1)
    q_scale_type = r.read(1)
    intra_vlc = r.read(1)
    alt_scan = r.read(1)
    if prec != 0:
        raise NotImplementedError(
            "mpeg2: intra_dc_precision above 8 bits"
        )
    if structure != 0b11:
        raise NotImplementedError("mpeg2: field pictures (interlace)")
    if q_scale_type:
        raise NotImplementedError("mpeg2: non-linear quantiser scale")
    if intra_vlc:
        raise NotImplementedError("mpeg2: intra_vlc_format 1 (Table B.15)")
    if alt_scan:
        raise NotImplementedError("mpeg2: alternate scan")
    if conceal:
        raise NotImplementedError("mpeg2: concealment motion vectors")
    return {"fpfd": fpfd}


def _decode_i_picture(data: bytes, pos: int, w: int, h: int, pce: dict):
    mbw, mbh = (w + 15) // 16, (h + 15) // 16
    y = np.zeros((mbh * 16, mbw * 16), dtype=np.float64)
    cb = np.zeros((mbh * 8, mbw * 8), dtype=np.float64)
    cr = np.zeros((mbh * 8, mbw * 8), dtype=np.float64)
    code, spos = _next_start_code(data, pos)
    while code != -1 and not (0x01 <= code <= _SLICE_MAX):
        if code in (_PIC, _GOP, _SEQ, _SEQ_END):
            raise ValueError("mpeg2: picture contains no slices")
        code, spos = _next_start_code(data, spos)
    while code != -1 and 0x01 <= code <= _SLICE_MAX:
        sr = _BitReader(data, spos)
        qscale = sr.read(5)
        if qscale == 0:
            raise ValueError("mpeg2: quantiser_scale_code of zero")
        if sr.read(1):
            raise NotImplementedError("mpeg2: intra_slice information")
        row = code - 1
        preds = {"y": 128, "cb": 128, "cr": 128}
        for col in range(mbw):
            if sr.read(1) != 1:
                raise NotImplementedError(
                    "mpeg2: macroblock_address_increment above 1 "
                    "(skipped macroblocks are inter-only)"
                )
            if sr.read(1) != 1:
                # '01' = intra + quant; anything longer is inter
                if sr.read(1) == 1:
                    qscale = sr.read(5)
                else:
                    raise ValueError(
                        "mpeg2: non-intra macroblock_type in I picture"
                    )
            by, bx = row * 16, col * 16
            for sub in range(4):
                oy, ox = (sub // 2) * 8, (sub % 2) * 8
                y[by + oy : by + oy + 8, bx + ox : bx + ox + 8] = (
                    _read_intra_block2(sr, preds, "y", qscale)
                )
            cb[row * 8 : row * 8 + 8, col * 8 : col * 8 + 8] = (
                _read_intra_block2(sr, preds, "cb", qscale)
            )
            cr[row * 8 : row * 8 + 8, col * 8 : col * 8 + 8] = (
                _read_intra_block2(sr, preds, "cr", qscale)
            )
        code, spos = _next_start_code(data, sr.byte_pos())
    ycc = np.stack(
        [
            np.clip(y, 0, 255),
            np.repeat(np.repeat(np.clip(cb, 0, 255), 2, 0), 2, 1),
            np.repeat(np.repeat(np.clip(cr, 0, 255), 2, 0), 2, 1),
        ],
        axis=-1,
    )
    return ycbcr_to_rgb(ycc)[:h, :w], code, spos


def _read_intra_block2(
    sr: _BitReader, preds: dict, comp: str, qscale: int
) -> np.ndarray:
    table = _DC_LUMA_DEC if comp == "y" else _DC_CHROMA_DEC
    zz = np.zeros(64, dtype=np.int64)
    preds[comp] += _read_dc(sr, table)
    zz[0] = preds[comp]
    i = 0
    while True:
        nxt = _read_ac2(sr)
        if nxt is None:
            break
        run, level = nxt
        i += run + 1
        if i > 63:
            raise ValueError("mpeg2: coefficient run overflow")
        zz[i] = level
    coeff = _dequant_intra2(zz, qscale)
    return _A.T @ coeff.astype(np.float64) @ _A


def _parse_seq(data: bytes):
    code, pos = _next_start_code(data, 0)
    while code != -1 and code != _SEQ:
        code, pos = _next_start_code(data, pos)
    if code != _SEQ:
        raise ValueError("mpeg2: no sequence header")
    r = _BitReader(data, pos)
    w = r.read(12)
    h = r.read(12)
    r.read(4)
    rate = _PICTURE_RATES.get(r.read(4), 25.0)
    r.read(18 + 1 + 10 + 1)
    if r.read(1):  # load_intra_quantiser_matrix
        raise NotImplementedError("mpeg2: custom quantiser matrices")
    if r.read(1):
        raise NotImplementedError("mpeg2: custom quantiser matrices")
    # sequence_extension must follow for an MPEG-2 stream
    code, pos = _next_start_code(data, pos)
    if code != _EXT:
        raise ValueError(
            "mpeg2: no sequence_extension (MPEG-1 stream? use mpeg1)"
        )
    er = _BitReader(data, pos)
    if er.read(4) != 0b0001:
        raise ValueError("mpeg2: first extension is not sequence_extension")
    profile_level = er.read(8)
    progressive = er.read(1)
    chroma = er.read(2)
    if chroma != 0b01:
        raise NotImplementedError("mpeg2: chroma formats other than 4:2:0")
    hse = er.read(2)
    vse = er.read(2)
    w |= hse << 12
    h |= vse << 12
    return w, h, rate, profile_level, progressive, pos


def is_m2v(data: bytes) -> bool:
    """Sequence header at offset 0 AND a sequence_extension following
    it — the positive MPEG-2 signal (a bare 0xB3 header is MPEG-1)."""
    if data[:4] != b"\x00\x00\x01\xb3":
        return False
    code, pos = _next_start_code(data, 4)
    while code != -1:
        if code == _EXT:
            return (pos < len(data)) and (data[pos] >> 4) == 0b0001
        if code in (_GOP, _PIC, _SEQ_END):
            return False
        code, pos = _next_start_code(data, pos)
    return False


def mpeg2_meta(data: bytes):
    """(width, height, fps, profile_and_level, n_pictures) from the
    headers — no picture decoded."""
    w, h, rate, pl, _prog, pos = _parse_seq(bytes(data))
    n = 0
    code, p = _next_start_code(data, pos)
    while code != -1:
        if code == _PIC:
            n += 1
        code, p = _next_start_code(data, p)
    return w, h, rate, pl, n


def decode_m2v_frames(data: bytes, every_n: int = 1):
    """Yield (idx, HxWx3 RGB) for every ``every_n``-th picture of an
    intra-only MPEG-2 elementary stream.  Skipped I-pictures cost a
    start-code scan only; a P/B picture raises (declared stub — the
    motion-compensation tier is proven by MPEG-1 in this package)."""
    data = bytes(data)
    w, h, _rate, _pl, _prog, pos = _parse_seq(data)
    if w * h > MAX_PIXELS:
        raise ValueError("mpeg2: image too large")
    idx = 0
    code, pos = _next_start_code(data, pos)
    while code != -1:
        if code == _PIC:
            r = _BitReader(data, pos)
            r.read(10)
            ptype = r.read(3)
            if ptype != 1:
                raise NotImplementedError(
                    "mpeg2: P/B picture decoding (MPEG-2 inter coding) "
                    "not implemented — intra tier only"
                )
            # picture_coding_extension must follow the picture header
            code2, pos2 = _next_start_code(data, pos)
            if code2 != _EXT:
                raise ValueError("mpeg2: missing picture_coding_extension")
            er = _BitReader(data, pos2)
            if er.read(4) != 0b1000:
                raise ValueError(
                    "mpeg2: expected picture_coding_extension"
                )
            pce = _parse_pce(er)
            if idx % every_n == 0:
                rgb, code, pos = _decode_i_picture(data, pos2, w, h, pce)
                yield idx, rgb
                idx += 1
                continue
            idx += 1
        code, pos = _next_start_code(data, pos)
    if idx == 0:
        raise ValueError("mpeg2: stream contains no pictures")
