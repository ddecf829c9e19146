"""Baseline JPEG codec (pure stdlib + numpy): a REAL DCT/Huffman
encode→decode pair, closing the "compressed codecs need Pillow" gap
for the baseline-sequential JPEG shapes.

Scope: baseline sequential DCT, 8-bit — grayscale (SOF0 single
luminance component) AND color: 3-component YCbCr at 4:4:4 and 4:2:0
subsampling (encode_rgb/decode_color below, with chroma upsampling
on decode). The encoder emits standard JFIF-compatible streams
(SOI/DQT/SOF0/DHT/SOS/EOI, Annex-K Huffman tables, byte stuffing);
the decoder performs canonical Huffman reconstruction from DHT,
entropy decode with 0xFF00 unstuffing, dequantization, de-zigzag,
float IDCT, level shift + clamp, and edge-block cropping.
Progressive/arithmetic JPEG still needs Pillow — ``decode_image``
keeps that strict-mode boundary.

Why this can sit under the decode HASH gate at all: JPEG is lossy, so
decoded bytes normally can't equal a closed-form oracle. The synthetic
corpus therefore uses images whose 8×8 blocks are CONSTANT: a constant
block's FDCT is a lone DC coefficient (all AC vanish), and with a
unit quantization table the DC round-trips exactly — the decoder
reconstructs the block bit-for-bit. Real photographic content loses
precision (that is JPEG working as designed, covered by the near-
equality pytest); the constant-block corpus is the deterministic
slice on which "decode produced exactly the right bytes" is provable.

At scale nothing here changes shape: decode runs inside the same
Arrow-batched mapInPandas as the PNG/PPM/WAV codecs — per-row Python
cost, zero extra shuffle.
"""

from __future__ import annotations

import struct

import numpy as np

# Annex K.3 typical luminance Huffman tables (JPEG spec, public).
# BITS: number of codes of each length 1..16; HUFFVAL: symbols in
# canonical order.
DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUM_VALS = list(range(12))
AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# zigzag scan order: ZIGZAG[k] = raster index of the k-th coefficient
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# orthonormal 8-point DCT-II basis: C[u, x] = s(u)·cos((2x+1)uπ/16)
_C = np.zeros((8, 8))
for _u in range(8):
    _s = np.sqrt(0.125) if _u == 0 else 0.5
    for _x in range(8):
        _C[_u, _x] = _s * np.cos((2 * _x + 1) * _u * np.pi / 16)


def _canonical_codes(bits, vals):
    """symbol → (code, length) from a DHT BITS/HUFFVAL spec (canonical
    Huffman assignment, JPEG Annex C)."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_ENC = _canonical_codes(DC_LUM_BITS, DC_LUM_VALS)
_AC_ENC = _canonical_codes(AC_LUM_BITS, AC_LUM_VALS)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def put(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            self._n -= 8
            byte = (self._acc >> self._n) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)

    def flush(self) -> None:
        if self._n:
            pad = 8 - self._n
            self.put((1 << pad) - 1, pad)  # 1-pad to byte boundary


def _magnitude(v: int) -> "tuple[int, int]":
    """(size, bits) magnitude coding: negative values use the
    one's-complement convention (F.1.2.1)."""
    if v == 0:
        return 0, 0
    size = int(v).bit_length() if v > 0 else int(-v).bit_length()
    bits = v if v >= 0 else v + (1 << size) - 1
    return size, bits


def encode_gray(width: int, height: int, pixels: bytes,
                quant: "list[int] | None" = None) -> bytes:
    """Baseline grayscale JPEG encode. ``pixels`` is row-major 8-bit
    luminance, ``len == width·height``. ``quant`` is the 64-entry
    raster-order quantization table (default all ones — the lossless-
    for-constant-blocks table the decode gate relies on)."""
    if len(pixels) != width * height:
        raise ValueError("pixel buffer does not match dimensions")
    q = np.ones(64, dtype=np.int64) if quant is None else np.asarray(
        quant, dtype=np.int64
    )
    if q.shape != (64,) or (q < 1).any() or (q > 255).any():
        raise ValueError("quant table must be 64 values in 1..255")

    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    bw, bh = (width + 7) // 8, (height + 7) // 8
    # edge replication to full blocks (standard practice)
    padded = np.pad(
        img, ((0, bh * 8 - height), (0, bw * 8 - width)), mode="edge"
    ).astype(np.float64) - 128.0

    writer = _BitWriter()
    qblock = q[ZIGZAG].reshape(1, 64)  # zigzag-ordered divisors
    prev_dc = 0
    for by in range(bh):
        for bx in range(bw):
            block = padded[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
            coef = _C @ block @ _C.T
            zz = coef.reshape(64)[ZIGZAG]
            qz = np.round(zz / qblock[0]).astype(np.int64)
            # DC
            size, bits = _magnitude(int(qz[0]) - prev_dc)
            prev_dc = int(qz[0])
            c, ln = _DC_ENC[size]
            writer.put(c, ln)
            if size:
                writer.put(bits, size)
            # AC
            run = 0
            nz = np.nonzero(qz[1:])[0]
            last = nz[-1] + 1 if len(nz) else 0
            for k in range(1, last + 1):
                v = int(qz[k])
                if v == 0:
                    run += 1
                    continue
                while run >= 16:
                    c, ln = _AC_ENC[0xF0]  # ZRL
                    writer.put(c, ln)
                    run -= 16
                size, bits = _magnitude(v)
                c, ln = _AC_ENC[(run << 4) | size]
                writer.put(c, ln)
                writer.put(bits, size)
                run = 0
            if last < 63:
                c, ln = _AC_ENC[0x00]  # EOB
                writer.put(c, ln)
    writer.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    dqt = seg(0xFFDB, b"\x00" + bytes(int(x) for x in q))
    sof = seg(0xFFC0, struct.pack(">BHHB", 8, height, width, 1)
              + bytes([1, 0x11, 0]))
    dht = (
        seg(0xFFC4, b"\x00" + bytes(DC_LUM_BITS) + bytes(DC_LUM_VALS))
        + seg(0xFFC4, b"\x10" + bytes(AC_LUM_BITS) + bytes(AC_LUM_VALS))
    )
    sos = seg(0xFFDA, b"\x01" + bytes([1, 0x00]) + b"\x00\x3f\x00")
    return (
        b"\xff\xd8" + dqt + sof + dht + sos + bytes(writer.out)
        + b"\xff\xd9"
    )


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    unstuffing; stops at any non-stuffing marker."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0

    def bit(self) -> int:
        if self._n == 0:
            if self.pos >= len(self.data):
                raise ValueError("truncated entropy data")
            byte = self.data[self.pos]
            self.pos += 1
            if byte == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else None
                if nxt == 0x00:
                    self.pos += 1  # stuffed 0xFF
                else:
                    raise ValueError("marker inside entropy data")
            self._acc = byte
            self._n = 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v


def _decode_table(bits, vals):
    """(code, length) → symbol decode map."""
    enc = _canonical_codes(bits, vals)
    return {(c, ln): sym for sym, (c, ln) in enc.items()}


def _extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def _read_symbol(reader: _BitReader, table) -> int:
    code, length = 0, 0
    while length <= 16:
        code = (code << 1) | reader.bit()
        length += 1
        sym = table.get((code, length))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


# --- color (3-component YCbCr) baseline --------------------------------
#
# Annex K.3 typical CHROMINANCE Huffman tables (JPEG spec, public).
DC_CHR_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHR_VALS = list(range(12))
AC_CHR_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHR_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

_DC_CHR_ENC = _canonical_codes(DC_CHR_BITS, DC_CHR_VALS)
_AC_CHR_ENC = _canonical_codes(AC_CHR_BITS, AC_CHR_VALS)


def _half_up(x):
    """floor(x + 0.5): round-half-UP on floats — used only to quantize
    IDCT sample planes (where a 6-dp pre-round absorbs float ε) and
    DCT coefficients; the COLOR transform below is scaled-integer so
    it never touches float at all."""
    return np.floor(x + 0.5)


# JFIF color-transform coefficients scaled by 10^6 — the transform is
# EXACT int64 arithmetic (the same trick libjpeg uses, SCALEBITS=16
# there), so a SQL oracle replays it with integer expressions and no
# engine-specific float/DECIMAL evaluation-order hazard. Division is
# floor-division on a numerator kept positive by a +256·10^6 offset on
# the inverse, making floor == truncate in every engine.
_CSCALE = 1_000_000


def rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    """(h, w, 3) uint8 RGB → (h, w, 3) uint8 YCbCr. JFIF full-range
    matrix in exact 10^6-scaled int64 arithmetic, half-up rounding
    via the +500000 // 10^6 idiom."""
    v = rgb.astype(np.int64)
    r, g, b = v[..., 0], v[..., 1], v[..., 2]
    y = (299000 * r + 587000 * g + 114000 * b + 500000) // _CSCALE
    cb = (128 * _CSCALE - 168736 * r - 331264 * g + 500000 * b
          + 500000) // _CSCALE
    cr = (128 * _CSCALE + 500000 * r - 418688 * g - 81312 * b
          + 500000) // _CSCALE
    return np.clip(
        np.stack([y, cb, cr], axis=-1), 0, 255
    ).astype(np.uint8)


def ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    """(h, w, 3) uint8/int YCbCr → (h, w, 3) uint8 RGB. JFIF inverse
    in exact 10^6-scaled int64 arithmetic; the +256·10^6 offset keeps
    the numerator positive so floor-division is engine-independent."""
    v = np.asarray(ycc, dtype=np.int64)
    y, cb, cr = v[..., 0], v[..., 1] - 128, v[..., 2] - 128
    off = 256 * _CSCALE
    r = (_CSCALE * y + 1402000 * cr + 500000 + off) // _CSCALE - 256
    g = (_CSCALE * y - 344136 * cb - 714136 * cr + 500000
         + off) // _CSCALE - 256
    b = (_CSCALE * y + 1772000 * cb + 500000 + off) // _CSCALE - 256
    return np.clip(
        np.stack([r, g, b], axis=-1), 0, 255
    ).astype(np.uint8)


def _encode_block(writer, block, qzz, prev_dc, dc_enc, ac_enc):
    """FDCT + quantize + entropy-code one 8×8 sample block; returns
    the new DC predictor."""
    coef = _C @ block @ _C.T
    zz = coef.reshape(64)[ZIGZAG]
    qz = np.asarray(_half_up(zz / qzz), dtype=np.int64)
    size, bits = _magnitude(int(qz[0]) - prev_dc)
    c, ln = dc_enc[size]
    writer.put(c, ln)
    if size:
        writer.put(bits, size)
    run = 0
    nz = np.nonzero(qz[1:])[0]
    last = nz[-1] + 1 if len(nz) else 0
    for k in range(1, last + 1):
        v = int(qz[k])
        if v == 0:
            run += 1
            continue
        while run >= 16:
            c, ln = ac_enc[0xF0]
            writer.put(c, ln)
            run -= 16
        size, bits = _magnitude(v)
        c, ln = ac_enc[(run << 4) | size]
        writer.put(c, ln)
        writer.put(bits, size)
        run = 0
    if last < 63:
        c, ln = ac_enc[0x00]
        writer.put(c, ln)
    return int(qz[0])


def encode_rgb(width: int, height: int, pixels: bytes,
               subsample: str = "444") -> bytes:
    """Baseline color JPEG encode: RGB → YCbCr, optional 2×2 chroma
    subsampling ("420"; "444" keeps full chroma), per-component
    DCT/quant/Huffman (Annex-K luma + chroma tables), interleaved
    MCU scan with per-component DC predictors. ``pixels`` is
    row-major RGB, ``len == 3·width·height``. Luma and chroma quant
    tables are all-ones (the constant-block exactness the decode gate
    uses)."""
    if len(pixels) != 3 * width * height:
        raise ValueError("pixel buffer does not match dimensions")
    if subsample not in ("444", "420"):
        raise ValueError("subsample must be '444' or '420'")
    ql = qc = np.ones(64, dtype=np.int64)
    rgb = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width, 3)
    ycc = rgb_to_ycbcr(rgb).astype(np.float64)

    hy = 2 if subsample == "420" else 1
    mcu_px = 8 * hy
    mw = (width + mcu_px - 1) // mcu_px
    mh = (height + mcu_px - 1) // mcu_px
    # pad to whole MCUs by edge replication
    padded = np.pad(
        ycc,
        ((0, mh * mcu_px - height), (0, mw * mcu_px - width), (0, 0)),
        mode="edge",
    )
    y_pl = padded[..., 0] - 128.0
    if subsample == "420":
        c_full = padded[..., 1:]
        # 2×2 mean, half-up rounded — the oracle-replayable average
        csub = _half_up(
            (c_full[0::2, 0::2] + c_full[0::2, 1::2]
             + c_full[1::2, 0::2] + c_full[1::2, 1::2]) / 4.0
        )
        cb_pl = csub[..., 0] - 128.0
        cr_pl = csub[..., 1] - 128.0
    else:
        cb_pl = padded[..., 1] - 128.0
        cr_pl = padded[..., 2] - 128.0

    writer = _BitWriter()
    qlz = ql[ZIGZAG]
    qcz = qc[ZIGZAG]
    dc = [0, 0, 0]
    for my in range(mh):
        for mx in range(mw):
            if subsample == "420":
                for vy in range(2):
                    for vx in range(2):
                        by, bx = my * 2 + vy, mx * 2 + vx
                        blk = y_pl[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
                        dc[0] = _encode_block(
                            writer, blk, qlz, dc[0], _DC_ENC, _AC_ENC)
            else:
                blk = y_pl[my * 8:my * 8 + 8, mx * 8:mx * 8 + 8]
                dc[0] = _encode_block(
                    writer, blk, qlz, dc[0], _DC_ENC, _AC_ENC)
            for ci, plane in ((1, cb_pl), (2, cr_pl)):
                blk = plane[my * 8:my * 8 + 8, mx * 8:mx * 8 + 8]
                dc[ci] = _encode_block(
                    writer, blk, qcz, dc[ci], _DC_CHR_ENC, _AC_CHR_ENC)
    writer.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    dqt = (seg(0xFFDB, b"\x00" + bytes(int(x) for x in ql))
           + seg(0xFFDB, b"\x01" + bytes(int(x) for x in qc)))
    samp = 0x22 if subsample == "420" else 0x11
    sof = seg(0xFFC0, struct.pack(">BHHB", 8, height, width, 3)
              + bytes([1, samp, 0, 2, 0x11, 1, 3, 0x11, 1]))
    dht = (
        seg(0xFFC4, b"\x00" + bytes(DC_LUM_BITS) + bytes(DC_LUM_VALS))
        + seg(0xFFC4, b"\x10" + bytes(AC_LUM_BITS) + bytes(AC_LUM_VALS))
        + seg(0xFFC4, b"\x01" + bytes(DC_CHR_BITS) + bytes(DC_CHR_VALS))
        + seg(0xFFC4, b"\x11" + bytes(AC_CHR_BITS) + bytes(AC_CHR_VALS))
    )
    sos = seg(0xFFDA, b"\x03" + bytes([1, 0x00, 2, 0x11, 3, 0x11])
              + b"\x00\x3f\x00")
    return (
        b"\xff\xd8" + dqt + sof + dht + sos + bytes(writer.out)
        + b"\xff\xd9"
    )


def decode_color(payload: bytes) -> "tuple[int, int, bytes]":
    """(width, height, pixel_bytes) from a baseline JPEG — grayscale
    (1 component), 4:4:4, or 4:2:0 YCbCr. Parses DQT/DHT/SOF0/SOS from
    the stream, entropy-decodes interleaved MCUs with per-component DC
    predictors, dequantizes, IDCTs, box-upsamples subsampled chroma,
    and applies the JFIF inverse transform with half-up rounding.
    Color streams return w·h·3 RGB bytes; single-component streams
    return the LUMINANCE plane (w·h bytes) — callers branch on length,
    as with PPM vs gray.

    Raises ValueError on progressive/arithmetic/non-8-bit streams and
    on sampling layouts other than 1×1×3 (4:4:4), 2×2,1×1,1×1
    (4:2:0), or single-component 1×1."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    quant: dict = {}
    dc_tabs: dict = {}
    ac_tabs: dict = {}
    width = height = 0
    comps: list = []  # (comp_id, h, v, tq)
    scan_sel: dict = {}
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("expected marker")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:
            raise ValueError("no scan data before EOI")
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue
        (seglen,) = struct.unpack(">H", payload[pos:pos + 2])
        body = payload[pos + 2:pos + seglen]
        if marker == 0xDB:
            b = 0
            while b < len(body):
                pq, tq = body[b] >> 4, body[b] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                quant[tq] = np.frombuffer(
                    body[b + 1:b + 65], dtype=np.uint8
                ).astype(np.int64)
                b += 65
        elif marker == 0xC4:
            b = 0
            while b < len(body):
                tc, th = body[b] >> 4, body[b] & 0x0F
                bits = list(body[b + 1:b + 17])
                n = sum(bits)
                vals = list(body[b + 17:b + 17 + n])
                (dc_tabs if tc == 0 else ac_tabs)[th] = _decode_table(
                    bits, vals)
                b += 17 + n
        elif marker == 0xC0:
            precision, height, width, ncomp = struct.unpack(
                ">BHHB", body[:6])
            if precision != 8:
                raise ValueError("only 8-bit baseline supported")
            if ncomp not in (1, 3):
                raise ValueError("only 1- or 3-component JPEG supported")
            for i in range(ncomp):
                cid, hv, tq = body[6 + 3 * i:9 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("non-baseline JPEG unsupported")
        elif marker == 0xDD:
            raise ValueError("restart intervals unsupported")
        elif marker == 0xDA:
            ns = body[0]
            for i in range(ns):
                cid, tt = body[1 + 2 * i], body[2 + 2 * i]
                scan_sel[cid] = (tt >> 4, tt & 0x0F)
            pos += seglen
            break
        pos += seglen
    else:
        raise ValueError("no SOS marker")
    if not width or not comps:
        raise ValueError("missing SOF0")
    samplings = [(h, v) for _, h, v, _ in comps]
    if len(comps) == 1:
        if samplings[0] != (1, 1):
            raise ValueError("only 1x1 sampling for grayscale")
    elif samplings not in ([(1, 1)] * 3, [(2, 2), (1, 1), (1, 1)]):
        raise ValueError("only 4:4:4 or 4:2:0 sampling supported")

    hmax = max(h for h, _ in samplings)
    mcu_px = 8 * hmax
    mw = (width + mcu_px - 1) // mcu_px
    mh = (height + mcu_px - 1) // mcu_px
    planes = []
    for _, h, v, _ in comps:
        planes.append(np.zeros((mh * 8 * v, mw * 8 * h), dtype=np.float64))

    reader = _BitReader(payload, pos)
    prev_dc = [0] * len(comps)
    inv_zz = np.zeros(64, dtype=np.int64)
    for my in range(mh):
        for mx in range(mw):
            for ci, (cid, h, v, tq) in enumerate(comps):
                dsel, asel = scan_sel.get(cid, (0, 0))
                dc_tab, ac_tab = dc_tabs[dsel], ac_tabs[asel]
                q = quant[tq]
                for vy in range(v):
                    for vx in range(h):
                        inv_zz[:] = 0
                        size = _read_symbol(reader, dc_tab)
                        prev_dc[ci] += _extend(reader.bits(size), size)
                        inv_zz[0] = prev_dc[ci]
                        k = 1
                        while k < 64:
                            sym = _read_symbol(reader, ac_tab)
                            if sym == 0x00:
                                break
                            run, size = sym >> 4, sym & 0x0F
                            if sym == 0xF0:
                                k += 16
                                continue
                            k += run
                            if k >= 64:
                                raise ValueError("AC run past block end")
                            inv_zz[k] = _extend(reader.bits(size), size)
                            k += 1
                        coef = np.zeros(64, dtype=np.float64)
                        coef[ZIGZAG] = inv_zz * q
                        block = _C.T @ coef.reshape(8, 8) @ _C
                        by = (my * v + vy) * 8
                        bx = (mx * h + vx) * 8
                        planes[ci][by:by + 8, bx:bx + 8] = block + 128.0

    if len(comps) == 1:
        out = np.clip(_half_up(planes[0]), 0, 255).astype(np.uint8)
        return width, height, out[:height, :width].tobytes()
    y_pl = planes[0]
    if samplings[0] == (2, 2):
        cb = np.repeat(np.repeat(planes[1], 2, axis=0), 2, axis=1)
        cr = np.repeat(np.repeat(planes[2], 2, axis=0), 2, axis=1)
    else:
        cb, cr = planes[1], planes[2]
    ycc = np.stack(
        [y_pl, cb[:y_pl.shape[0], :y_pl.shape[1]],
         cr[:y_pl.shape[0], :y_pl.shape[1]]], axis=-1
    )
    # Quantize each plane to integer YCbCr exactly as the grayscale
    # path does (6-dp pre-round absorbs float-matmul ε from the IDCT,
    # then half-up + clamp); the inverse color transform is then
    # EXACT integer arithmetic the decode-gate oracle replays in SQL.
    ycc_q = np.clip(_half_up(np.round(ycc, 6)), 0, 255).astype(np.int64)
    rgb = ycbcr_to_rgb(ycc_q)
    return width, height, rgb[:height, :width].tobytes()
