"""Pure-stdlib FLAC codec (mono 16-bit subset): the third real
compressed media format in the engine (after PNG/JPEG/GIF and
IMA-ADPCM), written against the public FLAC format specification
(xiph.org): STREAMINFO metadata, framed bitstream with CRC-8 header
/ CRC-16 frame checksums, UTF-8-coded frame numbers, and subframes
of type CONSTANT, VERBATIM, and FIXED (orders 0–4) with Rice-coded
residuals (partitioned residual method 0).

Rice coding is genuine entropy compression: residuals after the
fixed linear predictor encode as unary quotient + k-bit remainder
with zigzag mapping. FLAC is LOSSLESS, so the driver gate replays
the closed-form sample function directly against decoded statistics
— the same discipline as the GIF/PPM/WAV gates — and the decoder's
CRC checks make a bit-level encoder bug loud.

Subset boundaries (strict ValueError outside them, same policy as
gif.py/jpeg.py): mono, 16 bps, LPC subframes and wasted-bits not
implemented (the synthesizer never emits them; a general decoder
would add the LPC path behind the same dispatch).
"""

from __future__ import annotations

import struct

FLAC_MAGIC = b"fLaC"

_CRC8_POLY = 0x07
_CRC16_POLY = 0x8005

_FIXED_COEFFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ _CRC8_POLY) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ _CRC16_POLY) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, value: int, bits: int) -> None:
        if bits == 0:
            return
        self._acc = (self._acc << bits) | (value & ((1 << bits) - 1))
        self._n += bits
        while self._n >= 8:
            self._n -= 8
            self.out.append((self._acc >> self._n) & 0xFF)
        self._acc &= (1 << self._n) - 1

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)  # q zeros then a 1

    def align(self) -> None:
        if self._n:
            self.write(0, 8 - self._n)

    def bytes(self) -> bytes:
        assert self._n == 0
        return bytes(self.out)


class _BitReader:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.byte = pos
        self.bit = 0

    def read(self, bits: int) -> int:
        v = 0
        for _ in range(bits):
            if self.byte >= len(self.data):
                raise ValueError("FLAC bitstream truncated")
            v = (v << 1) | ((self.data[self.byte] >> (7 - self.bit)) & 1)
            self.bit += 1
            if self.bit == 8:
                self.bit = 0
                self.byte += 1
        return v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
            if q > 1 << 24:
                raise ValueError("runaway unary code")
        return q

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.byte += 1


def _utf8_code(n: int) -> bytes:
    # FLAC's extended-UTF-8 frame-number coding
    if n < 0x80:
        return bytes([n])
    out = []
    bits = n.bit_length()
    n_bytes = 2
    while bits > 6 * (n_bytes - 1) + (7 - n_bytes) and n_bytes < 7:
        n_bytes += 1
    lead = (0xFF00 >> n_bytes) & 0xFF
    shift = 6 * (n_bytes - 1)
    out.append(lead | (n >> shift))
    for i in range(n_bytes - 1):
        shift -= 6
        out.append(0x80 | ((n >> shift) & 0x3F))
    return bytes(out)


def _read_utf8_code(br: "_BitReader") -> int:
    first = br.read(8)
    if first < 0x80:
        return first
    n_bytes = 0
    mask = 0x80
    while first & mask:
        n_bytes += 1
        mask >>= 1
    if n_bytes < 2 or n_bytes > 7:
        raise ValueError("bad UTF-8 frame number")
    v = first & (0xFF >> (n_bytes + 1))
    for _ in range(n_bytes - 1):
        c = br.read(8)
        if c & 0xC0 != 0x80:
            raise ValueError("bad UTF-8 continuation")
        v = (v << 6) | (c & 0x3F)
    return v


def _zigzag(r: int) -> int:
    return (r << 1) if r >= 0 else ((-r << 1) - 1)


def _unzigzag(u: int) -> int:
    return (u >> 1) if (u & 1) == 0 else -((u + 1) >> 1)


def _best_fixed_order(samples: "list[int]") -> int:
    best, best_cost = 0, None
    for order in range(3):  # orders 0-2 cover the synthetic signals
        if len(samples) <= order:
            continue
        res = _residuals(samples, order)
        cost = sum(abs(r) for r in res[order:])
        if best_cost is None or cost < best_cost:
            best, best_cost = order, cost
    return best


def _residuals(samples: "list[int]", order: int) -> "list[int]":
    coeffs = _FIXED_COEFFS[order]
    res = list(samples[:order])
    for i in range(order, len(samples)):
        pred = sum(c * samples[i - 1 - j] for j, c in enumerate(coeffs))
        res.append(samples[i] - pred)
    return res


def _rice_param(res: "list[int]") -> int:
    # k is written in 4 bits where 0b1111 is the escape code, so the
    # usable range is 0-14; high-entropy blocks where k would need to
    # be larger are emitted as VERBATIM by the encoder instead.
    if not res:
        return 0
    mean = sum(abs(r) for r in res) / len(res) + 1
    k = 0
    while (1 << k) < mean and k < 14:
        k += 1
    return k


def _rice_cost_bits(res: "list[int]", k: int) -> int:
    return sum((_zigzag(r) >> k) + 1 + k for r in res)


def encode_flac(
    samples: "list[int]", sample_rate: int = 16000, block_size: int = 256
) -> bytes:
    """FLAC bytes for mono int16 samples: STREAMINFO + one FIXED/
    CONSTANT/VERBATIM subframe per block, Rice partition order 0."""
    n_total = len(samples)
    out = bytearray()
    out += FLAC_MAGIC
    streaminfo = bytearray()
    streaminfo += struct.pack(">HH", block_size, block_size)
    streaminfo += b"\x00\x00\x00" * 2  # min/max frame size unknown
    # 20-bit rate | 3-bit channels-1 | 5-bit bps-1 | 36-bit total
    packed = (sample_rate << 44) | (0 << 41) | (15 << 36) | n_total
    streaminfo += packed.to_bytes(8, "big")
    streaminfo += b"\x00" * 16  # md5 unset (0 = unknown, per spec)
    out += bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo

    for frame_no, start in enumerate(range(0, n_total, block_size)):
        blk = samples[start : start + block_size]
        out += _encode_frame(blk, frame_no)
    return bytes(out)


def _encode_frame(blk: "list[int]", frame_no: int) -> bytes:
    header = bytearray()
    header += b"\xff\xf8"  # sync + fixed blocking
    # block size code 0b0111 = get 16-bit from end of header; sample
    # rate code 0b0000 = from STREAMINFO; channels mono 0b0000;
    # bps 0b100 = 16; reserved 0
    header += bytes([(0b0111 << 4) | 0b0000, (0b0000 << 4) | (0b100 << 1)])
    header += _utf8_code(frame_no)
    header += struct.pack(">H", len(blk) - 1)
    header += bytes([_crc8(bytes(header))])

    bw = _BitWriter()
    if all(s == blk[0] for s in blk):
        bw.write(0, 1)  # zero padding bit
        bw.write(0b000000, 6)  # CONSTANT
        bw.write(0, 1)  # no wasted bits
        bw.write(blk[0] & 0xFFFF, 16)
    else:
        order = _best_fixed_order(blk)
        res = _residuals(blk, order)
        tail = res[order:]
        k = _rice_param(tail)
        # VERBATIM when Rice coding loses to raw 16-bit samples (the
        # residual stream is high-entropy, or k hit the 4-bit cap) —
        # without this, k >= 15 would collide with the escape code.
        if _rice_cost_bits(tail, k) + 16 * order >= 16 * len(blk):
            bw.write(0, 1)
            bw.write(0b000001, 6)  # VERBATIM
            bw.write(0, 1)
            for s in blk:
                bw.write(s & 0xFFFF, 16)
        else:
            bw.write(0, 1)
            bw.write(0b001000 | order, 6)  # FIXED, order
            bw.write(0, 1)
            for s in blk[:order]:  # warmup samples
                bw.write(s & 0xFFFF, 16)
            bw.write(0b00, 2)  # residual method: rice 4-bit params
            bw.write(0, 4)  # partition order 0
            bw.write(k, 4)
            for r in tail:
                u = _zigzag(r)
                bw.write_unary(u >> k)
                bw.write(u, k)
    bw.align()
    body = bw.bytes()
    frame = bytes(header) + body
    return frame + struct.pack(">H", _crc16(frame))


def decode_flac(payload: bytes) -> "tuple[int, int, bytes]":
    """(sample_rate, n_samples, pcm16le_bytes) for the documented
    subset. Real parse: STREAMINFO, metadata-block walk, frame sync,
    CRC-8/CRC-16 verification, subframe dispatch, Rice decode,
    fixed-predictor reconstruction."""
    if payload[:4] != FLAC_MAGIC:
        raise ValueError("not a FLAC payload")
    pos = 4
    rate = None
    n_total = None
    while True:
        if pos + 4 > len(payload):
            raise ValueError("truncated metadata block")
        hdr = payload[pos]
        size = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + size]
        if hdr & 0x7F == 0:  # STREAMINFO
            packed = int.from_bytes(body[10:18], "big")
            rate = packed >> 44
            channels = ((packed >> 41) & 0x7) + 1
            bps = ((packed >> 36) & 0x1F) + 1
            n_total = packed & ((1 << 36) - 1)
            if channels != 1 or bps != 16:
                raise ValueError("only mono 16-bit FLAC supported")
        pos += 4 + size
        if hdr & 0x80:
            break
    if rate is None:
        raise ValueError("missing STREAMINFO")

    samples: "list[int]" = []
    while pos < len(payload) and len(samples) < (n_total or 0):
        pos, blk = _decode_frame(payload, pos)
        samples.extend(blk)
    if n_total and len(samples) != n_total:
        raise ValueError("decoded sample count mismatch")
    return rate, len(samples), struct.pack(f"<{len(samples)}h", *samples)


def _decode_frame(payload: bytes, pos: int) -> "tuple[int, list[int]]":
    start = pos
    if payload[pos] != 0xFF or (payload[pos + 1] & 0xFE) != 0xF8:
        raise ValueError("lost frame sync")
    bs_code = payload[pos + 2] >> 4
    sr_code = payload[pos + 2] & 0xF
    ch_code = payload[pos + 3] >> 4
    bps_code = (payload[pos + 3] >> 1) & 0x7
    if ch_code != 0 or bps_code != 0b100:
        raise ValueError("subset: mono 16-bit frames only")
    br = _BitReader(payload, pos + 4)
    _frame_no = _read_utf8_code(br)
    if bs_code == 0b0111:
        block_size = br.read(16) + 1
    elif bs_code == 0b0110:
        block_size = br.read(8) + 1
    else:
        raise ValueError("subset: explicit block size required")
    if sr_code != 0:
        raise ValueError("subset: sample rate from STREAMINFO only")
    crc_byte = br.read(8)
    if _crc8(payload[start : br.byte - 1]) != crc_byte:
        raise ValueError("frame header CRC-8 mismatch")

    if br.read(1) != 0:
        raise ValueError("subframe padding bit set")
    sf_type = br.read(6)
    if br.read(1) != 0:
        raise ValueError("wasted bits unsupported in subset")

    def _s16(v: int) -> int:
        return v - 0x10000 if v >= 0x8000 else v

    if sf_type == 0b000000:  # CONSTANT
        blk = [_s16(br.read(16))] * block_size
    elif sf_type == 0b000001:  # VERBATIM
        blk = [_s16(br.read(16)) for _ in range(block_size)]
    elif 0b001000 <= sf_type <= 0b001100:  # FIXED
        order = sf_type & 0x7
        warm = [_s16(br.read(16)) for _ in range(order)]
        method = br.read(2)
        if method != 0:
            raise ValueError("only 4-bit rice method in subset")
        part_order = br.read(4)
        if part_order != 0:
            raise ValueError("subset: partition order 0 only")
        k = br.read(4)
        if k == 0xF:
            raise ValueError("escape code unsupported in subset")
        res = []
        for _ in range(block_size - order):
            q = br.read_unary()
            u = (q << k) | br.read(k)
            res.append(_unzigzag(u))
        blk = list(warm)
        coeffs = _FIXED_COEFFS[order]
        for r in res:
            pred = sum(
                c * blk[len(blk) - 1 - j] for j, c in enumerate(coeffs)
            )
            blk.append(pred + r)
    else:
        raise ValueError(f"subframe type {sf_type:06b} unsupported (LPC)")
    br.align()
    crc = struct.unpack_from(">H", payload, br.byte)[0]
    if _crc16(payload[start : br.byte]) != crc:
        raise ValueError("frame CRC-16 mismatch")
    return br.byte + 2, blk
