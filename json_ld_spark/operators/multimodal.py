"""Multimodal columns: image/audio/video as opaque ``binary`` columns
with typed metadata, processed by Arrow-batched ``mapInPandas``.

The Spark-side plumbing — schemas, partition sizing, UDF signatures,
batch shapes — is real and tested. The codec is REAL for the
stdlib-decodable container formats:

  - image: binary PPM (P6) — parsed by ``decode_image``;
  - audio: WAV PCM16 mono — parsed by ``decode_audio`` via ``wave``;
  - video: "ppm-seq", a concatenation of P6 frames — parsed by
    ``decode_video_frames`` (per-frame sampling decodes only the
    sampled frames' bytes).

Compressed codecs implemented natively: PNG (zlib), baseline JPEG
(operators/jpeg.py), GIF/LZW (operators/gif.py), IMA ADPCM audio
(operators/adpcm.py). The rest (MP3/H.264) need external libraries
this container doesn't ship; for those payloads the decoders raise
``NotImplementedError`` in strict mode or fall back to a
deterministic digest-derived fake (plumbing tests). Swapping in
Pillow/torchaudio/pyav extends the same three functions — the
distributed plan is unchanged.

Scale notes:
  - binary payloads ride the Arrow transfer like any column; keep
    ``spark.sql.files.maxPartitionBytes`` sized so a partition of
    blobs fits executor memory (the session builder does).
  - decode_stats decodes each blob once per Arrow batch and emits
    only small aggregate rows — the blob bytes never shuffle.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def synthesize_media(spark: SparkSession, n: int = 64) -> DataFrame:
    """Deterministic fake media table: payload bytes are a pure
    function of media_id; metadata is typed and plausible."""
    base = spark.range(n)
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int"),
    )
    payload = F.sha2(F.concat(F.lit("media-42-"), F.col("id")), 512).cast(
        "binary"
    )
    return base.select(
        F.col("id").alias("media_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        F.struct(
            (F.pmod(F.col("id"), F.lit(8)) * 64 + 64).cast("int").alias("width"),
            (F.pmod(F.col("id"), F.lit(4)) * 64 + 64).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.pmod(F.col("id"), F.lit(30)) + 1).cast("int").alias("n_frames"),
            F.lit("fake/v1").alias("codec"),
        ).alias("meta"),
    )


# ---------------------------------------------------------------------------
# real codecs (stdlib-decodable containers)
# ---------------------------------------------------------------------------

VIDEO_W, VIDEO_H = 16, 8  # fixed frame dims for the ppm-seq container


def _ppm_payload(width: int, height: int, pixel_bytes: bytes) -> bytes:
    return b"P6\n%d %d\n255\n" % (width, height) + pixel_bytes


def _parse_ppm(payload: bytes, offset: int = 0) -> tuple[int, int, bytes, int]:
    """Parse one binary-PPM (P6) block at ``offset``; returns
    (width, height, pixels, next_offset). Raises ValueError on a
    malformed header or truncated pixel data."""
    if payload[offset:offset + 2] != b"P6":
        raise ValueError("not a P6 PPM block")
    pos = offset + 2
    fields: list[int] = []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos:pos + 1].isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":  # comment line
            pos = payload.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos:pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    width, height, maxval = fields
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    n = width * height * 3
    pixels = payload[pos:pos + n]
    if len(pixels) != n:
        raise ValueError("truncated PPM pixel data")
    return width, height, pixels, pos + n


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _png_payload(width: int, height: int, pixel_bytes: bytes) -> bytes:
    """REAL compressed PNG encode (pure stdlib): 8-bit truecolor RGB,
    zlib-compressed IDAT, per-row filter cycling None/Sub/Up so the
    decoder's unfilter paths are genuinely exercised by the synthetic
    corpus (Average/Paeth are covered by unit tests)."""
    import zlib

    stride = width * 3
    prior = bytes(stride)
    out = bytearray()
    for y in range(height):
        row = pixel_bytes[y * stride:(y + 1) * stride]
        f = y % 3
        out.append(f)
        if f == 0:
            out += row
        elif f == 1:  # Sub
            out += bytes(
                (row[x] - (row[x - 3] if x >= 3 else 0)) & 0xFF
                for x in range(stride)
            )
        else:  # Up
            out += bytes((row[x] - prior[x]) & 0xFF for x in range(stride))
        prior = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out), 6))
        + _png_chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _parse_png(payload: bytes) -> tuple[int, int, bytes]:
    """REAL PNG decode, pure stdlib: chunk walk with CRC verification,
    IHDR validation (8-bit truecolor RGB, no interlace), zlib inflate
    of the concatenated IDAT stream, and full unfilter (all five
    filter types: None/Sub/Up/Average/Paeth). Raises ValueError on a
    malformed container. This is the production-shaped compressed-
    codec path — JPEG/H.264 still need external libs, but PNG needs
    only zlib, which is stdlib."""
    import zlib

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG signature")
    pos = 8
    width = height = -1
    idat = bytearray()
    seen_ihdr = seen_iend = False
    while pos < len(payload):
        if pos + 8 > len(payload):
            raise ValueError("truncated PNG chunk header")
        (length,) = struct.unpack(">I", payload[pos:pos + 4])
        ctype = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        if len(data) != length or pos + 12 + length > len(payload):
            raise ValueError("truncated PNG chunk data")
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length:pos + 12 + length]
        )
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if (depth, color, comp, filt, interlace) != (8, 2, 0, 0, 0):
                raise ValueError(
                    "only 8-bit truecolor non-interlaced PNG supported"
                )
            seen_ihdr = True
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            seen_iend = True
            break
        pos += 12 + length
    if not (seen_ihdr and seen_iend):
        raise ValueError("PNG missing IHDR or IEND")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ValueError(f"PNG IDAT inflate failed: {exc}") from exc
    stride = width * 3
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG scanline data has wrong length")
    out = bytearray(height * stride)
    prior = bytes(stride)
    for y in range(height):
        f = raw[y * (stride + 1)]
        line = raw[y * (stride + 1) + 1:(y + 1) * (stride + 1)]
        recon = bytearray(stride)
        for x in range(stride):
            left = recon[x - 3] if x >= 3 else 0
            up = prior[x]
            ul = prior[x - 3] if x >= 3 else 0
            if f == 0:
                v = line[x]
            elif f == 1:
                v = line[x] + left
            elif f == 2:
                v = line[x] + up
            elif f == 3:
                v = line[x] + (left + up) // 2
            elif f == 4:
                v = line[x] + _paeth(left, up, ul)
            else:
                raise ValueError(f"unknown PNG filter {f}")
            recon[x] = v & 0xFF
        out[y * stride:(y + 1) * stride] = recon
        prior = bytes(recon)
    return width, height, bytes(out)


def decode_image(
    payload: bytes, strict: bool = False
) -> tuple[int, int, bytes]:
    """(width, height, pixel_bytes) from a binary-PPM (P6), PNG
    (8-bit RGB), GIF, or baseline JPEG payload — REAL parses of real
    bytes: PNG includes zlib inflate, CRC checks, and scanline
    unfiltering; JPEG includes Huffman entropy decode, dequantization,
    IDCT, chroma upsampling, and the YCbCr→RGB inverse transform
    (operators/jpeg.py) for grayscale, 4:4:4, and 4:2:0 baseline
    streams. Returned pixel_bytes is 3·w·h RGB for PPM/PNG/color-JPEG
    and w·h luminance for grayscale JPEG — callers branch on length.
    Progressive/arithmetic/restart-interval JPEG still needs Pillow,
    and a payload with none of the four signatures is not decoded at
    all: strict mode raises, non-strict falls back to a deterministic
    digest fake (0×0 dims) so plumbing tests can run on arbitrary
    bytes."""
    if payload[:8] == _PNG_SIG:
        try:
            return _parse_png(payload)
        except (ValueError, IndexError, struct.error):
            # malformed PNG: strict surfaces it, non-strict honors the
            # digest-fallback contract
            if strict:
                raise
    if payload[:2] == b"\xff\xd8":
        from json_ld_spark.operators.jpeg import decode_color

        try:
            return decode_color(payload)
        except (ValueError, IndexError, struct.error):
            # progressive/arithmetic JPEG (or corrupt stream): strict
            # surfaces it — that remains the Pillow swap-in point
            if strict:
                raise
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        from json_ld_spark.operators.gif import decode_gif

        try:
            return decode_gif(payload)
        except (ValueError, IndexError, struct.error):
            # out-of-subset GIF (interlace, local palettes): strict
            # surfaces it — the documented capability boundary
            if strict:
                raise
    if payload[:2] == b"P6":
        try:
            w, h, pixels, _ = _parse_ppm(payload)
            return w, h, pixels
        except (ValueError, IndexError):
            # malformed P6: strict surfaces it (a synthetic payload
            # failing to parse is a bug); non-strict honors the
            # documented digest-fallback contract
            if strict:
                raise
    if strict:
        raise NotImplementedError(
            "unrecognized image signature; PNG, baseline JPEG, GIF and "
            "PPM (P6) decode natively"
        )
    return 0, 0, hashlib.sha256(payload).digest()


def decode_audio(
    payload: bytes, strict: bool = False
) -> tuple[int, int, bytes]:
    """(sample_rate, n_samples, pcm16_bytes) from a WAV PCM16 payload
    via the stdlib ``wave`` module. Non-WAV payloads: strict raises,
    non-strict falls back to the digest fake."""
    if payload[:4] == b"fLaC":
        # real entropy-coded lossless audio: Rice-coded fixed-predictor
        # residuals with CRC-8/CRC-16 verification (operators/flac.py)
        from json_ld_spark.operators.flac import decode_flac

        try:
            return decode_flac(payload)
        except (ValueError, struct.error, IndexError):
            if strict:
                raise
            return 0, 0, hashlib.sha256(payload).digest()
    if payload[:4] == b"RIFF":
        # fmt-tag peek: IMA ADPCM (0x11) dispatches to the real
        # adaptive-delta decoder; PCM16 stays on the stdlib wave path
        if payload[12:16] == b"fmt " and len(payload) >= 22 and struct.unpack_from("<H", payload, 20)[0] == 0x11:
            from json_ld_spark.operators.adpcm import parse_ima_wav

            try:
                return parse_ima_wav(payload)
            except (ValueError, struct.error):
                if strict:
                    raise
                return 0, 0, hashlib.sha256(payload).digest()
        try:
            with wave.open(io.BytesIO(payload), "rb") as w:
                if w.getsampwidth() != 2 or w.getnchannels() != 1:
                    raise ValueError("only PCM16 mono supported")
                n = w.getnframes()
                return w.getframerate(), n, w.readframes(n)
        except (ValueError, EOFError, wave.Error):
            # corrupt/unsupported RIFF: strict surfaces it, non-strict
            # honors the digest-fallback contract
            if strict:
                raise
    if strict:
        raise NotImplementedError(
            "compressed audio codecs need torchaudio/ffmpeg; only WAV "
            "PCM16 decodes in this container"
        )
    return 0, 0, hashlib.sha256(payload).digest()


def decode_video_frames(
    payload: bytes, every_n: int = 1, strict: bool = False
) -> list[tuple[int, int, int, bytes]]:
    """[(frame_idx, width, height, pixel_bytes)] for every
    ``every_n``-th frame of a ppm-seq payload (concatenated P6
    frames). Skipped frames are seeked over, not decoded."""
    if payload[:2] != b"P6":
        if strict:
            raise NotImplementedError(
                "real video codecs need pyav/ffmpeg; only ppm-seq "
                "decodes in this container"
            )
        return []
    out = []
    offset, idx = 0, 0
    try:
        while offset < len(payload):
            w, h, pixels, nxt = _parse_ppm(payload, offset)
            if idx % every_n == 0:
                out.append((idx, w, h, pixels))
            offset, idx = nxt, idx + 1
    except (ValueError, IndexError):
        # truncated/garbled tail: strict surfaces it, non-strict
        # returns the frames decoded so far (fallback contract)
        if strict:
            raise
    return out


# ---------------------------------------------------------------------------
# decodable synthetic media + decoded statistics (oracle-checkable)
# ---------------------------------------------------------------------------

AUDIO_RATE = 16000


def _image_dims(media_id: int) -> tuple[int, int]:
    return (media_id % 8) * 8 + 8, (media_id % 4) * 8 + 8


def _audio_samples_n(media_id: int) -> int:
    return (media_id % 10) * 400 + 400


def _video_frames_n(media_id: int) -> int:
    return (media_id % 30) + 1


def _jpeg_block_values(media_id: int, n_blocks: int) -> np.ndarray:
    """Closed-form per-block luminance for the JPEG corpus:
    v(id, b) = (id·7 + b·13) % 256, b row-major. Every pixel of block
    b carries v — the constant-block shape that makes the lossy codec
    bit-exact under a unit quant table (see operators/jpeg.py)."""
    return ((media_id * 7 + np.arange(n_blocks) * 13) % 256).astype(
        np.int64
    )


def _jpeg_color_block_rgb(media_id: int, n_blocks: int) -> np.ndarray:
    """Closed-form per-block RGB for the COLOR JPEG corpus, shape
    (n_blocks, 3): r=(id·7+b·13)%256, g=(id·11+b·17)%256,
    b=(id·5+b·19)%256. Constant blocks (8×8 for 4:4:4, whole 16×16
    MCUs for 4:2:0) keep the DCT round trip bit-exact at unit quant;
    the decoded pixel is then EXACTLY ycbcr_to_rgb(rgb_to_ycbcr(v)) —
    a pure scaled-integer transform the SQL oracle replays
    (operators/jpeg.py)."""
    b = np.arange(n_blocks)
    return np.stack(
        [
            (media_id * 7 + b * 13) % 256,
            (media_id * 11 + b * 17) % 256,
            (media_id * 5 + b * 19) % 256,
        ],
        axis=-1,
    ).astype(np.int64)


def _image_pixels(media_id: int, n: int, frame: int = 0) -> np.ndarray:
    """Closed-form pixel bytes: value(i) = (id*7 + frame*3 + i*13) % 256.
    The SAME closed form is recomputed by the DuckDB oracle from
    (media_id, i) alone — so decoded byte statistics gate the real
    encode→decode round trip."""
    return ((media_id * 7 + frame * 3 + np.arange(n) * 13) % 256).astype(
        np.uint8
    )


def _audio_pcm(media_id: int, n: int) -> np.ndarray:
    """Closed-form int16 samples: ((id*31 + i*17) % 65536) - 32768."""
    return (
        (media_id * 31 + np.arange(n) * 17) % 65536 - 32768
    ).astype(np.int16)


def synthesize_decodable_media(
    spark: SparkSession, n: int = 240
) -> DataFrame:
    """Deterministic media table whose payloads are REAL decodable
    containers (PNG / PPM / JPEG gray + 4:4:4 + 4:2:0 / WAV /
    ppm-seq), generated distributed via
    mapInPandas — content is a pure closed-form function of media_id,
    which is what lets a SQL oracle verify the decoded bytes."""

    def _gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid in pdf["id"]:
                mid = int(mid)
                kind = ("image", "audio", "video")[mid % 3]
                if kind == "image":
                    w, h = _image_dims(mid)
                    # container cycles png / ppm / jpeg-gray /
                    # jpeg-444 / jpeg-420 — PNG and PPM share the RGB
                    # closed form; the JPEG variants (lossy) carry
                    # CONSTANT blocks (8×8, or whole 16×16 MCUs for
                    # 4:2:0 so chroma subsampling is exact) with a
                    # unit quant table, the shapes whose DCT round
                    # trip is bit-exact — the same hash-gate
                    # discipline covers all five containers
                    container = (mid // 3) % 5
                    if container == 2:
                        from json_ld_spark.operators.jpeg import (
                            encode_gray,
                        )

                        nb = (w // 8) * (h // 8)
                        blocks = _jpeg_block_values(mid, nb)
                        gray = np.repeat(
                            np.repeat(
                                blocks.reshape(h // 8, w // 8), 8, axis=0
                            ),
                            8, axis=1,
                        ).astype(np.uint8)
                        payload = encode_gray(w, h, gray.tobytes())
                        meta = (w, h, None, None, "jpeg-gray")
                    elif container in (3, 4):
                        from json_ld_spark.operators.jpeg import (
                            encode_rgb,
                        )

                        side = 8 if container == 3 else 16
                        bw = (w + side - 1) // side
                        bh = (h + side - 1) // side
                        rgbv = _jpeg_color_block_rgb(mid, bw * bh)
                        grid = rgbv.reshape(bh, bw, 3)
                        full = np.repeat(
                            np.repeat(grid, side, axis=0), side, axis=1
                        )[:h, :w].astype(np.uint8)
                        sub = "444" if container == 3 else "420"
                        payload = encode_rgb(w, h, full.tobytes(), sub)
                        meta = (w, h, None, None, f"jpeg-{sub}")
                    elif container == 0:
                        px = _image_pixels(mid, w * h * 3).tobytes()
                        payload = _png_payload(w, h, px)
                        meta = (w, h, None, None, "png")
                    else:
                        px = _image_pixels(mid, w * h * 3).tobytes()
                        payload = _ppm_payload(w, h, px)
                        meta = (w, h, None, None, "ppm")
                elif kind == "audio":
                    ns = _audio_samples_n(mid)
                    buf = io.BytesIO()
                    with wave.open(buf, "wb") as wv:
                        wv.setnchannels(1)
                        wv.setsampwidth(2)
                        wv.setframerate(AUDIO_RATE)
                        wv.writeframes(_audio_pcm(mid, ns).tobytes())
                    payload = buf.getvalue()
                    meta = (None, None, AUDIO_RATE, None, "wav-pcm16")
                else:
                    nf = _video_frames_n(mid)
                    fb = VIDEO_W * VIDEO_H * 3
                    payload = b"".join(
                        _ppm_payload(
                            VIDEO_W, VIDEO_H,
                            _image_pixels(mid, fb, frame=f).tobytes(),
                        )
                        for f in range(nf)
                    )
                    meta = (VIDEO_W, VIDEO_H, None, nf, "ppm-seq")
                rows.append((mid, kind, payload, meta))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "payload", "meta"]
            )

    return spark.range(n).mapInPandas(
        _gen,
        schema=(
            "media_id long, kind string, payload binary, "
            "meta struct<width:int, height:int, sample_rate:int, "
            "n_frames:int, codec:string>"
        ),
    )


DECODE_STATS_SCHEMA = (
    "media_id long, kind string, part int, n_values long, "
    "sum_values long, min_value long, max_value long"
)


def decode_stats(media: DataFrame, every_n: int = 5) -> DataFrame:
    """Decode every payload with the REAL codecs and emit per-part
    value statistics (exact integer sum/min/max — cross-engine safe):

      - image: one row per RGB channel (part = channel index);
      - audio: one row over all PCM16 samples (part = 0);
      - video: one row per SAMPLED frame (part = frame_idx,
        ``every_n`` sampling — unsampled frames are never decoded).

    strict=True inside: a synthetic payload that fails to parse is a
    bug, not a fallback case."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, kind, p in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                mid, payload = int(mid), bytes(p)
                if kind == "image":
                    _w, _h, pixels = decode_image(payload, strict=True)
                    arr = np.frombuffer(pixels, dtype=np.uint8).astype(
                        np.int64
                    )
                    # RGB interleaved (3·w·h) → one row per channel;
                    # grayscale JPEG (w·h) → a single part-0 row
                    n_ch = 3 if len(arr) == _w * _h * 3 else 1
                    for c in range(n_ch):
                        ch = arr[c::n_ch]
                        rows.append((mid, kind, c, len(ch), int(ch.sum()),
                                     int(ch.min()), int(ch.max())))
                elif kind == "audio":
                    _rate, _n, pcm = decode_audio(payload, strict=True)
                    arr = np.frombuffer(pcm, dtype="<i2").astype(np.int64)
                    rows.append((mid, kind, 0, len(arr), int(arr.sum()),
                                 int(arr.min()), int(arr.max())))
                else:
                    for idx, _w, _h, pixels in decode_video_frames(
                        payload, every_n=every_n, strict=True
                    ):
                        arr = np.frombuffer(
                            pixels, dtype=np.uint8
                        ).astype(np.int64)
                        rows.append((mid, kind, idx, len(arr),
                                     int(arr.sum()), int(arr.min()),
                                     int(arr.max())))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "kind", "part", "n_values",
                         "sum_values", "min_value", "max_value"],
            )

    return media.mapInPandas(_batches, schema=DECODE_STATS_SCHEMA)


AUDIO_FEATURES_SCHEMA = (
    "media_id long, win_idx int, n_samples int, sum_sq long, "
    "n_zero_cross int, min_value long, max_value long"
)


def audio_window_features(
    media: DataFrame, win: int = 400
) -> DataFrame:
    """Frame-level audio features over REAL decoded PCM: split each
    WAV stream into fixed ``win``-sample windows (400 = 25 ms at
    16 kHz, the standard speech frame) and emit per-window energy
    (exact integer sum of squares — the VAD / silence-trim signal),
    zero-crossing count (the classic voiced/unvoiced discriminator;
    a crossing is a sign change between CONSECUTIVE samples within
    the window, where sample ≥ 0 counts as non-negative), and
    min/max. All-integer outputs so the DuckDB oracle replays them
    from the closed-form sample function with no float drift.

    Vectorized end to end: one numpy reshape + square/sign pass per
    payload inside Arrow-batched mapInPandas; no shuffle (features
    are per-payload). At 100 TB the same plan holds — payload rows
    partition freely and each window row costs ~5 columns."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, kind, p in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                if kind != "audio":
                    continue
                _rate, _n, pcm = decode_audio(bytes(p), strict=True)
                arr = np.frombuffer(pcm, dtype="<i2").astype(np.int64)
                for wi in range(0, len(arr), win):
                    seg = arr[wi:wi + win]
                    neg = seg < 0
                    rows.append((
                        int(mid), wi // win, len(seg),
                        int((seg * seg).sum()),
                        int((neg[1:] != neg[:-1]).sum()),
                        int(seg.min()), int(seg.max()),
                    ))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "win_idx", "n_samples", "sum_sq",
                         "n_zero_cross", "min_value", "max_value"],
            )

    return media.mapInPandas(_batches, schema=AUDIO_FEATURES_SCHEMA)


def sample_frames(media: DataFrame, every_n: int = 5) -> DataFrame:
    """Video frame sampling: explode n_frames into sampled frame rows
    (the decode of each frame is the stubbed codec; the explode/
    partition shape is the real plan a video pipeline needs)."""
    video = media.filter(F.col("kind") == "video")
    return video.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("meta.n_frames") - 1, F.lit(every_n))
        ).alias("frame_idx"),
        F.col("meta.n_frames").alias("n_frames"),
    )


def resize_plan(media: DataFrame, max_side: int = 128) -> DataFrame:
    """Resize bookkeeping: compute target dims JVM-side (the actual
    pixel work is the stubbed codec)."""
    w, h = F.col("meta.width"), F.col("meta.height")
    scale = F.least(F.lit(max_side) / w, F.lit(max_side) / h, F.lit(1.0))
    return media.filter(F.col("kind") == "image").select(
        "media_id",
        w.alias("width"),
        h.alias("height"),
        F.ceil(w * scale).cast("int").alias("target_width"),
        F.ceil(h * scale).cast("int").alias("target_height"),
    )


def synthesize_gif_media(spark: SparkSession, n: int = 240) -> DataFrame:
    """Deterministic GIF corpus: every payload is a REAL GIF89a
    stream (palette + variable-width LZW, operators/gif.py) whose
    pixels are the closed-form 8×8 block RGB of
    _jpeg_color_block_rgb — GIF is lossless, so the SQL oracle can
    gate decoded channel statistics against the block closed form
    with no transform replay."""

    def _gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from json_ld_spark.operators.gif import encode_gif

        for pdf in it:
            rows = []
            for mid in pdf["id"]:
                mid = int(mid)
                w, h = _image_dims(mid)
                bw, bh = w // 8, h // 8
                grid = _jpeg_color_block_rgb(mid, bw * bh).reshape(bh, bw, 3)
                full = np.repeat(np.repeat(grid, 8, axis=0), 8, axis=1)
                payload = encode_gif(w, h, full.astype(np.uint8).tobytes())
                rows.append(
                    (mid, "image", payload, (w, h, None, None, "gif"))
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "payload", "meta"]
            )

    return spark.range(n).mapInPandas(
        _gen,
        schema=(
            "media_id long, kind string, payload binary, "
            "meta struct<width:int, height:int, sample_rate:int, "
            "n_frames:int, codec:string>"
        ),
    )


def synthesize_flac_media(spark: SparkSession, n: int = 240) -> DataFrame:
    """Deterministic FLAC corpus: every payload is a REAL FLAC stream
    (STREAMINFO + CRC-checked frames + Rice-coded fixed-predictor
    residuals, operators/flac.py). FLAC is lossless, so the SQL
    oracle gates decoded sample statistics against the closed-form
    signal with no codec replay. Four signal classes exercise every
    subframe type the encoder can emit:

      n_samples = 300 + (mid % 4) * 250    (2-5 blocks at 256)
      mid % 4 == 0: s_i = (mid*37) % 4001 - 2000            CONSTANT
      mid % 4 == 1: s_i = (mid*13 + i*29) % 4001 - 2000     FIXED ~1
      mid % 4 == 2: s_i = (mid*7 + i*i*3) % 4001 - 2000     FIXED ~2
      mid % 4 == 3: s_i = (mid*2654435761 + i*40503) % 65536
                          - 32768                           VERBATIM
    """

    def _gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from json_ld_spark.operators.flac import encode_flac

        for pdf in it:
            rows = []
            for mid in pdf["id"]:
                mid = int(mid)
                n_s = 300 + (mid % 4) * 250
                mode = mid % 4
                if mode == 0:
                    c = (mid * 37) % 4001 - 2000
                    samples = [c] * n_s
                elif mode == 1:
                    samples = [
                        (mid * 13 + i * 29) % 4001 - 2000
                        for i in range(n_s)
                    ]
                elif mode == 2:
                    samples = [
                        (mid * 7 + i * i * 3) % 4001 - 2000
                        for i in range(n_s)
                    ]
                else:
                    samples = [
                        (mid * 2654435761 + i * 40503) % 65536 - 32768
                        for i in range(n_s)
                    ]
                payload = encode_flac(samples, AUDIO_RATE, 256)
                rows.append(
                    (mid, "audio", payload,
                     (None, None, AUDIO_RATE, None, "flac"))
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "payload", "meta"]
            )

    return spark.range(n).mapInPandas(
        _gen,
        schema=(
            "media_id long, kind string, payload binary, "
            "meta struct<width:int, height:int, sample_rate:int, "
            "n_frames:int, codec:string>"
        ),
    )


ADPCM_BLOCK_ALIGN = 36  # 4-byte header + 32 nibble bytes → 65 samples


def synthesize_adpcm_media(spark: SparkSession, n: int = 240) -> DataFrame:
    """Deterministic IMA-ADPCM corpus: every payload is a real WAV
    fmt-0x11 stream (operators/adpcm.py). The NIBBLE stream and block
    seeds are closed forms of (media_id, block, position) — so the
    decoded samples are a pure function the SQL oracle replays by
    stepping the published IMA state machine in a recursive CTE:
      pred0 = ((mid·31 + blk·17) % 65536) − 32768
      idx0  = (mid + blk·13) % 89
      nib_j = (mid·3 + blk·5 + j·7) % 16,  j < 64
    blocks per payload = 2 + mid % 3."""

    def _gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from json_ld_spark.operators.adpcm import build_ima_wav

        n_nib = (ADPCM_BLOCK_ALIGN - 4) * 2
        for pdf in it:
            rows = []
            for mid in pdf["id"]:
                mid = int(mid)
                blocks = []
                for blk in range(2 + mid % 3):
                    pred0 = ((mid * 31 + blk * 17) % 65536) - 32768
                    idx0 = (mid + blk * 13) % 89
                    nibs = [
                        (mid * 3 + blk * 5 + j * 7) % 16
                        for j in range(n_nib)
                    ]
                    blocks.append((pred0, idx0, nibs))
                payload = build_ima_wav(blocks, AUDIO_RATE, ADPCM_BLOCK_ALIGN)
                rows.append(
                    (mid, "audio", payload,
                     (None, None, AUDIO_RATE, None, "ima-adpcm"))
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "payload", "meta"]
            )

    return spark.range(n).mapInPandas(
        _gen,
        schema=(
            "media_id long, kind string, payload binary, "
            "meta struct<width:int, height:int, sample_rate:int, "
            "n_frames:int, codec:string>"
        ),
    )
