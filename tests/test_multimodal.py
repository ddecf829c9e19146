"""Multimodal plumbing tests: schema, batch shape, determinism, stub
contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from json_ld_spark.operators.multimodal import (
    decode_image,
    resize_plan,
    sample_frames,
    synthesize_media,
)


def test_media_schema_and_determinism(spark):
    a = synthesize_media(spark, n=30).collect()
    b = synthesize_media(spark, n=30).collect()
    assert len(a) == 30
    by_id = {r["media_id"]: r for r in a}
    for r in b:
        assert bytes(by_id[r["media_id"]]["payload"]) == bytes(r["payload"])
    kinds = {r["kind"] for r in a}
    assert kinds == {"image", "audio", "video"}
    assert a[0]["meta"]["sample_rate"] == 16000


def test_strict_codec_raises_on_compressed_formats():
    """Codecs outside the native set still raise in strict mode:
    malformed/color JPEG surfaces its parse error (grayscale baseline
    now decodes natively — operators/jpeg.py), mp3 stays the
    documented library boundary."""
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0jpegish", strict=True)
    from json_ld_spark.operators.multimodal import decode_audio

    with pytest.raises(NotImplementedError):
        decode_audio(b"ID3\x04mp3ish", strict=True)


def test_decode_image_names_unrecognized_signature():
    """A payload with no PNG, JPEG, GIF or P6 signature is not a JPEG
    (or any format decode_image knows): strict mode says so, naming
    the four native formats, instead of blaming a missing library."""
    for payload in (b"BM\x00\x00bmpish", b"RIFF\x00\x00\x00\x00WEBP", b""):
        with pytest.raises(NotImplementedError) as e:
            decode_image(payload, strict=True)
        assert str(e.value) == (
            "unrecognized image signature; PNG, baseline JPEG, GIF and "
            "PPM (P6) decode natively"
        )


def test_non_strict_fallback_on_malformed_recognized_payloads():
    """A payload with a recognized container prefix but malformed body
    must honor the digest-fallback contract in non-strict mode (and
    surface the parse error in strict mode) — a single truncated blob
    must not fail a whole Spark task."""
    import io
    import wave

    import numpy as np

    from json_ld_spark.operators.multimodal import (
        decode_audio,
        decode_video_frames,
    )

    truncated_ppm = b"P6\n8 8\n255\n" + b"\x01" * 10  # needs 192 bytes
    w, h, data = decode_image(truncated_ppm, strict=False)
    assert (w, h) == (0, 0) and len(data) == 32  # digest fallback
    with pytest.raises(ValueError):
        decode_image(truncated_ppm, strict=True)

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:  # stereo → unsupported
        wv.setnchannels(2)
        wv.setsampwidth(2)
        wv.setframerate(8000)
        wv.writeframes(np.zeros(8, dtype="<i2").tobytes())
    rate, n, data = decode_audio(buf.getvalue(), strict=False)
    assert (rate, n) == (0, 0) and len(data) == 32
    with pytest.raises(ValueError):
        decode_audio(buf.getvalue(), strict=True)

    # ppm-seq with a garbled tail: non-strict keeps decoded frames
    from json_ld_spark.operators.multimodal import (
        VIDEO_H,
        VIDEO_W,
        _image_pixels,
        _ppm_payload,
    )

    fb = VIDEO_W * VIDEO_H * 3
    good = _ppm_payload(VIDEO_W, VIDEO_H, _image_pixels(3, fb).tobytes())
    frames = decode_video_frames(good + b"P6\nbroken", every_n=1,
                                 strict=False)
    assert [f[0] for f in frames] == [0]
    with pytest.raises(ValueError):
        decode_video_frames(good + b"P6\nbroken", every_n=1, strict=True)


def test_ppm_round_trip():
    """Real encode→decode: PPM bytes parse back to the exact pixels."""
    from json_ld_spark.operators.multimodal import (
        _image_pixels,
        _parse_ppm,
        _ppm_payload,
    )

    pixels = _image_pixels(7, 24 * 16 * 3).tobytes()
    payload = _ppm_payload(24, 16, pixels)
    w, h, out = decode_image(payload, strict=True)
    assert (w, h) == (24, 16) and out == pixels
    # comments and arbitrary whitespace in the header parse too
    wonky = b"P6\n# a comment\n 24\t16\n255\n" + pixels
    assert _parse_ppm(wonky)[:3] == (24, 16, pixels)


def test_wav_round_trip():
    """Real encode→decode: WAV PCM16 parses back to the exact samples."""
    import io
    import wave

    import numpy as np

    from json_ld_spark.operators.multimodal import (
        AUDIO_RATE,
        _audio_pcm,
        decode_audio,
    )

    samples = _audio_pcm(5, 1234)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(AUDIO_RATE)
        wv.writeframes(samples.tobytes())
    rate, n, pcm = decode_audio(buf.getvalue(), strict=True)
    assert rate == AUDIO_RATE and n == 1234
    assert np.array_equal(np.frombuffer(pcm, dtype="<i2"), samples)


def test_video_frame_sampling_decodes_only_sampled():
    from json_ld_spark.operators.multimodal import (
        VIDEO_H,
        VIDEO_W,
        _image_pixels,
        _ppm_payload,
        decode_video_frames,
    )

    fb = VIDEO_W * VIDEO_H * 3
    payload = b"".join(
        _ppm_payload(VIDEO_W, VIDEO_H, _image_pixels(9, fb, frame=f).tobytes())
        for f in range(11)
    )
    frames = decode_video_frames(payload, every_n=4, strict=True)
    assert [f[0] for f in frames] == [0, 4, 8]
    for idx, w, h, pixels in frames:
        assert (w, h) == (VIDEO_W, VIDEO_H)
        assert pixels == _image_pixels(9, fb, frame=idx).tobytes()


def test_decode_stats_matches_local_recompute(spark):
    """Distributed decode_stats == a single-process recompute from the
    closed-form content function (the same invariant the DuckDB
    oracle checks at driver scale)."""
    import numpy as np

    from json_ld_spark.operators.multimodal import (
        VIDEO_H,
        VIDEO_W,
        _audio_pcm,
        _audio_samples_n,
        _image_dims,
        _image_pixels,
        _video_frames_n,
        decode_stats,
        synthesize_decodable_media,
    )

    media = synthesize_decodable_media(spark, n=60)
    rows = {
        (r["media_id"], r["part"]): r
        for r in decode_stats(media, every_n=5).collect()
    }
    for mid in range(60):
        kind = ("image", "audio", "video")[mid % 3]
        if kind == "image":
            w, h = _image_dims(mid)
            container = (mid // 3) % 5
            if container == 2:  # jpeg-gray: constant-block content
                from json_ld_spark.operators.multimodal import (
                    _jpeg_block_values,
                )

                blocks = _jpeg_block_values(mid, (w // 8) * (h // 8))
                r = rows[(mid, 0)]
                assert (r["n_values"], r["sum_values"]) == (
                    w * h, int(blocks.sum()) * 64,
                )
                assert (r["min_value"], r["max_value"]) == (
                    blocks.min(), blocks.max(),
                )
                continue
            if container in (3, 4):  # color JPEG: block RGB through
                # the exact integer YCbCr round trip
                from json_ld_spark.operators.jpeg import (
                    rgb_to_ycbcr,
                    ycbcr_to_rgb,
                )
                from json_ld_spark.operators.multimodal import (
                    _jpeg_color_block_rgb,
                )

                side = 8 if container == 3 else 16
                bw, bh = (w + side - 1) // side, (h + side - 1) // side
                rgbv = _jpeg_color_block_rgb(mid, bw * bh)
                dec = ycbcr_to_rgb(
                    rgb_to_ycbcr(
                        rgbv.reshape(bh, bw, 3).astype(np.uint8)
                    ).astype(np.int64)
                ).reshape(-1, 3).astype(np.int64)
                npx = np.array([
                    min(side, w - (m % bw) * side)
                    * min(side, h - (m // bw) * side)
                    for m in range(bw * bh)
                ])
                for c in range(3):
                    r = rows[(mid, c)]
                    assert (r["n_values"], r["sum_values"]) == (
                        w * h, int((npx * dec[:, c]).sum()),
                    )
                    assert (r["min_value"], r["max_value"]) == (
                        dec[:, c].min(), dec[:, c].max(),
                    )
                continue
            arr = _image_pixels(mid, w * h * 3).astype(np.int64)
            for c in range(3):
                ch = arr[c::3]
                r = rows[(mid, c)]
                assert (r["n_values"], r["sum_values"]) == (len(ch), ch.sum())
                assert (r["min_value"], r["max_value"]) == (ch.min(), ch.max())
        elif kind == "audio":
            arr = _audio_pcm(mid, _audio_samples_n(mid)).astype(np.int64)
            r = rows[(mid, 0)]
            assert (r["n_values"], r["sum_values"]) == (len(arr), arr.sum())
        else:
            fb = VIDEO_W * VIDEO_H * 3
            for f in range(0, _video_frames_n(mid), 5):
                arr = _image_pixels(mid, fb, frame=f).astype(np.int64)
                r = rows[(mid, f)]
                assert (r["sum_values"], r["min_value"], r["max_value"]) == (
                    arr.sum(), arr.min(), arr.max(),
                )


def test_frame_sampling(spark):
    media = synthesize_media(spark, n=30)
    frames = sample_frames(media, every_n=5)
    rows = frames.collect()
    assert rows, "video rows expected"
    for r in rows:
        assert r["frame_idx"] % 5 == 0 and r["frame_idx"] < r["n_frames"]


def test_resize_plan(spark):
    media = synthesize_media(spark, n=30)
    plan = resize_plan(media, max_side=128).collect()
    assert plan
    for r in plan:
        assert max(r["target_width"], r["target_height"]) <= 128
        # aspect ratio preserved within rounding
        ar_in = r["width"] / r["height"]
        ar_out = r["target_width"] / r["target_height"]
        assert abs(ar_in - ar_out) / ar_in < 0.05


def test_png_roundtrip_and_filters():
    """REAL compressed-codec path: the pure-stdlib PNG encode→decode
    round-trips (zlib IDAT, CRC-verified chunks) across all five
    scanline filter types; corruption is detected, not absorbed."""
    import struct
    import zlib

    from json_ld_spark.operators.multimodal import (
        _PNG_SIG,
        _image_pixels,
        _parse_png,
        _png_chunk,
        _png_payload,
        decode_image,
    )

    for mid in (0, 6, 12, 30):
        w, h = (mid % 8) * 8 + 8, (mid % 4) * 8 + 8
        px = _image_pixels(mid, w * h * 3).tobytes()
        w2, h2, out = _parse_png(_png_payload(w, h, px))
        assert (w2, h2, out) == (w, h, px)

    # Average (3) and Paeth (4) unfilter paths via a test encoder
    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    def encode(w, h, px, filters):
        stride = w * 3
        prior = bytes(stride)
        body = bytearray()
        for y in range(h):
            row = px[y * stride:(y + 1) * stride]
            f = filters[y % len(filters)]
            body.append(f)
            for x in range(stride):
                left = row[x - 3] if x >= 3 else 0
                up = prior[x]
                ul = prior[x - 3] if x >= 3 else 0
                base = {0: 0, 1: left, 2: up, 3: (left + up) // 2,
                        4: paeth(left, up, ul)}[f]
                body.append((row[x] - base) & 0xFF)
            prior = row
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
                + _png_chunk(b"IDAT", zlib.compress(bytes(body)))
                + _png_chunk(b"IEND", b""))

    px = _image_pixels(7, 16 * 8 * 3).tobytes()
    for filters in ([3], [4], [0, 1, 2, 3, 4]):
        assert _parse_png(encode(16, 8, px, filters))[2] == px

    # CRC corruption detected
    import pytest as _pytest

    bad = bytearray(_png_payload(16, 8, px))
    bad[40] ^= 0xFF
    with _pytest.raises(ValueError):
        _parse_png(bytes(bad))
    # strict decode_image surfaces malformed PNG instead of falling back
    with _pytest.raises(ValueError):
        decode_image(bytes(bad), strict=True)
    # non-strict falls back to the digest contract
    assert decode_image(bytes(bad), strict=False)[0] == 0


def test_jpeg_constant_blocks_bit_exact():
    """Constant 8×8 blocks + unit quant table: the lossy codec's one
    bit-exact shape (DC-only spectrum) — the property the decode hash
    gate stands on."""
    import numpy as np

    from json_ld_spark.operators.jpeg import decode_color, encode_gray

    w, h = 40, 24
    img = np.zeros((h, w), dtype=np.uint8)
    for by in range(h // 8):
        for bx in range(w // 8):
            img[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = (
                (by * (w // 8) + bx) * 13 + 7
            ) % 256
    enc = encode_gray(w, h, img.tobytes())
    assert enc[:2] == b"\xff\xd8" and enc[-2:] == b"\xff\xd9"
    w2, h2, px = decode_color(enc)
    assert (w2, h2, px) == (w, h, img.tobytes())


def test_jpeg_arbitrary_content_and_lossy_quant():
    """Real content: unit quant keeps DCT rounding within ±1; a
    coarse table actually quantizes (smaller stream, bounded error) —
    i.e. the codec is genuinely lossy-capable, not a fixed-path toy."""
    import numpy as np

    from json_ld_spark.operators.jpeg import decode_color, encode_gray

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (40, 56), dtype=np.uint8)
    _, _, px = decode_color(encode_gray(56, 40, img.tobytes()))
    err = np.abs(
        np.frombuffer(px, np.uint8).astype(int)
        - img.reshape(-1).astype(int)
    )
    assert err.max() <= 2

    fine = encode_gray(56, 40, img.tobytes())
    coarse = encode_gray(56, 40, img.tobytes(), quant=[32] * 64)
    assert len(coarse) < len(fine) / 2
    _, _, px2 = decode_color(coarse)
    err2 = np.abs(
        np.frombuffer(px2, np.uint8).astype(int)
        - img.reshape(-1).astype(int)
    )
    assert err2.max() <= 64  # bounded by quant step + DCT spread


def test_jpeg_non_multiple_of_8_crops():
    import numpy as np

    from json_ld_spark.operators.jpeg import decode_color, encode_gray

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (13, 21), dtype=np.uint8)
    w, h, px = decode_color(encode_gray(21, 13, img.tobytes()))
    assert (w, h) == (21, 13) and len(px) == 21 * 13


def test_jpeg_rejects_unsupported_profiles():
    import pytest as _pytest

    from json_ld_spark.operators.jpeg import decode_color, encode_gray

    with _pytest.raises(ValueError):
        decode_color(b"not a jpeg")
    # progressive SOF2 marker in an otherwise plausible stream
    import struct

    prog = (b"\xff\xd8" + struct.pack(">HH", 0xFFC2, 8)
            + b"\x08\x00\x08\x00\x08\x01")
    with _pytest.raises(ValueError):
        decode_color(prog)
    with _pytest.raises(ValueError):
        encode_gray(8, 8, b"\x00" * 63)  # wrong buffer size


def test_jpeg_color_constant_blocks_bit_exact():
    """Color twin of the grayscale gate property: constant 8×8 blocks
    (4:4:4) / constant 16×16 MCUs (4:2:0) at unit quant decode to
    EXACTLY the scaled-integer YCbCr round trip of the source RGB —
    including partial edge MCUs, which the encoder pads by edge
    replication and the decoder crops."""
    import numpy as np

    from json_ld_spark.operators.jpeg import (
        decode_color,
        encode_rgb,
        rgb_to_ycbcr,
        ycbcr_to_rgb,
    )

    for sub, side, (w, h) in (
        ("444", 8, (40, 24)), ("420", 16, (40, 24)), ("420", 16, (8, 8)),
    ):
        bw, bh = (w + side - 1) // side, (h + side - 1) // side
        rgb = np.zeros((h, w, 3), dtype=np.uint8)
        for m in range(bw * bh):
            my, mx = divmod(m, bw)
            rgb[my * side:(my + 1) * side, mx * side:(mx + 1) * side] = (
                (m * 13 + 7) % 256, (m * 17 + 3) % 256, (m * 19 + 11) % 256,
            )
        w2, h2, px = decode_color(encode_rgb(w, h, rgb.tobytes(), sub))
        exp = ycbcr_to_rgb(rgb_to_ycbcr(rgb).astype(np.int64))
        assert (w2, h2) == (w, h)
        assert px == exp.tobytes(), (sub, w, h)


def test_jpeg_color_arbitrary_content_bounded_error():
    """Arbitrary content: 4:4:4 at unit quant stays within combined
    DCT-rounding + color-transform error; 4:2:0 keeps LUMA within the
    same bound while chroma is genuinely subsampled (the lossy path
    works, it isn't a constant-block-only toy)."""
    import numpy as np

    from json_ld_spark.operators.jpeg import (
        decode_color,
        encode_rgb,
        rgb_to_ycbcr,
        ycbcr_to_rgb,
    )

    rng = np.random.default_rng(17)
    img = rng.integers(0, 256, (24, 17, 3), dtype=np.uint8)
    _, _, px = decode_color(encode_rgb(17, 24, img.tobytes(), "444"))
    out = np.frombuffer(px, np.uint8).reshape(24, 17, 3).astype(int)
    exp = ycbcr_to_rgb(rgb_to_ycbcr(img).astype(np.int64)).astype(int)
    assert np.abs(out - exp).max() <= 12  # DCT ±1/component × gains

    _, _, px = decode_color(encode_rgb(17, 24, img.tobytes(), "420"))
    out = np.frombuffer(px, np.uint8).reshape(24, 17, 3)
    y_out = rgb_to_ycbcr(out)[..., 0].astype(int)
    y_in = rgb_to_ycbcr(img)[..., 0].astype(int)
    assert np.abs(y_out - y_in).max() <= 16


def test_jpeg_color_decoder_handles_grayscale_and_rejects():
    """decode_color on a 1-component stream returns the luminance
    plane (w·h bytes, pinned by hash); malformed/unsupported streams
    raise."""
    import hashlib

    import numpy as np
    import pytest as _pytest

    from json_ld_spark.operators.jpeg import (
        decode_color,
        encode_gray,
        encode_rgb,
    )

    rng = np.random.default_rng(23)
    g = rng.integers(0, 256, (16, 24), dtype=np.uint8)
    w, h, px = decode_color(encode_gray(24, 16, g.tobytes()))
    assert (w, h, len(px)) == (24, 16, 24 * 16)
    assert hashlib.sha256(px).hexdigest() == (
        "10830c69564ccd470af7d87d9f42218154107b8a35f914debfd7d68197dbc5df"
    )

    with _pytest.raises(ValueError):
        decode_color(b"not a jpeg")
    with _pytest.raises(ValueError):
        encode_rgb(8, 8, b"\x00" * 8 * 8 * 3, "422")  # unsupported mode
    with _pytest.raises(ValueError):
        encode_rgb(8, 8, b"\x00" * 10, "444")  # wrong buffer size


def test_jpeg_flows_through_decode_image_and_stats(spark):
    """decode_image routes \\xff\\xd8 payloads to the JPEG decoder and
    decode_stats emits a single part-0 row for grayscale pixels."""
    import numpy as np

    from json_ld_spark.operators.multimodal import (
        decode_image,
        decode_stats,
        synthesize_decodable_media,
    )

    media = synthesize_decodable_media(spark, n=30)
    jpegs = media.filter(F.col("meta.codec") == "jpeg-gray")
    rows = jpegs.collect()
    assert rows, "corpus must contain jpeg-gray images"
    for r in rows:
        w, h, px = decode_image(bytes(r["payload"]), strict=True)
        assert (w, h) == (r["meta"]["width"], r["meta"]["height"])
        assert len(px) == w * h
        # every 8×8 block constant
        arr = np.frombuffer(px, np.uint8).reshape(h, w)
        for by in range(h // 8):
            for bx in range(w // 8):
                blk = arr[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8]
                assert (blk == blk[0, 0]).all()
    stats = decode_stats(jpegs).collect()
    assert {r["part"] for r in stats} == {0}
    assert all(
        r["n_values"]
        == jrow["meta"]["width"] * jrow["meta"]["height"]
        for r, jrow in zip(
            sorted(stats, key=lambda x: x["media_id"]),
            sorted(rows, key=lambda x: x["media_id"]),
        )
    )


def test_gif_lzw_roundtrip_adversarial():
    import random

    from json_ld_spark.operators.gif import decode_gif, encode_gif

    rng = random.Random(7)
    for trial in range(40):
        w = rng.choice([8, 16, 24, 64, 128])
        h = rng.choice([8, 16, 32, 64])
        mode = trial % 4
        px = bytearray()
        if mode == 0:  # long runs (block images)
            pal = [(rng.randrange(256),) * 3
                   for _ in range(rng.choice([1, 2, 3, 17]))]
            for i in range(w * h):
                px += bytes(pal[(i // 64) % len(pal)])
        elif mode == 1:  # 256-color noise → 12-bit codes + table reset
            for i in range(w * h):
                v = rng.randrange(256)
                px += bytes((v, (v * 7) % 256, (v * 13) % 256))
        elif mode == 2:  # 2-color stripes → KwKwK-heavy
            for i in range(w * h):
                px += bytes(((i % 2) * 255,) * 3)
        else:
            for i in range(w * h):
                v = (i * 37) % 251
                px += bytes((v, (v * 3) % 256, (v * 5) % 256))
        enc = encode_gif(w, h, bytes(px))
        assert decode_gif(enc) == (w, h, bytes(px)), (trial, mode)


def test_gif_rejects_out_of_subset():
    import pytest

    from json_ld_spark.operators.gif import decode_gif, encode_gif

    with pytest.raises(ValueError):
        encode_gif(2, 2, bytes(range(12)) * 0 + bytes(11))  # bad length
    enc = bytearray(encode_gif(8, 8, bytes(8 * 8 * 3)))
    enc[10] &= 0x7F  # drop global-color-table flag
    with pytest.raises(ValueError):
        decode_gif(bytes(enc))


def test_adpcm_matches_audioop_and_container():
    """Core decode vs stdlib audioop — an independent C implementation
    of the same IMA/DVI variant, which also encodes the nibbles
    (audioop packs HIGH nibble first; the WAV container low-first,
    covered below)."""
    import math
    import struct
    import warnings

    from json_ld_spark.operators.adpcm import (
        build_ima_wav,
        decode_nibbles,
        parse_ima_wav,
    )

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        import audioop

    pcm = [int(10000 * math.sin(i / 10)) + (i * 37) % 301 - 150
           for i in range(2000)]
    adp, _ = audioop.lin2adpcm(struct.pack(f"<{len(pcm)}h", *pcm), 2, None)
    nib = []
    for b in adp:
        nib.extend((b >> 4, b & 0xF))
    lin, _ = audioop.adpcm2lin(adp, 2, None)
    assert decode_nibbles(nib, 0, 0) == list(
        struct.unpack(f"<{len(pcm)}h", lin)
    )

    # container round trip: block framing emits the seed sample first
    blocks = []
    for blk in range(3):
        nibs = [(5 * blk + 7 * j) % 16 for j in range(64)]
        blocks.append((blk * 100 - 50, (blk * 7) % 89, nibs))
    wav = build_ima_wav(blocks, 16000, 36)
    rate, n, pcm2 = parse_ima_wav(wav)
    assert (rate, n) == (16000, 65 * 3)
    exp = []
    for pred0, idx0, nibs in blocks:
        exp += [pred0] + decode_nibbles(nibs, pred0, idx0)
    assert list(struct.unpack(f"<{n}h", pcm2)) == exp


def test_decode_audio_dispatches_adpcm_and_pcm(spark):
    from json_ld_spark.operators.multimodal import (
        decode_stats,
        synthesize_adpcm_media,
        synthesize_decodable_media,
    )

    adpcm_rows = decode_stats(synthesize_adpcm_media(spark, 12)).collect()
    assert len(adpcm_rows) == 12
    assert all(r["n_values"] == 65 * (2 + r["media_id"] % 3)
               for r in adpcm_rows)
    # pcm16 path unchanged by the fmt-tag dispatch
    pcm_rows = decode_stats(
        synthesize_decodable_media(spark, 12).filter("kind = 'audio'")
    ).collect()
    assert pcm_rows and all(r["kind"] == "audio" for r in pcm_rows)


def test_flac_roundtrip_all_subframe_types():
    import math
    import struct

    from json_ld_spark.operators.flac import decode_flac, encode_flac

    sigs = {
        "constant": [137] * 700,
        "ramp_fixed": [i % 3000 - 1500 for i in range(513)],
        "sine_fixed": [int(8000 * math.sin(i / 10)) for i in range(1000)],
        "high_entropy_verbatim": [
            ((i * 2654435761) % 65536) - 32768 for i in range(300)
        ],
        "single": [42],
        "extremes": [-32768, 32767] * 200,
    }
    for name, s in sigs.items():
        payload = encode_flac(s, 16000, 256)
        rate, n, pcm = decode_flac(payload)
        assert rate == 16000 and n == len(s), name
        assert list(struct.unpack(f"<{n}h", pcm)) == s, name


def test_flac_crc_makes_corruption_loud():
    import math

    import pytest

    from json_ld_spark.operators.flac import decode_flac, encode_flac

    payload = bytearray(
        encode_flac([int(8000 * math.sin(i / 10)) for i in range(1000)])
    )
    # flip a bit inside the first frame body (past the 4+42-byte
    # metadata prologue) — CRC-16 must catch it
    payload[60] ^= 0x40
    with pytest.raises(ValueError):
        decode_flac(bytes(payload))


def test_flac_flows_through_decode_audio_and_stats(spark):
    from json_ld_spark.operators.flac import decode_flac
    from json_ld_spark.operators.multimodal import (
        decode_audio,
        decode_stats,
        synthesize_flac_media,
    )

    rows = decode_stats(synthesize_flac_media(spark, 12)).collect()
    assert len(rows) == 12
    for r in rows:
        mid = r["media_id"]
        n_s = 300 + (mid % 4) * 250
        assert r["n_values"] == n_s
        if mid % 4 == 0:
            c = (mid * 37) % 4001 - 2000
            assert r["sum_values"] == c * n_s
            assert r["min_value"] == r["max_value"] == c
    # the magic-byte dispatch in decode_audio hits the same decoder
    media = synthesize_flac_media(spark, 1).collect()[0]
    assert decode_audio(bytes(media["payload"]), strict=True) == decode_flac(
        bytes(media["payload"])
    )


def test_flac_round_trip_property():
    """Hypothesis: ANY int16 sequence round-trips losslessly through
    the FLAC subset encoder/decoder (CONSTANT, FIXED, VERBATIM, Rice
    escapes, partial final blocks)."""
    import struct

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from json_ld_spark.operators.flac import decode_flac, encode_flac

    @settings(max_examples=120, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=-32768, max_value=32767),
            min_size=1,
            max_size=700,
        ),
        st.sampled_from([64, 256, 333]),
    )
    def roundtrip(samples, block):
        payload = encode_flac(samples, 16000, block)
        rate, n, pcm = decode_flac(payload)
        assert rate == 16000 and n == len(samples)
        assert list(struct.unpack(f"<{n}h", pcm)) == samples

    roundtrip()
