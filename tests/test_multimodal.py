"""Multimodal column plumbing tests (stubbed codecs, real Spark plans)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from reactionetl_etl_spark.operators.multimodal import (
    decode_image_features,
    sample_video_frames,
    with_media_metadata,
)

import struct


def make_png(w: int, h: int) -> bytes:
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + struct.pack(">II", w, h)
        + b"\x08\x02\x00\x00\x00"
        + b"\x00\x00\x00\x00"  # CRC (unchecked by the header parser)
    )


def make_jpeg(w: int, h: int) -> bytes:
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", h, w) + b"\x03" + b"\x00" * 9
    return b"\xff\xd8" + app0 + sof0 + b"\x01" * 16


def make_gif(w: int, h: int) -> bytes:
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 20


PNG = make_png(640, 480)
JPEG = make_jpeg(320, 200)
MP3 = b"ID3\x04" + b"\x02" * 80
RAW = b"\x00\x01\x02\x03" * 10


@pytest.fixture(scope="module")
def media(spark):
    rows = [(1, PNG), (2, JPEG), (3, MP3), (4, RAW)]
    return spark.createDataFrame(rows, "media_id long, content binary")


def test_mime_sniffing(spark, media):
    got = {
        r["media_id"]: r["media_meta"]["mime"]
        for r in with_media_metadata(media).collect()
    }
    assert got == {
        1: "image/png",
        2: "image/jpeg",
        3: "audio/mpeg",
        4: "application/octet-stream",
    }


def test_media_meta_sizes(spark, media):
    got = {
        r["media_id"]: r["media_meta"]["n_bytes"]
        for r in with_media_metadata(media).collect()
    }
    assert got == {1: len(PNG), 2: len(JPEG), 3: len(MP3), 4: len(RAW)}


def test_image_features_deterministic(spark, media):
    feats = decode_image_features(media, dim=8)
    rows = {r["media_id"]: r for r in feats.collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert len(rows[1]["feature"]) == 8
    assert all(0.0 <= v <= 1.0 for v in rows[1]["feature"])
    # deterministic across executions
    again = {r["media_id"]: r["feature"] for r in decode_image_features(media, dim=8).collect()}
    assert again[1] == rows[1]["feature"]
    assert rows[1]["mime"] == "image/png"


def test_image_dims_real_header_decode(spark, media):
    """Width/height come from REAL header parsing (struct-level PNG
    IHDR / JPEG SOF / GIF screen descriptor), not the stub."""
    from reactionetl_etl_spark.operators.multimodal import parse_image_dims

    rows = {r["media_id"]: r for r in decode_image_features(media).collect()}
    assert (rows[1]["width"], rows[1]["height"]) == (640, 480)  # PNG
    assert (rows[2]["width"], rows[2]["height"]) == (320, 200)  # JPEG SOF0
    assert rows[3]["width"] is None and rows[4]["width"] is None  # non-images
    # plain-Python coverage for the remaining containers
    assert parse_image_dims(make_gif(12, 34)) == (12, 34)
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 77, -55) + b"\x00" * 8
    assert parse_image_dims(bmp) == (77, 55)
    assert parse_image_dims(b"\x89PNG\r\n\x1a\n" + b"\x00" * 4) is None  # truncated


def test_video_sampling_refuses_non_video(spark, media):
    """`sample_video_frames` is a real decoder now: payloads that are
    not a decodable video container (PNG/JPEG stills, MP3, junk) emit
    ZERO rows — refusal, never fake byte-slice 'frames'."""
    assert sample_video_frames(media).count() == 0


def test_mjpeg_avi_video_round_trip(spark):
    """Compressed-video path end-to-end: frames → fixture-grade
    baseline JPEG → RIFF-AVI MJPEG mux → Spark-side sample_video_frames
    (RIFF parse + full JPEG DCT decode) → PNG re-encode. Decoded pixels
    match the originals within the quant=1 error bound (±3), and
    every_n/max_frames sampling semantics match the Y4M/GIF paths."""
    import numpy as np

    from reactionetl_etl_spark.operators.multimodal import (
        decode_pixels,
        encode_jpeg_baseline,
        encode_mjpeg_avi,
    )

    rng = np.random.default_rng(11)
    w, h, n = 32, 16, 5
    frames = []
    for k in range(n):
        base = np.linspace(0, 180, h * w * 3).reshape(h, w, 3) + 12 * k
        frames.append(np.clip(base + rng.normal(0, 2, base.shape), 0, 255).astype(np.uint8))
    avi = encode_mjpeg_avi([encode_jpeg_baseline(f) for f in frames], w, h)

    df = spark.createDataFrame([(9, avi)], "media_id long, content binary")
    rows = sorted(sample_video_frames(df).collect(), key=lambda r: r["frame_index"])
    assert [r["frame_index"] for r in rows] == list(range(n))
    assert all((r["width"], r["height"]) == (w, h) for r in rows)
    for r, orig in zip(rows, frames):
        got = decode_pixels(bytes(r["frame_png"]))
        assert got.shape == orig.shape
        assert int(np.abs(got.astype(int) - orig.astype(int)).max()) <= 3
    # sampling semantics shared with the Y4M/GIF paths
    assert [r["frame_index"] for r in sample_video_frames(df, every_n=2).collect()] == [0, 2, 4]
    assert sample_video_frames(df, max_frames=2).count() == 2


def test_avi_mime_sniff(spark):
    """RIFF refinement: the form tag distinguishes AVI from WAV."""
    from reactionetl_etl_spark.operators.multimodal import (
        encode_mjpeg_avi,
        with_media_metadata,
    )

    avi = encode_mjpeg_avi([], 8, 8)
    wav = b"RIFF" + b"\x24\x00\x00\x00" + b"WAVEfmt " + b"\x00" * 20
    df = spark.createDataFrame([(1, avi), (2, wav)], "media_id long, content binary")
    got = {
        r["media_id"]: r["media_meta"]["mime"]
        for r in with_media_metadata(df).collect()
    }
    assert got == {1: "video/x-msvideo", 2: "audio/wav"}


def test_resize_geometry_aspect_preserving(spark, media):
    from reactionetl_etl_spark.operators.multimodal import resize_images

    out = {r["media_id"]: r for r in resize_images(media, max_side=256).collect()}
    # 640x480 → long side 640 capped at 256 → 256x192 exactly
    assert (out[1]["src_width"], out[1]["src_height"]) == (640, 480)
    assert (out[1]["dst_width"], out[1]["dst_height"]) == (256, 192)
    # 320x200 → 256x160
    assert (out[2]["dst_width"], out[2]["dst_height"]) == (256, 160)
    # non-images pass through with NULL geometry, payload intact
    assert out[3]["dst_width"] is None and bytes(out[3]["content"]) == MP3
    # already-small images keep dims
    small = spark.createDataFrame(
        [(9, make_png(100, 50))], "media_id long, content binary"
    )
    r9 = resize_images(small, max_side=256).collect()[0]
    assert (r9["dst_width"], r9["dst_height"]) == (100, 50)


def _quadrant_array(w: int, h: int):
    """RGB image whose four quadrants are distinct solid colors."""
    import numpy as np

    arr = np.zeros((h, w, 3), dtype=np.uint8)
    arr[: h // 2, : w // 2] = (255, 0, 0)
    arr[: h // 2, w // 2 :] = (0, 255, 0)
    arr[h // 2 :, : w // 2] = (0, 0, 255)
    arr[h // 2 :, w // 2 :] = (255, 255, 0)
    return arr


def test_bmp_ppm_codec_roundtrip():
    """decode(encode(arr)) is bit-exact for both uncompressed formats,
    including BMP's 4-byte row padding (odd widths)."""
    import numpy as np

    from reactionetl_etl_spark.operators.multimodal import (
        decode_pixels,
        encode_bmp,
        encode_ppm,
        parse_image_dims,
    )

    rng = np.random.default_rng(7)
    for w, h in [(8, 6), (7, 5), (1, 1), (3, 9)]:
        arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        for enc in (encode_bmp, encode_ppm):
            blob = enc(arr)
            assert parse_image_dims(blob) == (w, h)
            assert np.array_equal(decode_pixels(blob), arr), (enc.__name__, w, h)


def test_resize_resamples_real_pixels(spark):
    """The resize path must produce actual resampled pixel content for
    BMP and PPM — not a byte passthrough: a 4-quadrant 64x64 image
    downscaled to 16x16 yields the same quadrant colors at 16x16, and
    the payload re-encodes at the new geometry."""
    import numpy as np

    from reactionetl_etl_spark.operators.multimodal import (
        decode_pixels,
        encode_bmp,
        encode_ppm,
        resize_images,
    )

    src = _quadrant_array(64, 64)
    rows = [(1, encode_bmp(src)), (2, encode_ppm(src))]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    out = {r["media_id"]: r for r in resize_images(df, max_side=16).collect()}
    expected = _quadrant_array(16, 16)
    for mid, magic in [(1, b"BM"), (2, b"P6")]:
        r = out[mid]
        assert (r["dst_width"], r["dst_height"]) == (16, 16)
        blob = bytes(r["content"])
        assert blob[:2] == magic  # same container back
        got = decode_pixels(blob)
        assert got.shape == (16, 16, 3)
        assert np.array_equal(got, expected), mid


def test_ppm_mime_and_dims():
    from reactionetl_etl_spark.operators.multimodal import parse_image_dims

    ppm = b"P6\n# a comment\n12 34\n255\n" + b"\x00" * (12 * 34 * 3)
    assert parse_image_dims(ppm) == (12, 34)


def test_png_codec_roundtrip():
    """decode(encode(arr)) is bit-exact for 8-bit RGB PNG (stdlib zlib
    codec), across geometries including 1-pixel edges."""
    import numpy as np

    from reactionetl_etl_spark.operators.multimodal import (
        decode_pixels,
        encode_png,
        parse_image_dims,
    )

    rng = np.random.default_rng(11)
    for w, h in [(8, 6), (7, 5), (1, 1), (3, 9), (64, 2)]:
        arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        blob = encode_png(arr)
        assert blob[:8] == b"\x89PNG\r\n\x1a\n"
        assert parse_image_dims(blob) == (w, h)
        assert np.array_equal(decode_pixels(blob), arr), (w, h)


def test_png_decode_all_filter_types():
    """The scanline unfilter must invert every PNG filter type (0–4).
    Build a PNG by FILTERING a known image with a chosen filter per
    row (the reference forward transforms from the spec), then assert
    the decoder reconstructs the original exactly."""
    import struct as st
    import zlib

    import numpy as np

    from reactionetl_etl_spark.operators.multimodal import decode_pixels

    rng = np.random.default_rng(23)
    w, h, bpp = 9, 5, 3
    arr = rng.integers(0, 256, size=(h, w, bpp), dtype=np.uint8)
    flat = arr.reshape(h, w * bpp).astype(np.int32)

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    scan = b""
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        row = flat[y]
        prior = flat[y - 1] if y > 0 else np.zeros(w * bpp, dtype=np.int32)
        filt = np.empty(w * bpp, dtype=np.int32)
        for x in range(w * bpp):
            left = row[x - bpp] if x >= bpp else 0
            up = prior[x]
            upleft = prior[x - bpp] if x >= bpp else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = left
            elif ftype == 2:
                pred = up
            elif ftype == 3:
                pred = (left + up) >> 1
            else:
                pred = paeth(left, up, upleft)
            filt[x] = (row[x] - pred) & 0xFF
        scan += bytes([ftype]) + filt.astype(np.uint8).tobytes()

    def chunk(ctype, data):
        return (
            st.pack(">I", len(data)) + ctype + data
            + st.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    blob = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", st.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(scan))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_pixels(blob), arr)


def test_png_decode_gray_and_alpha_channels():
    """Grayscale replicates to RGB; RGBA/gray+alpha drop alpha —
    documented codec contract for non-RGB color types."""
    import struct as st
    import zlib

    import numpy as np

    from reactionetl_etl_spark.operators.multimodal import decode_pixels

    def build(color_type, channels, px):
        h, w = px.shape[:2]
        scan = b"".join(
            b"\x00" + px[y].tobytes() for y in range(h)
        )

        def chunk(ctype, data):
            return (
                st.pack(">I", len(data)) + ctype + data
                + st.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
            )

        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", st.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(scan))
            + chunk(b"IEND", b"")
        )

    rng = np.random.default_rng(5)
    gray = rng.integers(0, 256, size=(4, 6, 1), dtype=np.uint8)
    got = decode_pixels(build(0, 1, gray))
    assert np.array_equal(got, np.repeat(gray, 3, axis=2))

    rgba = rng.integers(0, 256, size=(4, 6, 4), dtype=np.uint8)
    got = decode_pixels(build(6, 4, rgba))
    assert np.array_equal(got, rgba[..., :3])

    ga = rng.integers(0, 256, size=(4, 6, 2), dtype=np.uint8)
    got = decode_pixels(build(4, 2, ga))
    assert np.array_equal(got, np.repeat(ga[..., :1], 3, axis=2))

    # 16-bit depth and interlaced stay unsupported → None (stub path)
    deep = build(2, 3, rng.integers(0, 256, size=(2, 2, 3), dtype=np.uint8))
    deep = deep.replace(
        st.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0),
        st.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0),
    )
    assert decode_pixels(deep) is None


def test_resize_resamples_png_pixels(spark):
    """PNG goes through the REAL pixel path now: a 4-quadrant 64x64 PNG
    downscaled to 16x16 re-encodes as a PNG whose pixels equal the
    quadrant pattern at 16x16 (not a byte passthrough)."""
    import numpy as np

    from reactionetl_etl_spark.operators.multimodal import (
        decode_pixels,
        encode_png,
        resize_images,
    )

    src = _quadrant_array(64, 64)
    df = spark.createDataFrame([(1, encode_png(src))], "media_id long, content binary")
    r = resize_images(df, max_side=16).collect()[0]
    assert (r["dst_width"], r["dst_height"]) == (16, 16)
    blob = bytes(r["content"])
    assert blob[:8] == b"\x89PNG\r\n\x1a\n"  # same container back
    assert np.array_equal(decode_pixels(blob), _quadrant_array(16, 16))


def test_png_palette_decode():
    """Palette (color type 3) PNGs decode via PLTE lookup: build one by
    hand (8-bit indices, filter 0) and assert pixel-exact RGB."""
    import struct as st
    import zlib

    import numpy as np

    from reactionetl_etl_spark.operators.multimodal import decode_pixels

    rng = np.random.default_rng(7)
    w, h, n_colors = 11, 6, 5
    pal = rng.integers(0, 256, size=(n_colors, 3), dtype=np.uint8)
    idx = rng.integers(0, n_colors, size=(h, w), dtype=np.uint8)
    scan = np.zeros((h, w + 1), dtype=np.uint8)
    scan[:, 1:] = idx

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            st.pack(">I", len(data)) + ctype + data
            + st.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    blob = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", st.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", pal.tobytes())
        + chunk(b"IDAT", zlib.compress(scan.tobytes()))
        + chunk(b"IEND", b"")
    )
    got = decode_pixels(blob)
    assert got is not None and np.array_equal(got, pal[idx])

    # index beyond the palette → corrupt, refuse rather than garble
    bad_scan = scan.copy()
    bad_scan[0, 1] = n_colors + 3
    bad = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", st.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", pal.tobytes())
        + chunk(b"IDAT", zlib.compress(bad_scan.tobytes()))
        + chunk(b"IEND", b"")
    )
    assert decode_pixels(bad) is None


def _gif_bytes(w, h, palette, idx, interlace=False, left=0, top=0, sw=None, sh=None):
    """Minimal GIF89a writer for tests: encodes indices with the
    'uncompressed GIF' trick (a CLEAR code before every literal keeps
    the LZW table empty, so codes stay at min_code_size+1 bits)."""
    import math as m
    import struct as st

    import numpy as np

    sw, sh = sw or w, sh or h
    nbits = max(2, m.ceil(m.log2(len(palette))))
    ct = np.zeros((1 << nbits, 3), dtype=np.uint8)
    ct[: len(palette)] = palette
    out = bytearray(b"GIF89a")
    out += st.pack("<HH", sw, sh)
    out += bytes([0x80 | (nbits - 1), 0, 0])  # global CT, bg idx 0
    out += ct.tobytes()
    out += b"\x2c" + st.pack("<HHHH", left, top, w, h)
    out += bytes([0x40 if interlace else 0])
    min_code = nbits
    clear, codebits = 1 << min_code, min_code + 1
    rows = idx
    if interlace:
        order = [r for s_, p_ in ((0, 8), (4, 8), (2, 4), (1, 2)) for r in range(s_, h, p_)]
        rows = idx[order]
    bits = bytearray()
    acc = n_acc = 0
    for v in rows.flatten():
        for code in (clear, int(v)):
            acc |= code << n_acc
            n_acc += codebits
            while n_acc >= 8:
                bits.append(acc & 0xFF)
                acc >>= 8
                n_acc -= 8
    acc |= (clear + 1) << n_acc  # END code
    n_acc += codebits
    while n_acc > 0:
        bits.append(acc & 0xFF)
        acc >>= 8
        n_acc -= 8
    out += bytes([min_code])
    for off in range(0, len(bits), 255):
        chunk = bits[off : off + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


def test_gif_decode_first_frame_and_interlace():
    import numpy as np

    from reactionetl_etl_spark.operators.multimodal import decode_pixels

    rng = np.random.default_rng(13)
    palette = rng.integers(0, 256, size=(4, 3), dtype=np.uint8)
    idx = rng.integers(0, 4, size=(6, 9), dtype=np.uint8)
    assert np.array_equal(decode_pixels(_gif_bytes(9, 6, palette, idx)), palette[idx])
    assert np.array_equal(
        decode_pixels(_gif_bytes(9, 6, palette, idx, interlace=True)), palette[idx]
    )
    # frame smaller than the logical screen composes over background
    got = decode_pixels(_gif_bytes(9, 6, palette, idx, left=2, top=1, sw=12, sh=8))
    assert got.shape == (8, 12, 3)
    assert np.array_equal(got[1:7, 2:11], palette[idx])
    assert np.array_equal(got[0, 0], palette[0])  # bg color idx 0
    # truncated stream refuses
    assert decode_pixels(_gif_bytes(9, 6, palette, idx)[:-20]) is None


def test_gif_decode_real_lzw_stream():
    """Exercise genuine LZW table growth (not the clear-per-symbol
    trick): encode a run-heavy image with a real LZW encoder and
    assert exact pixels back."""
    import math as m
    import struct as st

    import numpy as np

    from reactionetl_etl_spark.operators.multimodal import decode_pixels

    palette = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], np.uint8)
    idx = np.tile(np.array([0, 0, 1, 1, 2, 2, 3, 3], np.uint8), (5, 2))  # 5x16 runs
    h, w = idx.shape
    min_code = 2
    clear, end = 1 << min_code, (1 << min_code) + 1

    # textbook LZW encoder (emit CLEAR once, grow the table in sync)
    codes = [clear]
    table = {bytes([i]): i for i in range(clear)}
    next_code, codebits_seq = end + 1, []
    codebits = min_code + 1
    s = b""
    for v in idx.flatten().tobytes():
        s2 = s + bytes([v])
        if s2 in table:
            s = s2
        else:
            codes.append(table[s])
            codebits_seq.append(codebits)
            if next_code < 4096:
                table[s2] = next_code
                next_code += 1
                if next_code - 1 == (1 << codebits) - 1 and codebits < 12:
                    # decoder grows when ITS next_code hits 2^bits; the
                    # encoder's table is one ahead after the add
                    pass
            if next_code == (1 << codebits) + 1 and codebits < 12:
                codebits += 1
            s = bytes([v])
    codes.append(table[s])
    codebits_seq.append(codebits)
    codes.append(end)
    codebits_seq.append(codebits)

    acc = n_acc = 0
    bits = bytearray()
    # first CLEAR goes at min_code+1 bits
    stream = [(clear, min_code + 1)] + list(zip(codes[1:], codebits_seq))
    for code, nb in stream:
        acc |= code << n_acc
        n_acc += nb
        while n_acc >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            n_acc -= 8
    if n_acc:
        bits.append(acc & 0xFF)

    out = bytearray(b"GIF89a") + st.pack("<HH", w, h) + bytes([0x81, 0, 0])
    ct = np.zeros((4, 3), np.uint8)
    ct[:] = palette
    out += ct.tobytes()
    out += b"\x2c" + st.pack("<HHHH", 0, 0, w, h) + b"\x00" + bytes([min_code])
    for off in range(0, len(bits), 255):
        chunk = bits[off : off + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    got = decode_pixels(bytes(out))
    assert got is not None and np.array_equal(got, palette[idx])


def _wav_bytes(samples, rate, bits=16, fmt=1, extra_chunk=True):
    """Minimal RIFF/WAVE writer: samples is (n_frames, n_ch) float in
    [-1,1]; optional junk LIST chunk before data exercises the walker."""
    import struct as st

    import numpy as np

    n_frames, n_ch = samples.shape
    if fmt == 1 and bits == 16:
        data = (np.clip(samples, -1, 1) * 32767).astype("<i2").tobytes()
    elif fmt == 1 and bits == 8:
        data = ((np.clip(samples, -1, 1) * 127) + 128).astype("u1").tobytes()
    elif fmt == 3 and bits == 32:
        data = samples.astype("<f4").tobytes()
    else:
        raise ValueError
    block = n_ch * bits // 8
    fmt_body = st.pack("<HHIIHH", fmt, n_ch, rate, rate * block, block, bits)
    chunks = b"fmt " + st.pack("<I", len(fmt_body)) + fmt_body
    if extra_chunk:
        info = b"INFOjunk1"  # odd length: exercises even-byte padding
        chunks += b"LIST" + st.pack("<I", len(info)) + info + b"\x00"
    chunks += b"data" + st.pack("<I", len(data)) + data
    return b"RIFF" + st.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_wav_decode_formats_and_features(spark):
    import numpy as np

    from reactionetl_etl_spark.operators.multimodal import (
        audio_features,
        decode_wav_pcm,
    )

    t = np.arange(8000) / 8000.0
    mono = np.sin(2 * np.pi * 440 * t).reshape(-1, 1)
    stereo = np.stack([np.sin(2 * np.pi * 440 * t), 0.5 * np.cos(2 * np.pi * 220 * t)], 1)

    dec, rate = decode_wav_pcm(_wav_bytes(mono, 8000))
    assert rate == 8000 and dec.shape == (8000, 1)
    assert np.abs(dec - mono).max() < 1e-3  # 16-bit quantization
    dec32, _ = decode_wav_pcm(_wav_bytes(stereo, 16000, bits=32, fmt=3))
    assert dec32.shape == (8000, 2) and np.abs(dec32 - stereo).max() < 1e-6
    assert decode_wav_pcm(b"RIFF\x00\x00\x00\x00AVI ") is None

    rows = [
        (1, _wav_bytes(mono, 8000)),
        (2, _wav_bytes(stereo, 16000, bits=32, fmt=3)),
        (3, b"\xff\xd8\xff not audio"),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {r["media_id"]: r for r in audio_features(df).collect()}
    assert got[1]["sample_rate"] == 8000 and got[1]["n_samples"] == 8000
    assert abs(got[1]["duration_s"] - 1.0) < 1e-9
    assert abs(got[1]["rms"] - (1 / 2**0.5)) < 1e-2  # sine RMS = 1/sqrt(2)
    assert got[2]["n_channels"] == 2 and got[2]["bits_per_sample"] == 32
    assert got[3]["sample_rate"] is None  # non-audio keeps its row


def test_audio_spectral_features(spark):
    """FFT features recover planted signal structure: a pure 440 Hz
    sine peaks at its own frequency with near-zero flatness and the
    analytic zero-crossing rate; deterministic white-ish noise is
    spectrally flat with a far higher centroid; non-audio rows keep
    NULL features."""
    import numpy as np

    from reactionetl_etl_spark.operators.multimodal import audio_spectral_features

    rate = 8000
    t = np.arange(rate) / rate
    sine = np.sin(2 * np.pi * 440 * t).reshape(-1, 1)
    # xorshift-ish deterministic noise in [-1, 1] — no RNG state
    x, vals = 88172645463325252, []
    for _ in range(rate):
        x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 7
        x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
        vals.append(((x % 2_000_001) / 1_000_000.0) - 1.0)
    noise = np.array(vals).reshape(-1, 1)

    rows = [
        (1, _wav_bytes(sine, rate)),
        (2, _wav_bytes(noise, rate)),
        (3, b"not audio at all"),
        (4, _wav_bytes(np.zeros((4000, 1)), rate)),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {r["media_id"]: r for r in audio_spectral_features(df).collect()}

    bin_hz = rate / sine.size  # FFT resolution: 1 Hz at 1 s of audio
    assert abs(got[1]["dominant_freq_hz"] - 440.0) <= 2 * bin_hz
    assert abs(got[1]["spectral_centroid_hz"] - 440.0) <= 5.0
    assert got[1]["spectral_flatness"] < 0.01
    # sine ZCR = 2f/rate (two crossings per cycle)
    assert abs(got[1]["zero_crossing_rate"] - 2 * 440 / rate) < 0.01

    assert got[2]["spectral_flatness"] > 0.5
    assert got[2]["spectral_centroid_hz"] > 1000.0
    assert got[2]["spectral_rolloff_hz"] > got[1]["spectral_rolloff_hz"]

    assert got[3]["dominant_freq_hz"] is None  # non-audio keeps its row

    # digital silence: defined all-zero spectrum, never NaN
    assert got[4]["spectral_flatness"] == 0.0
    assert got[4]["dominant_freq_hz"] == 0.0
    assert got[4]["zero_crossing_rate"] == 0.0


def _y4m_bytes(frames_yuv, w, h, cs=b"420"):
    """Minimal YUV4MPEG2 writer: frames_yuv = [(y, u, v) plane bytes]."""
    out = b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 C%s\n" % (w, h, cs)
    for y, u, v in frames_yuv:
        out += b"FRAME\n" + y + u + v
    return out


def test_y4m_decode_bt601_and_sampling(spark):
    """Real Y4M decode: gray levels and a BT.601 red frame recover the
    analytic RGB; every-2nd-frame sampling through Spark returns
    losslessly PNG-encoded pixels."""
    import numpy as np

    from reactionetl_etl_spark.operators.multimodal import (
        _png_decode,
        _y4m_frames,
        sample_y4m_frames,
    )

    w, h = 4, 2  # C420: chroma planes are 2x1
    gray_frames = []
    for yv in (16, 126, 235):
        y = bytes([yv]) * (w * h)
        u = v = bytes([128]) * 2
        gray_frames.append((y, u, v))
    b = _y4m_bytes(gray_frames, w, h)

    frames = _y4m_frames(b)
    assert len(frames) == 3 and frames[0].shape == (h, w, 3)
    assert int(frames[0].max()) == 0          # Y=16 -> black (limited range)
    assert abs(int(frames[1][0, 0, 0]) - 128) <= 1
    assert int(frames[2].min()) == 255        # Y=235 -> white

    red = (bytes([81]) * (w * h), bytes([90]) * 2, bytes([240]) * 2)
    rf = _y4m_frames(_y4m_bytes([red], w, h))[0]
    r, g, bl = (int(c) for c in rf[0, 0])
    assert r >= 250 and g <= 5 and bl <= 5    # BT.601 red

    # mono colorspace replicates luma; truncated stream keeps decoded head
    mono = _y4m_frames(_y4m_bytes([(bytes([126]) * (w * h), b"", b"")], w, h, cs=b"mono"))
    assert len(mono) == 1 and abs(int(mono[0][0, 0, 1]) - 128) <= 1
    assert len(_y4m_frames(b[: len(b) - 3])) == 2
    assert _y4m_frames(b"not a video") == []

    df = spark.createDataFrame(
        [(1, b), (2, b"RIFF not y4m")], "media_id long, content binary"
    )
    rows = sample_y4m_frames(df, every_n=2).collect()
    got = {(r["media_id"], r["frame_index"]) for r in rows}
    assert got == {(1, 0), (1, 2)}            # non-Y4M emits no rows
    by_idx = {r["frame_index"]: r for r in rows}
    assert by_idx[0]["width"] == w and by_idx[0]["height"] == h
    px = _png_decode(bytes(by_idx[2]["frame_png"]))
    assert px is not None and int(px.min()) == 255  # frame 2 is white


def _animated_gif(palette, frames_spec, sw, sh):
    """GIF89a with multiple frames: frames_spec = [(idx_array, left,
    top, transparent_idx_or_None, disposal)]; clear-per-symbol LZW."""
    import math as m
    import struct as st

    import numpy as np

    nbits = max(2, m.ceil(m.log2(len(palette))))
    ct = np.zeros((1 << nbits, 3), dtype=np.uint8)
    ct[: len(palette)] = palette
    out = bytearray(b"GIF89a") + st.pack("<HH", sw, sh)
    out += bytes([0x80 | (nbits - 1), 0, 0]) + ct.tobytes()
    min_code = nbits
    clear, codebits = 1 << min_code, min_code + 1
    for idx, left, top, trans, disposal in frames_spec:
        gce_packed = (disposal << 2) | (1 if trans is not None else 0)
        out += bytes([0x21, 0xF9, 4, gce_packed, 0, 0, trans or 0, 0])
        h, w = idx.shape
        out += b"\x2c" + st.pack("<HHHH", left, top, w, h) + b"\x00"
        bits = bytearray()
        acc = n_acc = 0
        for v in idx.flatten():
            for code in (clear, int(v)):
                acc |= code << n_acc
                n_acc += codebits
                while n_acc >= 8:
                    bits.append(acc & 0xFF)
                    acc >>= 8
                    n_acc -= 8
        acc |= (clear + 1) << n_acc
        n_acc += codebits
        while n_acc > 0:
            bits.append(acc & 0xFF)
            acc >>= 8
            n_acc -= 8
        out += bytes([min_code])
        for off in range(0, len(bits), 255):
            chunk = bits[off : off + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def test_gif_animation_frames_transparency_and_sampling(spark):
    import numpy as np

    from reactionetl_etl_spark.operators.multimodal import (
        _gif_frames,
        decode_pixels,
        sample_gif_frames,
    )

    pal = np.array([[10, 10, 10], [200, 0, 0], [0, 200, 0], [0, 0, 200]], np.uint8)
    base = np.full((4, 6), 1, np.uint8)  # frame 0: all red
    # frame 1: 2x2 green patch at (1,2); index 0 is TRANSPARENT
    patch = np.array([[2, 2], [2, 0]], np.uint8)
    gif = _animated_gif(pal, [(base, 0, 0, None, 0), (patch, 2, 1, 0, 0)], 6, 4)

    frames = _gif_frames(gif)
    assert len(frames) == 2
    assert np.array_equal(frames[0], pal[base])
    expected1 = pal[base].copy()
    expected1[1, 2:4] = pal[2]
    expected1[2, 2] = pal[2]  # [1,0] row: transparent 0 keeps red below
    assert np.array_equal(frames[1], expected1)
    # decode_pixels = first frame
    assert np.array_equal(decode_pixels(gif), frames[0])

    df = spark.createDataFrame([(7, gif)], "media_id long, content binary")
    rows = sorted(
        sample_gif_frames(df, every_n=1).collect(), key=lambda r: r["frame_index"]
    )
    assert [r["frame_index"] for r in rows] == [0, 1]
    assert rows[0]["width"] == 6 and rows[0]["height"] == 4
    # PNG round-trip of the composed frame
    assert np.array_equal(decode_pixels(bytes(rows[1]["frame_png"])), expected1)
    # every_n=2 keeps only frame 0; max_frames bounds output
    assert [r["frame_index"] for r in sample_gif_frames(df, every_n=2).collect()] == [0]
    assert len(sample_gif_frames(df, every_n=1, max_frames=1).collect()) == 1


def _jpeg_bytes(arr, gray=False):
    """Moved into the package (fixture-grade baseline encoder, now also
    the MJPEG-AVI frame source) — kept as an alias for these tests."""
    from reactionetl_etl_spark.operators.multimodal import encode_jpeg_baseline

    return encode_jpeg_baseline(arr, gray=gray)


def test_jpeg_decode_baseline_roundtrip():
    import numpy as np

    from reactionetl_etl_spark.operators.multimodal import decode_pixels

    rng = np.random.default_rng(31)
    # smooth gradient + mild noise (JPEG is lossy; quant tables of 1s
    # keep the loss to DCT rounding only)
    yy, xx = np.mgrid[0:24, 0:40]
    base = (yy * 3 + xx * 2) % 256
    arr = np.stack(
        [base, (base + 80) % 256, (255 - base)], axis=2
    ).astype(np.uint8)
    got = decode_pixels(_jpeg_bytes(arr))
    assert got is not None and got.shape == arr.shape
    err = np.abs(got.astype(int) - arr.astype(int)).max()
    assert err <= 4, err  # two float DCT trips + YCbCr rounding

    gray = ((yy * 7 + xx * 5) % 256).astype(np.uint8)
    got_g = decode_pixels(_jpeg_bytes(gray, gray=True))
    assert got_g is not None and got_g.shape == (24, 40, 3)
    assert np.abs(got_g[..., 0].astype(int) - gray.astype(int)).max() <= 2
    # channels replicate for grayscale
    assert np.array_equal(got_g[..., 0], got_g[..., 1])

    # truncated / progressive-marker streams refuse, not garble
    assert decode_pixels(_jpeg_bytes(arr)[:40]) is None
    prog = bytearray(_jpeg_bytes(arr))
    sof_at = prog.find(b"\xff\xc0")
    prog[sof_at + 1] = 0xC2  # pretend progressive
    assert decode_pixels(bytes(prog)) is None


def test_jpeg_420_subsampling_constant_color():
    """4:2:0 chroma subsampling geometry: a constant-color image is
    DC-only per block, so a hand-rolled interleaved MCU stream (4 luma
    + Cb + Cr) exercises the sampling-factor bookkeeping and chroma
    upsample exactly."""
    import struct as st

    import numpy as np

    from reactionetl_etl_spark.operators.multimodal import decode_pixels

    h, w = 24, 20  # 2x2 MCU grid of 16x16 (cropped)
    rgb = (37, 180, 90)
    r, g, b = (float(x) for x in rgb)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    # DC coefficient for a constant plane v: DCT(v-128) = 8*(v-128)
    dcs = {"y": round(8 * (y - 128)), "cb": round(8 * (cb - 128)), "cr": round(8 * (cr - 128))}

    def cat(v):
        return 0 if v == 0 else int(abs(v)).bit_length()

    syms = {cat(v) for v in dcs.values()} | {cat(0)}
    symbols = sorted(syms)
    ln = max(2, len(symbols).bit_length())
    while (1 << ln) <= len(symbols):
        ln += 1
    counts = [0] * 16
    counts[ln - 1] = len(symbols)
    dc_codes = {s: (i, ln) for i, s in enumerate(symbols)}
    ac_codes = {0x00: (0, 2)}  # single AC symbol: EOB at code '00'

    out = bytearray(b"\xff\xd8")

    def seg(marker, body):
        out.extend(bytes([0xFF, marker]) + st.pack(">H", len(body) + 2) + body)

    seg(0xDB, bytes([0]) + bytes([1] * 64))
    # Y has sampling 2x2, Cb/Cr 1x1
    seg(0xC0, bytes([8]) + st.pack(">HH", h, w) + bytes([3, 1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0]))
    seg(0xC4, bytes([0x00] + counts) + bytes(symbols))
    ac_counts = [0] * 16
    ac_counts[1] = 1
    seg(0xC4, bytes([0x10] + ac_counts) + bytes([0x00]))
    seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00]) + b"\x00\x3f\x00")

    bits = []

    def put(code, n):
        for i in range(n - 1, -1, -1):
            bits.append((code >> i) & 1)

    def put_dc(diff):
        t = cat(diff)
        put(*dc_codes[t])
        if t:
            put(diff if diff > 0 else diff + (1 << t) - 1, t)

    pred = {"y": 0, "cb": 0, "cr": 0}
    for _mcu in range(4):  # 2x2 MCUs
        for _ in range(4):  # 4 luma blocks
            put_dc(dcs["y"] - pred["y"])
            pred["y"] = dcs["y"]
            put(*ac_codes[0x00])
        for c in ("cb", "cr"):
            put_dc(dcs[c] - pred[c])
            pred[c] = dcs[c]
            put(*ac_codes[0x00])
    while len(bits) % 8:
        bits.append(1)
    payload = bytearray()
    for off in range(0, len(bits), 8):
        byte = 0
        for bt in bits[off : off + 8]:
            byte = (byte << 1) | bt
        payload.append(byte)
        if byte == 0xFF:
            payload.append(0x00)
    out.extend(payload + b"\xff\xd9")

    got = decode_pixels(bytes(out))
    assert got is not None and got.shape == (h, w, 3)
    err = np.abs(got.astype(int) - np.array(rgb)).max()
    assert err <= 2, (err, got[0, 0])


def test_jpeg_restart_markers():
    """DRI/RSTn handling: restart interval 1 resets DC predictors and
    byte-aligns between every MCU — a constant-color stream with RST
    markers must decode to the constant."""
    import struct as st

    import numpy as np

    from reactionetl_etl_spark.operators.multimodal import decode_pixels

    h, w = 8, 24  # 3 MCUs of 8x8, gray
    val = 150
    dc = round(8 * (val - 128))

    def cat(v):
        return 0 if v == 0 else int(abs(v)).bit_length()

    symbols = sorted({cat(dc), 0})
    ln = max(2, len(symbols).bit_length())
    while (1 << ln) <= len(symbols):
        ln += 1
    counts = [0] * 16
    counts[ln - 1] = len(symbols)
    dc_codes = {s: (i, ln) for i, s in enumerate(symbols)}

    out = bytearray(b"\xff\xd8")

    def seg(marker, body):
        out.extend(bytes([0xFF, marker]) + st.pack(">H", len(body) + 2) + body)

    seg(0xDB, bytes([0]) + bytes([1] * 64))
    seg(0xC0, bytes([8]) + st.pack(">HH", h, w) + bytes([1, 1, 0x11, 0]))
    seg(0xC4, bytes([0x00] + counts) + bytes(symbols))
    ac_counts = [0] * 16
    ac_counts[1] = 1
    seg(0xC4, bytes([0x10] + ac_counts) + bytes([0x00]))
    seg(0xDD, st.pack(">H", 1))  # restart every MCU
    seg(0xDA, bytes([1, 1, 0x00]) + b"\x00\x3f\x00")

    def mcu_bytes():
        # with restart, every MCU starts from predictor 0 → full DC
        bits = []
        t = cat(dc)
        for i in range(ln - 1, -1, -1):
            bits.append((dc_codes[t][0] >> i) & 1)
        v = dc if dc > 0 else dc + (1 << t) - 1
        for i in range(t - 1, -1, -1):
            bits.append((v >> i) & 1)
        bits.extend([0, 0])  # AC EOB (code '00')
        while len(bits) % 8:
            bits.append(1)
        payload = bytearray()
        for off in range(0, len(bits), 8):
            byte = 0
            for bt in bits[off : off + 8]:
                byte = (byte << 1) | bt
            payload.append(byte)
            if byte == 0xFF:
                payload.append(0x00)
        return bytes(payload)

    for m in range(3):
        out.extend(mcu_bytes())
        if m < 2:
            out.extend(bytes([0xFF, 0xD0 + m]))  # RST0, RST1
    out.extend(b"\xff\xd9")

    got = decode_pixels(bytes(out))
    assert got is not None and got.shape == (8, 24, 3)
    assert np.abs(got.astype(int) - val).max() <= 1


def test_image_dhash_container_invariant_and_perturbation_tolerant(spark):
    """The dhash depends on pixels only: one image encoded as BMP and
    as PNG hashes IDENTICALLY; a +3-brightness copy lands within
    Hamming 4; a different image does not pair."""
    import numpy as np

    from reactionetl_etl_spark.operators.multimodal import (
        encode_bmp,
        encode_png,
        image_dhash,
        image_neardup_pairs,
    )

    rng = np.random.default_rng(7)
    a = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    bright = np.minimum(a.astype(np.int32) + 3, 255).astype(np.uint8)
    other = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [
            (1, bytearray(encode_bmp(a))),
            (2, bytearray(encode_png(a))),
            (3, bytearray(encode_bmp(bright))),
            (4, bytearray(encode_png(other))),
            (5, bytearray(b"not an image")),
        ],
        "media_id long, content binary",
    )
    hashes = {r["media_id"]: r["dhash"] for r in image_dhash(df).collect()}
    assert hashes[1] == hashes[2]          # container-invariant
    assert hashes[5] is None               # undecodable → NULL
    assert bin((hashes[1] ^ hashes[3]) & (2**64 - 1)).count("1") <= 4
    pairs = {
        (r["id_a"], r["id_b"]) for r in image_neardup_pairs(df, max_hamming=4).collect()
    }
    assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
    assert not any(4 in p for p in pairs)


def test_image_dhash_batched_matches_scalar_reference(spark, monkeypatch):
    """r15: the dhash stage groups same-shape images per Arrow batch
    and runs luma → resample → gradient → pack over the STACK. The
    claim is BIT-identity with the per-image formulation — stacked IEEE
    multiplies/adds, integer gathers, and the exact integer dot perform
    the same elementwise operations — pinned here by recomputing every
    hash with a scalar reference (decode_pixels + the retired
    one-image-at-a-time math) over MIXED shapes, formats, an
    undecodable payload, and both filter-0 and Up-filtered PNG rows.
    All rows share one partition, so one Arrow batch holds the
    undecodable payload beside the valid images on any core count. A
    second pass shrinks the decode window to 2, which splits the shape
    groups and puts the undecodable payload in a window of its own."""
    import numpy as np

    from reactionetl_etl_spark.operators import multimodal
    from reactionetl_etl_spark.operators.multimodal import (
        decode_pixels,
        encode_bmp,
        encode_png,
        encode_ppm,
        image_dhash,
        resample_nearest,
    )

    rng = np.random.default_rng(11)
    imgs = [
        encode_bmp(rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)),
        encode_png(rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)),
        encode_ppm(rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)),
        encode_bmp(rng.integers(0, 256, (17, 23, 3), dtype=np.uint8)),  # odd shape
        encode_png(rng.integers(0, 256, (8, 64, 3), dtype=np.uint8)),
        encode_ppm(rng.integers(0, 256, (17, 23, 3), dtype=np.uint8)),  # shares a group
        b"definitely not an image",
    ]
    rows = [(i, bytearray(b)) for i, b in enumerate(imgs)]
    df = spark.createDataFrame(rows, "media_id long, content binary")

    pow2 = np.left_shift(np.uint64(1), np.arange(64, dtype=np.uint64))
    for window in (multimodal.DHASH_DECODE_WINDOW, 2):
        monkeypatch.setattr(multimodal, "DHASH_DECODE_WINDOW", window)
        got = {r["media_id"]: r["dhash"] for r in image_dhash(df.coalesce(1)).collect()}
        for i, b in enumerate(imgs):
            arr = decode_pixels(bytes(b))
            if arr is None:
                assert got[i] is None, (window, i)
                continue
            luma = 0.299 * arr[:, :, 0] + 0.587 * arr[:, :, 1] + 0.114 * arr[:, :, 2]
            g = resample_nearest(luma, 9, 8)
            bits = (g[:, :-1] > g[:, 1:]).astype(np.uint64).reshape(-1)
            assert got[i] == int(np.dot(bits, pow2).view(np.int64)), (window, i)


def test_image_phash_exact_beside_undecodable_payload(spark):
    """An undecodable payload (NULL hash) in the same Arrow batch as
    valid images must not change their 64-bit hashes: each valid
    image's phash equals its phash in a batch of valid images only."""
    import numpy as np

    from reactionetl_etl_spark.operators.multimodal import (
        encode_bmp,
        encode_png,
        image_phash,
    )

    rng = np.random.default_rng(17)
    imgs = [
        encode_bmp(rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)),
        encode_png(rng.integers(0, 256, (40, 24, 3), dtype=np.uint8)),
        encode_bmp(rng.integers(0, 256, (17, 23, 3), dtype=np.uint8)),
    ]

    def phashes(payloads):
        rows = [(i, bytearray(b)) for i, b in enumerate(payloads)]
        df = spark.createDataFrame(rows, "media_id long, content binary")
        return {r["media_id"]: r["phash"] for r in image_phash(df.coalesce(1)).collect()}

    mixed = phashes(imgs + [b"definitely not an image"])
    assert mixed.pop(len(imgs)) is None
    assert mixed == phashes(imgs)


def test_png_unfilter_filter0_fast_path_exact():
    """The all-None-filter shortcut must reproduce the generic loop's
    pixels exactly (it is the same bytes, reshaped) — checked by
    decoding a filter-0 PNG and comparing against the source array."""
    import numpy as np

    from reactionetl_etl_spark.operators.multimodal import (
        decode_pixels,
        encode_png,
    )

    rng = np.random.default_rng(13)
    a = rng.integers(0, 256, (21, 13, 3), dtype=np.uint8)
    out = decode_pixels(encode_png(a))
    assert out is not None and np.array_equal(out, a)


def test_video_scene_cuts_witness_numpy(spark):
    """Non-circular witness for the pinned video_scene_cuts query: the
    mean-abs-delta per frame pair recomputed in numpy from the SAME
    y4m bytes (decoded with the module's parser, but the reduction done
    independently) must agree, and cuts must appear exactly where the
    synthesizer injected the luma jump."""
    import math

    import numpy as np

    from reactionetl_etl_spark.operators.multimodal import _y4m_frames
    from reactionetl_etl_spark.plans.catalog import get_query

    rows = (
        get_query("video_scene_cuts")
        .builder(spark, "/root/testdata/sf0.001")
        .collect()
    )
    got = {(r["media_id"], r["frame_index"]): (r["mad6"], r["is_cut"]) for r in rows}

    w, h = 8, 4
    for mid in range(0, 60, 7):  # sampled media ids
        base = 30 + (mid * 17) % 60
        clip = b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 C420\n" % (w, h)
        for k in range(6):
            luma = base + k
            if k >= 3 and mid % 3 == 0:
                luma += 120
            clip += (
                b"FRAME\n"
                + bytes([min(luma, 235)]) * (w * h)
                + bytes([128]) * ((w // 2) * (h // 2)) * 2
            )
        frames = _y4m_frames(clip)
        grays = [
            (
                299 * f[:, :, 0].astype(np.int64)
                + 587 * f[:, :, 1].astype(np.int64)
                + 114 * f[:, :, 2].astype(np.int64)
            )
            // 1000
            for f in frames
        ]
        for k in range(1, 6):
            sad = int(np.abs(grays[k] - grays[k - 1]).sum())
            mad6 = math.floor(sad / (w * h) * 1_000_000 + 0.5) / 1_000_000
            want_cut = mad6 >= 40.0
            assert got[(mid, k)] == (mad6, want_cut), (mid, k, got[(mid, k)], mad6)
            assert want_cut == (k == 3 and mid % 3 == 0)


def test_phash_robust_to_high_freq_noise_where_dhash_is_not(spark):
    """The complementarity claim behind image_neardup_phash: a ±6
    per-pixel high-frequency perturbation leaves the DCT low-band hash
    within the Hamming budget while flipping many gradient bits. Also
    pins affine invariance (contrast scale + brightness shift move
    ZERO pHash bits — every coefficient and the median scale
    together)."""
    import numpy as np

    from reactionetl_etl_spark.operators.multimodal import (
        encode_bmp,
        image_dhash,
        image_phash,
    )

    # LOW-FREQUENCY base: an 8×8 random pattern upsampled 4× — all its
    # energy sits exactly in the DCT block pHash keeps (strong, stable
    # coefficients), while pixels are FLAT inside each 4×4 tile, so ±6
    # high-frequency noise flips many of dHash's equal-neighbour
    # gradient comparisons. This is the smooth-region/photographic case
    # where the two hashes genuinely diverge; on high-variance random
    # pixels dHash happens to survive the same noise.
    rng = np.random.default_rng(11)
    coarse = rng.integers(40, 215, size=(8, 8), dtype=np.uint8)
    base = np.repeat(np.repeat(coarse, 4, axis=0), 4, axis=1)[
        :, :, None
    ] * np.ones((1, 1, 3), dtype=np.uint8)
    i = np.arange(32)[:, None, None]
    j = np.arange(32)[None, :, None]
    c = np.arange(3)[None, None, :]
    noise = (((i * 31 + j * 17 + c * 7) % 5) - 2) * 3
    noisy = np.clip(base.astype(np.int32) + noise, 0, 255).astype(np.uint8)
    affine = np.clip(base.astype(np.float64) * 1.25 + 10, 0, 255).astype(np.uint8)

    df = spark.createDataFrame(
        [
            (0, bytearray(encode_bmp(base))),
            (1, bytearray(encode_bmp(noisy))),
            (2, bytearray(encode_bmp(affine))),
        ],
        "media_id long, content binary",
    )
    ph = {r["media_id"]: r["phash"] for r in image_phash(df).collect()}
    dh = {r["media_id"]: r["dhash"] for r in image_dhash(df).collect()}

    def ham(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert ham(ph[0], ph[1]) <= 4  # pHash: noisy copy stays near
    assert ham(dh[0], dh[1]) > 4  # dHash: gradient bits flipped
    # affine (contrast+brightness): pHash exactly invariant
    assert ham(ph[0], ph[2]) == 0
