"""Real media codecs (multimodal/codecs.py): pure decode/encode units
plus the Spark-side real-decode paths."""

from __future__ import annotations

import numpy as np
import pytest

from hadoop_20_warehouse_spark.multimodal.codecs import (
    _PNG_SIG,
    decode_bmp,
    decode_image,
    decode_png,
    decode_ppm,
    decode_wav_features,
    encode_bmp,
    encode_png,
    encode_ppm,
    encode_wav_square,
    fit_box,
    png_chunk,
    resize_nearest,
    sniff_format,
)


def test_ppm_roundtrip_and_header_tolerance():
    img = decode_ppm(encode_ppm(5, 3, (10, 20, 30)))
    assert img.shape == (3, 5, 3)
    assert (img[:, :, 0] == 10).all() and (img[:, :, 2] == 30).all()
    # comments and mixed whitespace in the header (the format allows both)
    loose = b"P6 # c\n# c2\n 5\t3\n255\n" + bytes((10, 20, 30)) * 15
    assert decode_ppm(loose).shape == (3, 5, 3)
    with pytest.raises(ValueError, match="truncated PPM pixel"):
        decode_ppm(encode_ppm(5, 3, (1, 2, 3))[:-4])
    with pytest.raises(ValueError, match="maxval 255"):
        decode_ppm(b"P6\n2 2\n65535\n" + b"\x00" * 24)


def test_bmp_roundtrip_row_padding_and_orientation():
    # width 7 -> 21-byte rows padded to 24: the stride path is exercised
    img = decode_bmp(encode_bmp(7, 4, (200, 100, 50)))
    assert img.shape == (4, 7, 3)
    assert (img[:, :, 0] == 200).all() and (img[:, :, 2] == 50).all()
    with pytest.raises(ValueError, match="not a BMP"):
        decode_bmp(b"XX" + b"\x00" * 60)


def test_wav_square_features_exact():
    f = decode_wav_features(encode_wav_square(8000, 1000, 1234))
    assert f == {
        "sample_rate": 8000,
        "channels": 1,
        "n_samples": 1000,
        "peak": 1234,
        "rms": 1234.0,
    }
    # a non-square signal: rms < peak
    import io as _io
    import wave as _wave

    buf = _io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(np.array([0, 100, 0, -100], dtype="<i2").tobytes())
    f2 = decode_wav_features(buf.getvalue())
    assert f2["peak"] == 100 and 0 < f2["rms"] < 100


def test_resize_nearest_and_fit_box():
    img = np.arange(6 * 4 * 3, dtype=np.uint8).reshape(4, 6, 3)
    out = resize_nearest(img, 3, 2)
    assert out.shape == (2, 3, 3)
    # nearest-neighbor: every output pixel is some input pixel
    assert out[0, 0, 0] == img[0, 0, 0]
    assert fit_box(1000, 500, 256, 256) == (256, 128)
    assert fit_box(100, 50, 256, 256) == (100, 50)  # never upscale
    assert fit_box(500, 1000, 256, 256) == (128, 256)


def test_sniff_and_dispatch_gate():
    assert sniff_format(encode_ppm(1, 1, (0, 0, 0))) == "ppm"
    assert sniff_format(encode_bmp(1, 1, (0, 0, 0))) == "bmp"
    assert sniff_format(encode_wav_square(8000, 4, 1)) == "wav"
    assert sniff_format(b"\xff\xd8\xff\xe0junk") == "jpeg"
    assert sniff_format(b"\x89PNGjunk") == "png"
    # png, baseline jpeg AND gif decode for real as of round 16; only
    # video frames stay gated (RIFF-non-WAVE models an AVI here)
    with pytest.raises(ValueError, match="no container-native decoder"):
        decode_image(b"RIFF\x00\x00\x00\x00AVI junk")
    from hadoop_20_warehouse_spark.multimodal.binary import decode_image_real

    w, h = decode_image_real(encode_ppm(9, 6, (1, 2, 3)))
    assert (w, h) == (9, 6)
    with pytest.raises(NotImplementedError, match="requires ffmpeg"):
        decode_image_real(b"RIFF\x00\x00\x00\x00AVI junk")
    rgb = np.arange(60, dtype=np.uint8).reshape(5, 4, 3)
    assert decode_image_real(encode_png(rgb)) == (4, 5)


def test_spark_real_decode_paths(spark):
    from pyspark.sql import Row

    from hadoop_20_warehouse_spark.multimodal.binary import (
        audio_features,
        decode_image_meta,
        resize_image_real,
    )

    imgs = spark.createDataFrame(
        [
            Row(id=1, payload=bytearray(encode_ppm(10, 4, (7, 8, 9)))),
            Row(id=2, payload=bytearray(encode_bmp(6, 5, (1, 2, 3)))),
        ]
    )
    meta = {r["id"]: r for r in decode_image_meta(imgs, "id", "payload").collect()}
    assert meta[1]["fmt"] == "ppm" and meta[1]["width"] == 10
    assert meta[2]["fmt"] == "bmp" and meta[2]["height"] == 5
    assert meta[2]["mean_g"] == 2.0
    rs = resize_image_real(imgs, "id", "payload", box_w=4, box_h=4).collect()
    by_id = {r["id"]: r for r in rs}
    assert by_id[1]["out_width"] == 4 and by_id[1]["out_height"] == 1
    # the resized payload is a REAL P6 of the fitted dims
    _, out_img = decode_image(bytes(by_id[1]["resized_ppm"]))
    assert out_img.shape == (1, 4, 3) and (out_img[:, :, 0] == 7).all()

    wavs = spark.createDataFrame(
        [Row(id=1, payload=bytearray(encode_wav_square(8000, 64, 500)))]
    )
    feat = audio_features(wavs, "id", "payload").collect()[0]
    assert feat["rms"] == 500.0 and feat["n_samples"] == 64


# --- PNG (round 16: stdlib zlib + numpy) -------------------------------------


def test_png_rgb_roundtrip_every_filter():
    """Every scanline filter type reverses exactly: per-filter
    constant rows AND the all-five cycle over random pixels."""
    rng = np.random.default_rng(7)
    for h, w in [(1, 1), (5, 3), (18, 32), (13, 7)]:
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        for filt in ["cycle", "none", [1] * h, [2] * h, [3] * h, [4] * h]:
            back = decode_png(encode_png(img, filters=filt))
            assert np.array_equal(back, img), (h, w, filt)


def test_png_grayscale_and_subbyte_depths():
    """Color type 0 replicates to 3 channels; 1-bit packs MSB-first
    and scales by 255 (the exact 255/(2^d−1) factor)."""
    rng = np.random.default_rng(8)
    g = rng.integers(0, 256, (9, 11), dtype=np.uint8)
    assert np.array_equal(
        decode_png(encode_png(g)), np.repeat(g[:, :, None], 3, axis=2)
    )
    import struct
    import zlib

    w, h = 10, 4
    bw = rng.integers(0, 2, (h, w), dtype=np.uint8)
    rows = b"".join(
        b"\x00" + np.packbits(bw[y]).tobytes() for y in range(h)
    )
    payload = (
        _PNG_SIG
        + png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 1, 0, 0, 0, 0))
        + png_chunk(b"IDAT", zlib.compress(rows))
        + png_chunk(b"IEND", b"")
    )
    want = np.repeat((bw * 255)[:, :, None], 3, axis=2)
    assert np.array_equal(decode_png(payload), want)


def test_png_palette_rgba_16bit_and_multi_idat():
    """The hand-built containers no encoder here emits: 4-bit palette
    lookup, RGBA alpha drop, 16-bit high-byte reduction, and an IDAT
    stream split across chunks (spec allows any split)."""
    import struct
    import zlib

    rng = np.random.default_rng(9)
    # 4-bit palette
    pal = bytes(rng.integers(0, 256, 48, dtype=np.uint8))
    w, h, d = 5, 3, 4
    idx = rng.integers(0, 16, (h, w), dtype=np.uint8)
    rows = b""
    for y in range(h):
        bits = np.unpackbits(idx[y][:, None], axis=1)[:, -d:].flatten()
        rows += b"\x00" + np.packbits(bits).tobytes()
    payload = (
        _PNG_SIG
        + png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, d, 3, 0, 0, 0))
        + png_chunk(b"PLTE", pal)
        + png_chunk(b"IDAT", zlib.compress(rows))
        + png_chunk(b"IEND", b"")
    )
    want = np.frombuffer(pal, np.uint8).reshape(-1, 3)[idx]
    assert np.array_equal(decode_png(payload), want)
    # RGBA: alpha dropped
    w, h = 6, 2
    rgba = rng.integers(0, 256, (h, w, 4), dtype=np.uint8)
    rows = b"".join(b"\x00" + rgba[y].tobytes() for y in range(h))
    payload = (
        _PNG_SIG
        + png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
        + png_chunk(b"IDAT", zlib.compress(rows))
        + png_chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(payload), rgba[:, :, :3])
    # 16-bit RGB with v*257 samples → high byte == v exactly
    w, h = 4, 3
    v = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    rows = b"".join(
        b"\x00" + (v[y].astype(np.uint16) * 257).astype(">u2").tobytes()
        for y in range(h)
    )
    payload = (
        _PNG_SIG
        + png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0))
        + png_chunk(b"IDAT", zlib.compress(rows))
        + png_chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(payload), v)
    # multi-IDAT: split the compressed stream mid-byte-run
    img = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
    enc = encode_png(img, filters="none")
    pos, chunks = 8, {}
    while pos < len(enc):
        (ln,) = struct.unpack_from(">I", enc, pos)
        chunks[enc[pos + 4 : pos + 8]] = enc[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
    rebuilt = (
        _PNG_SIG
        + png_chunk(b"IHDR", chunks[b"IHDR"])
        + png_chunk(b"IDAT", chunks[b"IDAT"][:5])
        + png_chunk(b"IDAT", chunks[b"IDAT"][5:])
        + png_chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(rebuilt), img)


def test_png_adam7_interlace_roundtrip():
    """Adam7: the seven passes unfilter independently and interleave
    back exactly — every size class that exercises empty and partial
    passes (1x1 hits pass 1 only; 3x20/20x3 skip whole passes)."""
    rng = np.random.default_rng(21)
    for h, w in [(1, 1), (7, 5), (8, 8), (18, 32), (13, 9), (3, 20),
                 (20, 3)]:
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        for f in ("cycle", "none"):
            back = decode_png(encode_png(img, filters=f, interlace=True))
            assert np.array_equal(back, img), (h, w, f)
        g = rng.integers(0, 256, (h, w), dtype=np.uint8)
        back = decode_png(encode_png(g, interlace=True))
        assert np.array_equal(back, np.repeat(g[:, :, None], 3, axis=2))


def test_png_error_gates():
    """Honest failures: unknown interlace method, bad signature,
    truncated pixel data, palette without PLTE."""
    import struct
    import zlib

    ihdr_i2 = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 2)
    bad = (
        _PNG_SIG
        + png_chunk(b"IHDR", ihdr_i2)
        + png_chunk(b"IDAT", zlib.compress(b"\x00" * 52))
    )
    with pytest.raises(ValueError, match="interlace"):
        decode_png(bad)
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"\x89PNGjunk")
    short = (
        _PNG_SIG
        + png_chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0))
        + png_chunk(b"IDAT", zlib.compress(b"\x00" * 10))
        + png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="truncated PNG"):
        decode_png(short)
    no_plte = (
        _PNG_SIG
        + png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0))
        + png_chunk(b"IDAT", zlib.compress(b"\x00\x01\x00"))
        + png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="PLTE"):
        decode_png(no_plte)


def test_png_spark_decode_path(spark):
    """decode_image_meta over real PNG payloads: the mapInPandas leg
    the registered multimodal_png_decode query runs, at unit scale."""
    from pyspark.sql import Row

    from hadoop_20_warehouse_spark.multimodal.binary import decode_image_meta

    grad = (np.arange(4)[:, None] + np.arange(6)[None, :]).astype(np.uint8)
    rgb = np.stack([10 + grad, 20 + grad, 30 + grad], axis=2).astype(np.uint8)
    imgs = spark.createDataFrame(
        [
            Row(id=1, payload=bytearray(encode_png(rgb))),
            Row(id=2, payload=bytearray(encode_png((50 + grad).astype(np.uint8)))),
        ]
    )
    meta = {r["id"]: r for r in decode_image_meta(imgs, "id", "payload").collect()}
    assert meta[1]["fmt"] == "png" and meta[1]["width"] == 6
    # gradient mean: c0 + (w-1)/2 + (h-1)/2 = c0 + 2.5 + 1.5
    assert meta[1]["mean_r"] == 14.0 and meta[1]["mean_b"] == 34.0
    assert meta[2]["mean_g"] == 54.0  # gray replicated across channels


# --- JPEG (round 16: baseline T.81, stdlib + numpy) --------------------------


def test_jpeg_even_gray_exact_contract():
    """The registered query's oracle lean: uniform grayscale at an
    EVEN value survives encode->decode bit-exactly at quality 50
    (DC = 8·(v−128) divisible by the Annex-K DC quant step 16),
    including edge-padded partial blocks and restart intervals."""
    from hadoop_20_warehouse_spark.multimodal.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    for v in (0, 2, 64, 128, 200, 254):
        for shape in [(16, 24), (9, 13), (2, 33)]:
            img = np.full(shape, v, np.uint8)
            back = decode_jpeg(encode_jpeg(img))
            assert back.shape == (*shape, 3)
            assert (back == v).all(), (v, shape)
    img = np.full((32, 48), 200, np.uint8)
    with_rst = decode_jpeg(encode_jpeg(img, restart_interval=2))
    assert (with_rst == 200).all()


def test_jpeg_roundtrip_tolerance_gray_color_420_restart():
    """Lossy round-trips stay within JPEG-typical error bounds on
    smooth content, and restart-marker scans decode identically to
    their unrestarted twins (resync + DC-predictor reset)."""
    from hadoop_20_warehouse_spark.multimodal.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    g = (np.arange(48)[None, :] * 3 + np.arange(32)[:, None] * 2 + 20
         ).astype(np.uint8)
    back = decode_jpeg(encode_jpeg(g))
    assert np.abs(back[:, :, 0].astype(int) - g.astype(int)).max() <= 15
    assert np.array_equal(
        decode_jpeg(encode_jpeg(g, restart_interval=3)),
        decode_jpeg(encode_jpeg(g)),
    )
    x = np.linspace(0, 1, 40)
    y = np.linspace(0, 1, 24)
    img = np.stack(
        [80 + 100 * np.outer(y, x), 60 + 80 * np.outer(1 - y, x),
         np.full((24, 40), 120.0)],
        axis=2,
    ).astype(np.uint8)
    for sub in ("444", "420"):
        back = decode_jpeg(encode_jpeg(img, quality=90, subsampling=sub))
        assert back.shape == img.shape
        assert np.abs(back.astype(int) - img.astype(int)).max() <= 12, sub
    assert np.array_equal(
        decode_jpeg(encode_jpeg(img, quality=90, subsampling="420",
                                restart_interval=2)),
        decode_jpeg(encode_jpeg(img, quality=90, subsampling="420")),
    )


def test_jpeg_error_gates_and_dispatch():
    """Honest failures: lossless (SOF3) raises, garbage raises;
    the sniff dispatch routes jpeg bytes to the real decoder."""
    from hadoop_20_warehouse_spark.multimodal.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    g = np.full((8, 8), 100, np.uint8)
    enc = bytearray(encode_jpeg(g))
    i = enc.find(b"\xff\xc0")
    enc[i + 1] = 0xC3  # rewrite SOF0 -> SOF3 (lossless: still gated)
    with pytest.raises(ValueError, match="baseline"):
        decode_jpeg(bytes(enc))
    with pytest.raises(ValueError, match="not a JPEG"):
        decode_jpeg(b"\x00\x00junk")
    fmt, arr = decode_image(encode_jpeg(g))
    assert fmt == "jpeg" and (arr == 100).all()
    from hadoop_20_warehouse_spark.multimodal.binary import decode_image_real

    assert decode_image_real(encode_jpeg(np.full((4, 6), 50, np.uint8))) \
        == (6, 4)


def test_jpeg_fill_bytes_and_standalone_markers():
    """T.81 B.1.1.2: 0xFF fill bytes may pad before any marker, and
    TEM (0x01) is a length-less standalone marker — real camera/tool
    JPEGs carry both; the walk previously misparsed them as segment
    headers (r16 ADVICE)."""
    from hadoop_20_warehouse_spark.multimodal.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (24, 32, 3), dtype=np.uint8)
    payload = encode_jpeg(img)
    ref = decode_jpeg(payload)
    i = payload.find(b"\xff\xc0")
    padded = payload[:i] + b"\xff\xff\xff" + payload[i:]  # fill bytes
    j = padded.find(b"\xff\xdb")
    padded = padded[:j] + b"\xff\x01" + padded[j:]  # TEM marker
    assert np.array_equal(decode_jpeg(padded), ref)


def test_jpeg_progressive_bit_identical_to_baseline():
    """Progressive (SOF2) is a different entropy serialization of the
    SAME quantized coefficients, so decode(encode_progressive(x)) must
    equal decode(encode(x)) bit-for-bit — across grayscale/RGB,
    4:4:4/4:2:0, non-multiple-of-8 dims, and quality settings.  This
    pins every Annex G scan kind the encoder emits: interleaved DC
    first (Al=1), AC spectral-selection first scans with EOB runs,
    AC successive-approximation refinement, DC refinement."""
    from hadoop_20_warehouse_spark.multimodal.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(42)
    cases = [
        (np.tile((np.arange(48) * 5 % 256).astype(np.uint8), (32, 1)),
         "444", 50),
        (rng.integers(0, 256, (24, 40), dtype=np.uint8), "444", 50),
        (rng.integers(0, 256, (33, 47, 3), dtype=np.uint8), "444", 50),
        (rng.integers(0, 256, (30, 44, 3), dtype=np.uint8), "420", 50),
        (rng.integers(0, 256, (25, 37, 3), dtype=np.uint8), "420", 75),
        (np.full((16, 16), 100, dtype=np.uint8), "444", 50),
        (rng.integers(0, 256, (40, 56, 3), dtype=np.uint8), "444", 90),
    ]
    for img, sub, q in cases:
        base = decode_jpeg(encode_jpeg(img, quality=q, subsampling=sub))
        prog = decode_jpeg(
            encode_jpeg_progressive(img, quality=q, subsampling=sub)
        )
        assert np.array_equal(base, prog), (img.shape, sub, q)


def test_jpeg_progressive_even_gray_exact():
    """The registered query's closed-form contract carries over to
    progressive payloads: a uniform even-gray image round-trips
    bit-exactly at quality 50 (DC-only blocks, q=16 divides 8·(v−128)
    with zero remainder)."""
    from hadoop_20_warehouse_spark.multimodal.jpeg import (
        decode_jpeg,
        encode_jpeg_progressive,
    )

    for v in (0, 64, 128, 200, 254):
        img = np.full((24, 40), v, dtype=np.uint8)
        out = decode_jpeg(encode_jpeg_progressive(img))
        assert (out == v).all(), v


def test_jpeg_spark_decode_path(spark):
    """decode_image_meta over real JPEG payloads — the mapInPandas leg
    the registered multimodal_jpeg_decode query runs, at unit scale."""
    from pyspark.sql import Row

    from hadoop_20_warehouse_spark.multimodal.binary import decode_image_meta
    from hadoop_20_warehouse_spark.multimodal.jpeg import encode_jpeg

    imgs = spark.createDataFrame(
        [
            Row(id=1, payload=bytearray(
                encode_jpeg(np.full((4, 6), 88, np.uint8)))),
            Row(id=2, payload=bytearray(
                encode_jpeg(np.full((5, 3), 200, np.uint8),
                            restart_interval=1))),
        ]
    )
    meta = {r["id"]: r
            for r in decode_image_meta(imgs, "id", "payload").collect()}
    assert meta[1]["fmt"] == "jpeg" and meta[1]["width"] == 6
    assert meta[1]["mean_r"] == 88.0 and meta[1]["mean_b"] == 88.0
    assert meta[2]["height"] == 5 and meta[2]["mean_g"] == 200.0


# --- MP4 / ISO-BMFF container metadata (round 16) ----------------------------


def test_mp4_container_meta_roundtrip_and_gates():
    """build_mp4 -> parse_mp4_meta round-trips every field (box
    framing, version-aware full boxes, 16.16 tkhd dims, stsz counts);
    non-BMFF bytes and oversize boxes raise."""
    from hadoop_20_warehouse_spark.multimodal.mp4 import (
        build_mp4,
        parse_mp4_meta,
    )

    m = parse_mp4_meta(
        build_mp4(125000, width=1920, height=1080, n_audio=2, n_samples=7)
    )
    assert m == {
        "brand": "isom", "duration_ms": 125000, "n_tracks": 3,
        "n_video": 1, "n_audio": 2, "width": 1920, "height": 1080,
        "n_samples": 7,
    }
    audio_only = parse_mp4_meta(build_mp4(500, n_audio=1))
    assert audio_only["n_tracks"] == 1 and audio_only["width"] == 0
    with pytest.raises(ValueError, match="ftyp"):
        parse_mp4_meta(b"\x00\x00\x00\x08free")
    bad = bytearray(build_mp4(1000, width=10, height=10))
    bad[0:4] = (2 ** 31).to_bytes(4, "big")  # box overruns the file
    with pytest.raises(ValueError, match="framing"):
        parse_mp4_meta(bytes(bad))
    assert sniff_format(build_mp4(1)) == "mp4"


def test_mp4_spark_meta_path(spark):
    """video_container_meta over real ISO-BMFF payloads — the
    mapInPandas leg of the registered multimodal_mp4_meta query."""
    from pyspark.sql import Row

    from hadoop_20_warehouse_spark.multimodal.binary import (
        video_container_meta,
    )
    from hadoop_20_warehouse_spark.multimodal.mp4 import build_mp4

    vids = spark.createDataFrame(
        [
            Row(id=1, payload=bytearray(
                build_mp4(60000, width=640, height=360, n_samples=5))),
            Row(id=2, payload=bytearray(build_mp4(1000, n_audio=2))),
        ]
    )
    meta = {r["id"]: r
            for r in video_container_meta(vids, "id", "payload").collect()}
    assert meta[1]["width"] == 640 and meta[1]["duration_ms"] == 60000
    assert meta[1]["n_samples"] == 5
    assert meta[2]["n_audio"] == 2 and meta[2]["n_video"] == 0


# --- GIF (round 16: pure-Python LZW) -----------------------------------------


def test_gif_roundtrip_interlace_and_dict_reset():
    """Palette build + GIF-LZW + optional 4-pass interlace round-trip
    exactly (GIF is lossless); a 300-row stripe image exercises the
    4096-entry dictionary reset; >256 colors and junk bytes raise."""
    from hadoop_20_warehouse_spark.multimodal.codecs import (
        decode_gif,
        encode_gif,
    )

    rng = np.random.default_rng(11)
    for h, w, ncol in [(1, 1, 1), (7, 5, 4), (18, 32, 256), (13, 9, 17)]:
        pal = rng.integers(0, 256, (ncol, 3), dtype=np.uint8)
        img = pal[rng.integers(0, ncol, (h, w))]
        for il in (False, True):
            assert np.array_equal(
                decode_gif(encode_gif(img, interlace=il)), img
            ), (h, w, ncol, il)
    stripes = np.zeros((300, 300, 3), np.uint8)
    stripes[::2] = [255, 0, 0]
    assert np.array_equal(decode_gif(encode_gif(stripes)), stripes)
    with pytest.raises(ValueError, match="256"):
        encode_gif(rng.integers(0, 256, (32, 32, 3), dtype=np.uint8))
    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"NOTGIF")
    from hadoop_20_warehouse_spark.multimodal.codecs import decode_image

    img = np.zeros((3, 4, 3), np.uint8)
    fmt, arr = decode_image(encode_gif(img))
    assert fmt == "gif" and np.array_equal(arr, img)


def test_gif_truncation_raises_valueerror_everywhere():
    """Every prefix of a valid GIF raises ValueError (the codecs'
    shared truncation contract), never IndexError — the sub-block
    walks previously indexed past the buffer (r16 ADVICE)."""
    from hadoop_20_warehouse_spark.multimodal.codecs import (
        decode_gif,
        encode_gif,
    )

    img = (
        (np.indices((10, 12)).sum(0) % 7 * 30)
        .astype(np.uint8)[:, :, None]
        .repeat(3, 2)
    )
    for interlace in (False, True):
        g = encode_gif(img, interlace=interlace)
        assert np.array_equal(decode_gif(g), img)
        for cut in range(len(g)):
            # a prefix that still contains the whole first frame
            # decodes fine (the trailer is optional to the contract);
            # every other prefix must raise ValueError, nothing else
            try:
                out = decode_gif(g[:cut])
            except ValueError:
                continue
            assert np.array_equal(out, img), cut


def test_mjpeg_avi_and_mp4_container_roundtrip():
    """MJPEG demux (r17): JPEG frames pack into a RIFF/AVI and an
    ISO-BMFF container and come back byte-identical; the ISO-BMFF
    parser resolves samples through the stsc/stco chunk walk
    (multi-chunk layouts included); non-MJPEG streams raise the
    honest ffmpeg gate; garbage raises ValueError."""
    from hadoop_20_warehouse_spark.multimodal.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )
    from hadoop_20_warehouse_spark.multimodal.video import (
        build_avi_mjpeg,
        build_mp4_mjpeg,
        extract_mjpeg_frames,
        parse_avi_mjpeg,
        parse_mp4_mjpeg_frames,
    )

    w, h = 24, 16
    frames = [
        encode_jpeg(np.full((h, w), 2 * ((10 + 7 * i) % 127), np.uint8))
        for i in range(5)
    ]
    avi = build_avi_mjpeg(frames, w, h, fps=10)
    meta, back = parse_avi_mjpeg(avi)
    assert meta == {"width": w, "height": h, "n_frames": 5,
                    "fourcc": "MJPG"}
    assert back == frames
    for i, f in enumerate(back):
        assert (decode_jpeg(f) == 2 * ((10 + 7 * i) % 127)).all()
    for fpc in (0, 2, 3):  # single chunk + two multi-chunk layouts
        mp4 = build_mp4_mjpeg(frames, w, h, frames_per_chunk=fpc)
        meta, back = parse_mp4_mjpeg_frames(mp4)
        assert back == frames, fpc
        assert meta["width"] == w and meta["n_frames"] == 5
    c, _, fr = extract_mjpeg_frames(avi)
    assert c == "avi" and len(fr) == 5
    c, _, fr = extract_mjpeg_frames(build_mp4_mjpeg(frames, w, h))
    assert c == "mp4" and len(fr) == 5
    with pytest.raises(ValueError, match="container"):
        extract_mjpeg_frames(b"garbage bytes everywhere")
    with pytest.raises(NotImplementedError, match="ffmpeg"):
        parse_avi_mjpeg(avi.replace(b"MJPG", b"H264"))
    # the existing container-metadata parser reads the same file
    from hadoop_20_warehouse_spark.multimodal.mp4 import parse_mp4_meta

    mm = parse_mp4_meta(build_mp4_mjpeg(frames, w, h))
    assert mm["n_video"] == 1 and mm["width"] == w and mm["n_samples"] == 5


def test_video_frames_spark_decode_path(spark):
    """decode_video_frames over real MJPEG payloads — the mapInPandas
    UDTF leg the registered multimodal_video_frames query runs, at
    unit scale: one row per sampled (step=2) frame, true dims, exact
    even-gray means."""
    from pyspark.sql import Row

    from hadoop_20_warehouse_spark.multimodal.jpeg import encode_jpeg
    from hadoop_20_warehouse_spark.multimodal.video import (
        build_avi_mjpeg,
        build_mp4_mjpeg,
        decode_video_frames,
    )

    def clip(vals, w, h):
        return [encode_jpeg(np.full((h, w), v, np.uint8)) for v in vals]

    df = spark.createDataFrame([
        Row(id=1, payload=bytearray(
            build_avi_mjpeg(clip([10, 20, 30], 8, 6), 8, 6))),
        Row(id=2, payload=bytearray(
            build_mp4_mjpeg(clip([100, 200, 44, 66], 12, 4), 12, 4,
                            frames_per_chunk=2))),
    ])
    rows = {(r["id"], r["frame_idx"]): r
            for r in decode_video_frames(df, "id", "payload",
                                         step=2).collect()}
    assert set(rows) == {(1, 0), (1, 2), (2, 0), (2, 2)}
    assert rows[(1, 0)]["container"] == "avi"
    assert rows[(1, 0)]["n_frames"] == 3
    assert rows[(1, 2)]["mean_g"] == 30.0
    assert rows[(2, 0)]["container"] == "mp4"
    assert rows[(2, 0)]["width"] == 12 and rows[(2, 0)]["height"] == 4
    assert rows[(2, 2)]["mean_r"] == 44.0


def test_mp4_stsz_uniform_sample_size():
    """r17 review fix: stsz with sample_size != 0 carries NO
    per-sample table (ISO 14496-12 §8.7.3.2) — sizes are uniform.
    Rewrite a built file's stsz to the uniform form (padding with a
    'free' box to keep parent sizes valid) and demux it."""
    import struct

    from hadoop_20_warehouse_spark.multimodal.jpeg import encode_jpeg
    from hadoop_20_warehouse_spark.multimodal.video import (
        build_mp4_mjpeg,
        parse_mp4_mjpeg_frames,
    )

    f = encode_jpeg(np.full((8, 8), 100, np.uint8))
    frames = [f, f, f]
    mp4 = build_mp4_mjpeg(frames, 8, 8)
    i = mp4.find(b"stsz")
    old_size = struct.unpack_from(">I", mp4, i - 4)[0]
    body = b"\x00\x00\x00\x00" + struct.pack(">II", len(f), 3)
    new_box = struct.pack(">I", 8 + len(body)) + b"stsz" + body
    pad = old_size - len(new_box)
    assert pad >= 8
    free = struct.pack(">I", pad) + b"free" + b"\x00" * (pad - 8)
    uniform = mp4[: i - 4] + new_box + free + mp4[i - 4 + old_size:]
    meta, back = parse_mp4_mjpeg_frames(uniform)
    assert back == frames and meta["n_frames"] == 3


def test_video_foreign_layouts_and_stream_numbers():
    """r17 review fixes: ISO-BMFF files with audio traks FIRST demux
    the MJPEG track regardless of trak order; AVI frame chunks attach
    to the VIDEO stream's ordinal (a '01dc' chunk belongs to stream 1,
    never to a stream-0 video); a file with no JPEG track raises the
    ffmpeg gate naming what it saw."""
    from hadoop_20_warehouse_spark.multimodal.jpeg import encode_jpeg
    from hadoop_20_warehouse_spark.multimodal.video import (
        build_avi_mjpeg,
        build_mp4_mjpeg,
        parse_avi_mjpeg,
        parse_mp4_mjpeg_frames,
    )

    f1 = encode_jpeg(np.full((8, 8), 100, np.uint8))
    f2 = encode_jpeg(np.full((8, 8), 102, np.uint8))
    frames = [f1, f2, f1]
    for n_audio in (0, 1, 2):
        mp4 = build_mp4_mjpeg(
            frames, 8, 8, frames_per_chunk=2, n_audio=n_audio
        )
        meta, back = parse_mp4_mjpeg_frames(mp4)
        assert back == frames and meta["width"] == 8, n_audio
    # H.264 file: rewrite the video stsd fourcc -> the gate fires
    # naming the formats it saw (audio mp4a + video avc1)
    h264 = build_mp4_mjpeg(frames, 8, 8, n_audio=1).replace(
        b"jpeg", b"avc1"
    )
    with pytest.raises(NotImplementedError, match="avc1"):
        parse_mp4_mjpeg_frames(h264)
    # AVI: renaming chunks to stream 1 with video at stream 0 must
    # detach them (stream-number honored, not hardcoded)
    avi = build_avi_mjpeg(frames, 8, 8)
    meta, fr = parse_avi_mjpeg(avi.replace(b"00dc", b"01dc"))
    assert fr == []


def test_avi_hex_stream_ids_and_bad_ids():
    """r18 ADVICE fix: MAKEAVICKID encodes stream indices as two HEX
    ASCII digits, so a video stream at ordinal 10 owns '0Adc' chunks;
    an unparseable id raises instead of silently dropping frames."""
    import struct

    from hadoop_20_warehouse_spark.multimodal.jpeg import encode_jpeg
    from hadoop_20_warehouse_spark.multimodal.video import (
        _riff_chunk,
        _riff_list,
        build_avi_mjpeg,
        parse_avi_mjpeg,
    )

    f1 = encode_jpeg(np.full((8, 8), 100, np.uint8))
    frames = [f1, f1]
    # hand-build: 10 audio strh ahead of the vids strh -> video is
    # stream 10, its movi chunks are '0Adc' (hex), not '10dc'
    avih = _riff_chunk(b"avih", struct.pack("<10I", *([0] * 8 + [8, 8])))
    auds = _riff_chunk(b"strh", b"auds" + b"\x00" * 52)
    vids = _riff_chunk(b"strh", b"vids" + b"MJPG" + b"\x00" * 48)
    hdrl = _riff_list(b"hdrl", avih + auds * 10 + vids)
    movi = _riff_list(
        b"movi", b"".join(_riff_chunk(b"0Adc", f) for f in frames)
    )
    body = b"AVI " + hdrl + movi
    avi = b"RIFF" + struct.pack("<I", len(body)) + body
    meta, back = parse_avi_mjpeg(avi)
    assert back == frames and meta["fourcc"] == "MJPG"
    # decimal parse would have attached '10dc' to stream 10; hex says
    # '10dc' is stream 16 -> detached
    meta, back = parse_avi_mjpeg(avi.replace(b"0Adc", b"10dc"))
    assert back == []
    # unparseable stream id: raise, never silently skip
    good = build_avi_mjpeg(frames, 8, 8)
    with pytest.raises(ValueError, match="non-hex"):
        parse_avi_mjpeg(good.replace(b"00dc", b"zzdc"))


def test_ffmpeg_gate_and_auto_fallback(tmp_path, monkeypatch):
    """r18 VERDICT #8: the H.264 gate stays an honest
    NotImplementedError when ffmpeg is absent, and auto-enables when a
    binary is present.  The present branch is exercised with a FAKE
    ffmpeg (a script emitting PNGs built by our own encoder) so the
    subprocess plumbing + PNG-stream splitter run deterministically in
    this container; the real-decode parity check self-skips when no
    actual ffmpeg exists."""
    from hadoop_20_warehouse_spark.multimodal.codecs import (
        decode_png,
        encode_png,
    )
    from hadoop_20_warehouse_spark.multimodal.jpeg import encode_jpeg
    from hadoop_20_warehouse_spark.multimodal.video import (
        _split_png_stream,
        build_avi_mjpeg,
        decode_frames_ffmpeg,
        extract_frames_auto,
        ffmpeg_binary,
    )

    frames = [encode_jpeg(np.full((8, 8), v, np.uint8)) for v in (60, 62)]
    h264ish = build_avi_mjpeg(frames, 8, 8).replace(b"MJPG", b"H264")

    # --- absent branch: env override disables any real binary
    monkeypatch.setenv("SPARK_GRAFT_FFMPEG", "")
    assert ffmpeg_binary() is None
    with pytest.raises(NotImplementedError, match="ffmpeg"):
        extract_frames_auto(h264ish)
    with pytest.raises(NotImplementedError, match="ffmpeg"):
        decode_frames_ffmpeg(h264ish)

    # --- present branch via a fake binary: emits two of OUR PNGs
    imgs = [
        np.full((5, 7), 10, np.uint8), np.full((5, 7), 200, np.uint8)
    ]
    stream = b"".join(encode_png(i) for i in imgs)
    blob_path = tmp_path / "frames.bin"
    blob_path.write_bytes(stream)
    fake = tmp_path / "ffmpeg"
    fake.write_text(f"#!/bin/sh\ncat >/dev/null\ncat {blob_path}\n")
    fake.chmod(0o755)
    monkeypatch.setenv("SPARK_GRAFT_FFMPEG", str(fake))
    assert ffmpeg_binary() == str(fake)
    container, meta, pngs = extract_frames_auto(h264ish)
    assert container == "ffmpeg" and meta["codec"] == "png"
    assert len(pngs) == 2
    for png, img in zip(pngs, imgs):
        arr = decode_png(png)  # decoder normalizes to H x W x 3
        assert arr.shape[:2] == img.shape
        assert all(
            np.array_equal(arr[..., c], img) for c in range(arr.shape[2])
        )
    # splitter is structural, not signature-scan: a PNG whose IDAT
    # happens to contain the signature bytes still splits correctly
    tricky = encode_png(
        np.frombuffer(
            (b"\x89PNG\r\n\x1a\n" * 8)[:64], np.uint8
        ).reshape(8, 8).copy()
    )
    parts = _split_png_stream(tricky + tricky)
    assert len(parts) == 2 and parts[0] == tricky

    # MJPEG payloads never reach the fallback (fast path intact)
    monkeypatch.setenv("SPARK_GRAFT_FFMPEG", "")
    good = build_avi_mjpeg(frames, 8, 8)
    container, meta, back = extract_frames_auto(good)
    assert container == "avi" and back == frames


@pytest.mark.skipif(
    __import__("shutil").which("ffmpeg") is None,
    reason="no real ffmpeg on this host",
)
def test_ffmpeg_real_decode_parity():
    """Real-binary branch of the r18 ffmpeg gate: MJPEG AVI through
    the actual ffmpeg → PNG frames whose means match the sources."""
    from hadoop_20_warehouse_spark.multimodal.codecs import decode_png
    from hadoop_20_warehouse_spark.multimodal.jpeg import encode_jpeg
    from hadoop_20_warehouse_spark.multimodal.video import (
        build_avi_mjpeg,
        decode_frames_ffmpeg,
    )

    frames = [encode_jpeg(np.full((8, 8), v, np.uint8)) for v in (60, 62)]
    out = decode_frames_ffmpeg(build_avi_mjpeg(frames, 8, 8))
    assert len(out) == 2
    for png, v in zip(out, (60, 62)):
        assert abs(int(decode_png(png).mean()) - v) <= 2


def _replace_first_dht(payload: bytes, body: bytes) -> bytes:
    """``payload`` with its first DHT segment's body replaced."""
    import struct

    i = payload.index(b"\xff\xc4")
    (seg_len,) = struct.unpack_from(">H", payload, i + 2)
    return (
        payload[: i + 2]
        + struct.pack(">H", len(body) + 2)
        + body
        + payload[i + 2 + seg_len :]
    )


def test_jpeg_malformed_dht_raises_value_error():
    """An over-full canonical table (three 1-bit codes) and a value
    list shorter than sum(bits) are rejected when the DHT is read,
    directly and through decode_jpeg."""
    import numpy as np

    from hadoop_20_warehouse_spark.multimodal.jpeg import (
        _build_decode_lut,
        decode_jpeg,
        encode_jpeg,
    )

    over_full = [3] + [0] * 15
    with pytest.raises(ValueError, match="over-full"):
        _build_decode_lut(over_full, [0, 1, 2])
    short = [0, 3] + [0] * 14
    with pytest.raises(ValueError, match="truncated DHT"):
        _build_decode_lut(short, [0, 1])

    good = encode_jpeg(np.full((8, 8), 128, dtype=np.uint8))
    with pytest.raises(ValueError, match="over-full"):
        decode_jpeg(_replace_first_dht(good, bytes([0x00, *over_full, 0, 1, 2])))
    with pytest.raises(ValueError, match="truncated DHT"):
        decode_jpeg(_replace_first_dht(good, bytes([0x00, *short, 0, 1])))


def test_jpeg_decode_lut_matches_canonical_code_table():
    """Every valid table's LUT holds (length << 8) | symbol over exactly
    the 16-bit range each canonical code prefixes, and 0 elsewhere."""
    from hadoop_20_warehouse_spark.multimodal import jpeg as J

    tables = [
        (J._DC_LUMA_BITS, J._DC_LUMA_VALS),
        (J._AC_LUMA_BITS, J._AC_LUMA_VALS),
        (J._DC_CHROMA_BITS, J._DC_CHROMA_VALS),
        (J._AC_CHROMA_BITS, J._AC_CHROMA_VALS),
        (J._AC_PROG_BITS, J._AC_PROG_VALS),
        ([2] + [0] * 15, [7, 9]),  # a full 1-bit table
    ]
    for bits, vals in tables:
        want = [0] * (1 << 16)
        for (length, code), sym in J._build_decode_table(bits, vals).items():
            lo = code << (16 - length)
            want[lo : lo + (1 << (16 - length))] = [(length << 8) | sym] * (
                1 << (16 - length)
            )
        assert J._build_decode_lut(list(bits), list(vals)) == want


def test_jpeg_table_cache_evicts_oldest_at_cap(monkeypatch):
    from hadoop_20_warehouse_spark.multimodal import jpeg as J

    monkeypatch.setattr(J, "_DECODE_LUT_CACHE", {})
    bits = [0, 2] + [0] * 14
    keys = []
    for sym in range(J._TABLE_CACHE_MAX + 5):
        J._build_decode_lut(bits, [sym, 255])
        keys.append((tuple(bits), (sym, 255)))
    assert len(J._DECODE_LUT_CACHE) == J._TABLE_CACHE_MAX
    assert list(J._DECODE_LUT_CACHE) == keys[5:]
