"""Multimodal columns: opaque binary payloads + typed metadata.

Pattern (BASELINE.json north star; no reference counterpart — the
closest is BytesWritable payload rows, io/BytesWritable.java): media
lives in a ``binary`` column (or object-store pointers), metadata in
typed columns, and decode/feature-extraction runs as Arrow-batched
``mapInPandas`` so bytes never round-trip through Python row-at-a-time.

Decode reality, by format (rounds 10+16): PPM / BMP / WAV / PNG /
JPEG decode is REAL — stdlib + numpy parse the actual containers
(multimodal/codecs.py; PNG is zlib inflate + the five scanline
filters in numpy; JPEG is a baseline-T.81 Huffman+IDCT decoder in
multimodal/jpeg.py; see decode_image_meta / audio_features /
resize_image_real below).  Video (MP4) decode is NOT in this
container (ffmpeg — re-checked every round), so for it
``decode_meta`` extracts real byte-level metadata (length, digest,
magic sniff) and the ``*_stub`` paths derive deterministic fake
dimensions from the digest (w = hex[:15] % 1024 + 1, h = hex[15:30]
% 1024 + 1, computed inside each closure) — clearly marked; swap that
computation for an ffmpeg call in production. The Spark-side plumbing
(schema, Arrow batching, partition-parallel UDF) is identical in both
regimes and oracle-tested.

Scale notes: mapInPandas streams Arrow record batches; with binary
payloads set ``spark.sql.execution.arrow.maxRecordsPerBatch`` so a
batch of images fits executor memory. Feature extraction is
embarrassingly parallel — no shuffle at all.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODE_META_SCHEMA = (
    "id long, byte_len long, content_md5 string, width long, height long"
)

try:  # real decoder, absent in this container
    from PIL import Image  # noqa: F401

    HAVE_PIL = True
except ImportError:
    HAVE_PIL = False


def decode_image_real(payload: bytes) -> tuple[int, int]:
    """Real decode for the formats the container can parse
    (PPM/BMP/PNG/baseline JPEG — multimodal/codecs.py, jpeg.py);
    anything else (video) falls back to this gate."""
    from hadoop_20_warehouse_spark.multimodal.codecs import (
        decode_image,
        sniff_format,
    )

    fmt = sniff_format(payload)
    if fmt in ("ppm", "bmp", "png", "jpeg", "gif"):
        _, img = decode_image(payload)
        return img.shape[1], img.shape[0]
    raise NotImplementedError(
        f"decoding '{fmt}' requires ffmpeg/PIL, not installed here; "
        "decode_meta uses digest-derived stand-in dims instead "
        "(ppm/bmp/png/jpeg/wav decode IS real — see "
        "decode_image_meta/audio_features)"
    )


def decode_meta(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """(id, byte_len, content_md5, width, height) per binary payload
    via Arrow-batched mapInPandas.

    The closure below is deliberately SELF-CONTAINED (local imports,
    no references to this module's globals): cloudpickle then ships it
    by value, so Python workers never need ``hadoop_20_warehouse_spark``
    importable on their own path — the driver may run from any cwd
    without addPyFile/PYTHONPATH setup.
    """
    use_pil = HAVE_PIL

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as _pd

        for pdf in batches:
            payloads = pdf[bin_col]
            digests = [_hashlib.md5(b).hexdigest() for b in payloads]
            if use_pil:  # pragma: no cover - decoder not in container
                raise NotImplementedError("real decode path not wired in container")
            dims = [
                (int(d[:15], 16) % 1024 + 1, int(d[15:30], 16) % 1024 + 1)
                for d in digests
            ]
            yield _pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "byte_len": [len(b) for b in payloads],
                    "content_md5": digests,
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                }
            )

    from hadoop_20_warehouse_spark.session import scatter

    return scatter(df.select(F.col(id_col), F.col(bin_col))).mapInPandas(
        run, schema=DECODE_META_SCHEMA
    )


RESIZE_SCHEMA = (
    "id long, width long, height long, out_width long, out_height long, "
    "resized_md5 string"
)


def resize_stub(
    df: DataFrame, id_col: str, bin_col: str, box_w: int = 256, box_h: int = 256
) -> DataFrame:
    """Aspect-fit image resize plumbing: (id, width, height, out_width,
    out_height, resized_md5) via Arrow-batched mapInPandas.

    Source dims are the digest-derived stand-ins (module docstring),
    so the DuckDB oracle can check the pipeline without a codec; the fit
    math is REAL and **integer-exact** (branch on tw·h ≤ th·w instead
    of comparing float scales, floor-divide for the scaled edge, never
    upscale) so the DuckDB oracle reproduces it bit-for-bit. The
    resized payload is stood in by md5(content_md5 || out_w x out_h) —
    swap the body for a PIL/opencv call in production; the schema,
    batching, and no-shuffle parallelism are the production shape.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as _pd

        def fit(w: int, h: int) -> tuple[int, int]:
            if w <= box_w and h <= box_h:
                return w, h  # never upscale
            if box_w * h <= box_h * w:  # width is the binding edge
                return box_w, max(1, (h * box_w) // w)
            return max(1, (w * box_h) // h), box_h

        for pdf in batches:
            digests = [_hashlib.md5(b).hexdigest() for b in pdf[bin_col]]
            dims = [
                (int(d[:15], 16) % 1024 + 1, int(d[15:30], 16) % 1024 + 1)
                for d in digests
            ]
            out = [fit(w, h) for w, h in dims]
            yield _pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "out_width": [o[0] for o in out],
                    "out_height": [o[1] for o in out],
                    "resized_md5": [
                        _hashlib.md5(
                            f"{d}:{o[0]}x{o[1]}".encode()
                        ).hexdigest()
                        for d, o in zip(digests, out)
                    ],
                }
            )

    from hadoop_20_warehouse_spark.session import scatter

    return scatter(df.select(F.col(id_col), F.col(bin_col))).mapInPandas(
        run, schema=RESIZE_SCHEMA
    )


def resize_stub_sql(
    table: str, id_col: str, text_col: str, box_w: int = 256, box_h: int = 256
) -> str:
    """DuckDB oracle for ``resize_stub`` over text-as-payload rows."""
    return f"""
WITH meta AS (
  SELECT {id_col} AS id, md5({text_col}) AS d,
         CAST('0x' || substring(md5({text_col}), 1, 15) AS BIGINT) % 1024 + 1 AS width,
         CAST('0x' || substring(md5({text_col}), 16, 15) AS BIGINT) % 1024 + 1 AS height
  FROM {table}
),
fitted AS (
  SELECT id, d, width, height,
         CASE
           WHEN width <= {box_w} AND height <= {box_h} THEN width
           WHEN {box_w} * height <= {box_h} * width THEN {box_w}
           ELSE greatest(1, (width * {box_h}) // height)
         END AS out_width,
         CASE
           WHEN width <= {box_w} AND height <= {box_h} THEN height
           WHEN {box_w} * height <= {box_h} * width THEN greatest(1, (height * {box_w}) // width)
           ELSE {box_h}
         END AS out_height
  FROM meta
)
SELECT id, width, height, out_width, out_height,
       md5(d || ':' || CAST(out_width AS VARCHAR) || 'x' || CAST(out_height AS VARCHAR)) AS resized_md5
FROM fitted
""".strip()


FRAME_SAMPLE_SCHEMA = "id long, n_frames long, frame_idx long, frame_md5 string"


def frame_sample_stub(
    df: DataFrame, id_col: str, bin_col: str, step: int = 10, max_frames: int = 120
) -> DataFrame:
    """Video frame-sampling plumbing: one output row per sampled frame
    (every ``step``-th), a UDTF-shaped mapInPandas (1 row in → many
    rows out, Arrow-batched).

    The "video" length is stood in by a digest-derived frame count in
    [1, max_frames] and each frame payload by md5(content_md5:idx).
    As of r17 the REAL path exists for MJPEG containers —
    multimodal/video.decode_video_frames demuxes AVI/ISO-BMFF and
    decodes actual frames with the same UDTF shape; this stub remains
    the oracle-checkable stand-in for codec formats that genuinely
    need ffmpeg (H.264/H.265). Output stays partitioned with the
    input (no shuffle); downstream per-frame feature UDFs chain onto
    this frame table directly.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as _pd

        for pdf in batches:
            ids, counts, idxs, fmd5 = [], [], [], []
            for rid, payload in zip(pdf[id_col], pdf[bin_col]):
                d = _hashlib.md5(payload).hexdigest()
                n_frames = int(d[:8], 16) % max_frames + 1
                for i in range(0, n_frames, step):
                    ids.append(rid)
                    counts.append(n_frames)
                    idxs.append(i)
                    fmd5.append(_hashlib.md5(f"{d}:{i}".encode()).hexdigest())
            yield _pd.DataFrame(
                {"id": ids, "n_frames": counts, "frame_idx": idxs, "frame_md5": fmd5}
            )

    from hadoop_20_warehouse_spark.session import scatter

    return scatter(df.select(F.col(id_col), F.col(bin_col))).mapInPandas(
        run, schema=FRAME_SAMPLE_SCHEMA
    )


def frame_sample_stub_sql(
    table: str, id_col: str, text_col: str, step: int = 10, max_frames: int = 120
) -> str:
    """DuckDB oracle for ``frame_sample_stub``."""
    return f"""
WITH meta AS (
  SELECT {id_col} AS id, md5({text_col}) AS d,
         CAST('0x' || substring(md5({text_col}), 1, 8) AS BIGINT) % {max_frames} + 1 AS n_frames
  FROM {table}
)
SELECT id, n_frames, frame_idx, md5(d || ':' || CAST(frame_idx AS VARCHAR)) AS frame_md5
FROM (
  SELECT id, d, n_frames, unnest(generate_series(0, n_frames - 1, {step})) AS frame_idx
  FROM meta
)
""".strip()


# --- REAL decode paths (round 10) -------------------------------------------
# The container still lacks PIL/cv2/ffmpeg (re-checked every round), but
# three production formats decode with stdlib + numpy alone — so for
# PPM / BMP / WAV the decode below is REAL (true dimensions, true
# pixels, true sample statistics, true nearest-neighbor resample), via
# multimodal/codecs.py.  JPEG/PNG/MP4 stay gated as before.  These
# closures reference the codecs module (the recordio-writer precedent:
# workers import the package), unlike decode_meta's deliberately
# self-contained closure.

IMAGE_META_SCHEMA = (
    "id long, fmt string, width long, height long, "
    "mean_r double, mean_g double, mean_b double"
)


def decode_image_meta(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """REAL image decode over Arrow batches: sniff the container magic,
    parse PPM/BMP/PNG/JPEG pixels with numpy (PNG: zlib inflate +
    scanline unfiltering; JPEG: baseline Huffman + IDCT), and emit
    true dimensions and per-channel means (rounded to 6 decimals, the
    transcendental discipline).  Unsupported formats (video/...)
    raise — the honest gate moved from 'all decode' down to 'codecs
    this container lacks'."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        from hadoop_20_warehouse_spark.multimodal.codecs import decode_image

        for pdf in batches:
            fmts, ws, hs, mr, mg, mb = [], [], [], [], [], []
            for payload in pdf[bin_col]:
                fmt, img = decode_image(bytes(payload))
                fmts.append(fmt)
                hs.append(img.shape[0])
                ws.append(img.shape[1])
                means = img.reshape(-1, 3).mean(axis=0)
                mr.append(round(float(means[0]), 6))
                mg.append(round(float(means[1]), 6))
                mb.append(round(float(means[2]), 6))
            yield _pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "fmt": fmts,
                    "width": ws,
                    "height": hs,
                    "mean_r": mr,
                    "mean_g": mg,
                    "mean_b": mb,
                }
            )

    from hadoop_20_warehouse_spark.session import scatter

    return scatter(df.select(F.col(id_col), F.col(bin_col))).mapInPandas(
        run, schema=IMAGE_META_SCHEMA
    )


AUDIO_FEATURES_SCHEMA = (
    "id long, sample_rate long, channels long, n_samples long, "
    "peak long, rms double"
)


def audio_features(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """REAL audio feature extraction: PCM WAV parsed with stdlib
    ``wave``, sample statistics (peak, RMS) computed with numpy over
    the actual int16 samples."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        from hadoop_20_warehouse_spark.multimodal.codecs import (
            decode_wav_features,
        )

        for pdf in batches:
            rows = [decode_wav_features(bytes(p)) for p in pdf[bin_col]]
            yield _pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "sample_rate": [r["sample_rate"] for r in rows],
                    "channels": [r["channels"] for r in rows],
                    "n_samples": [r["n_samples"] for r in rows],
                    "peak": [r["peak"] for r in rows],
                    "rms": [r["rms"] for r in rows],
                }
            )

    from hadoop_20_warehouse_spark.session import scatter

    return scatter(df.select(F.col(id_col), F.col(bin_col))).mapInPandas(
        run, schema=AUDIO_FEATURES_SCHEMA
    )


VIDEO_META_SCHEMA = (
    "id long, brand string, duration_ms long, n_tracks long, "
    "n_video long, n_audio long, width long, height long, n_samples long"
)


def video_container_meta(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """REAL ISO-BMFF container metadata over Arrow batches
    (multimodal/mp4.parse_mp4_meta): duration, track inventory, video
    dimensions, sample counts — the catalog/validate stage of a video
    ingest, which needs NO codec.  Frame DECODE stays gated
    (frame_sample_stub's payloads remain digest fakes until ffmpeg
    exists); this is the honest middle: the container walk is real,
    the codec is not pretended."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        from hadoop_20_warehouse_spark.multimodal.mp4 import parse_mp4_meta

        for pdf in batches:
            rows = [parse_mp4_meta(bytes(p)) for p in pdf[bin_col]]
            yield _pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "brand": [r["brand"] for r in rows],
                    "duration_ms": [r["duration_ms"] for r in rows],
                    "n_tracks": [r["n_tracks"] for r in rows],
                    "n_video": [r["n_video"] for r in rows],
                    "n_audio": [r["n_audio"] for r in rows],
                    "width": [r["width"] for r in rows],
                    "height": [r["height"] for r in rows],
                    "n_samples": [r["n_samples"] for r in rows],
                }
            )

    from hadoop_20_warehouse_spark.session import scatter

    return scatter(df.select(F.col(id_col), F.col(bin_col))).mapInPandas(
        run, schema=VIDEO_META_SCHEMA
    )


RESIZE_REAL_SCHEMA = (
    "id long, width long, height long, out_width long, out_height long, "
    "out_mean_r double, resized_ppm binary"
)


def resize_image_real(
    df: DataFrame, id_col: str, bin_col: str, box_w: int = 256, box_h: int = 256
) -> DataFrame:
    """REAL aspect-fit resize: decode (PPM/BMP), integer-exact fit-box
    (same math as resize_stub and its SQL twin), numpy nearest-neighbor
    resample of the actual pixels, re-encoded P6 payload out."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        from hadoop_20_warehouse_spark.multimodal.codecs import (
            decode_image,
            fit_box,
            resize_nearest,
        )

        for pdf in batches:
            ws, hs, ows, ohs, means, blobs = [], [], [], [], [], []
            for payload in pdf[bin_col]:
                _, img = decode_image(bytes(payload))
                h, w = img.shape[:2]
                ow, oh = fit_box(w, h, box_w, box_h)
                out = resize_nearest(img, ow, oh)
                ws.append(w)
                hs.append(h)
                ows.append(ow)
                ohs.append(oh)
                means.append(round(float(out[:, :, 0].mean()), 6))
                header = f"P6\n{ow} {oh}\n255\n".encode("ascii")
                blobs.append(header + out.tobytes())
            yield _pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "width": ws,
                    "height": hs,
                    "out_width": ows,
                    "out_height": ohs,
                    "out_mean_r": means,
                    "resized_ppm": blobs,
                }
            )

    from hadoop_20_warehouse_spark.session import scatter

    return scatter(df.select(F.col(id_col), F.col(bin_col))).mapInPandas(
        run, schema=RESIZE_REAL_SCHEMA
    )
