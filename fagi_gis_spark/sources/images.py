"""Deterministic synthetic `images` table — the BASELINE.json input_hint
shape: (image_id string, bytes binary, w int, h int, fmt string,
caption string, phash int64).

Seed-pinned (FIXTURES.md §1): pixel content is a solid tone + seeded
noise tile; "png" rows are lossless; "jpeg" rows carry REAL baseline
JPEG bytes (sources/jpeg.py, from-scratch T.81 codec, quality 95 —
decoded pixels differ from the pristine ones but stay PSNR >= 40dB,
the north rule's lossy allclose gate; the r1-r3 quantize-then-PNG
simulation is gone).  Every other JPEG row (is_color_row) is a COLOR
image — real YCbCr 4:2:0 bytes from encode_jpeg_color — so the corpus
exercises the full color decode path; ``decode_pixels`` returns the
luma plane for those.  pHash is a real 8x8-DCT perceptual hash over
the DECODED (gray/luma) pixels (so the stored hash always matches a
re-decode, lossy or not), computed in a vectorized pandas UDF — it
seeds the synthetic lon/lat geotag (operators/geotag).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fagi_gis_spark.sources.png import decode_png_gray, encode_png_gray

IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
    ]
)

_WORDS = (
    "cafe plaza museum station park bridge tower market harbor library "
    "garden fountain castle gallery theater school chapel arena mill gate"
).split()

_W_CYCLE = (16, 32, 64)
_H_CYCLE = (16, 24, 64)


def _pixels_for(i: int, w: int, h: int) -> np.ndarray:
    """Deterministic tile: gradient + multiplicative-hash noise."""
    rng = np.random.default_rng(42 + i)
    base = (np.outer(np.arange(h), np.ones(w)) * (131 + i % 97)) % 256
    noise = rng.integers(0, 32, size=(h, w))
    return ((base + noise) % 256).astype(np.uint8)


def is_color_row(i: int) -> bool:
    """Every other JPEG row carries COLOR bytes (YCbCr 4:2:0) — the
    realistic corpus mix the r4 grayscale-only codec couldn't produce."""
    return i % 4 == 3


def _pixels_rgb_for(i: int, w: int, h: int) -> np.ndarray:
    """Deterministic (h, w, 3) RGB tile: three decorrelated channel
    tiles, so chroma genuinely exercises the subsampled planes."""
    return np.stack(
        [
            _pixels_for(i, w, h),
            _pixels_for(i + 7777, w, h),
            _pixels_for(i + 15555, w, h),
        ],
        axis=-1,
    )


def caption_for(i: int) -> str:
    a = _WORDS[i % len(_WORDS)]
    b = _WORDS[(i * 7 + 3) % len(_WORDS)]
    return f"{a} near {b} {i % 1000}"


def _dct_matrix(n: int = 32) -> np.ndarray:
    k = np.arange(n)
    m = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n))
    m[0] *= 1.0 / np.sqrt(2.0)
    return m * np.sqrt(2.0 / n)


_DCT32 = _dct_matrix(32)


def _block_means_32(pixels: np.ndarray) -> np.ndarray:
    """32x32 block means via an integral image (vectorized — the naive
    1024-slice version dominated ingest throughput)."""
    h, w = pixels.shape
    ys = np.linspace(0, h, 33).astype(int)
    xs = np.linspace(0, w, 33).astype(int)
    y1 = np.maximum(ys[1:], ys[:-1] + 1)
    x1 = np.maximum(xs[1:], xs[:-1] + 1)
    ii = np.zeros((h + 1, w + 1), dtype=np.float64)
    ii[1:, 1:] = pixels.astype(np.float64).cumsum(0).cumsum(1)
    a = ii[np.ix_(y1, x1)]
    b = ii[np.ix_(ys[:-1], x1)]
    c = ii[np.ix_(y1, xs[:-1])]
    d = ii[np.ix_(ys[:-1], xs[:-1])]
    areas = np.outer(y1 - ys[:-1], x1 - xs[:-1])
    return (a - b - c + d) / areas


def phash64(pixels: np.ndarray) -> int:
    """8x8-DCT perceptual hash (public pHash algorithm): resize to 32x32
    (block mean), 2-D DCT, take the top-left 8x8 (skipping DC), threshold
    on the median -> 64-bit signature."""
    small = _block_means_32(pixels)
    d = _DCT32 @ small @ _DCT32.T
    block = d[:8, :8].flatten()
    med = np.median(block[1:])
    bits = block > med
    v = 0
    for bit in bits:
        v = (v << 1) | int(bit)
    # fold into signed int64
    return v - (1 << 64) if v >= (1 << 63) else v


def exif_fields_for(i: int, phash: int) -> tuple[int, int, int, str]:
    """Deterministic EXIF metadata for generated row ``i``: the GPS
    coordinate is EXACTLY the pHash-seeded geotag lattice point
    (operators/geotag.geotag_cols, micro-degree integers — Python ``%``
    on a positive modulus == Spark/DuckDB pmod), so parsing the binary
    EXIF back must reproduce what the column arithmetic computes.
    Returns (lat_microdeg, lon_microdeg, orientation, datetime)."""
    lon_md = phash % 2_000_000 - 1_000_000
    lat_md = 50_000_000 + (phash % 2147483647) * 2654435761 % 2_000_000
    orientation = 1 + i % 8
    dt = f"2023:{1 + i % 12:02d}:{1 + i % 28:02d} {i % 24:02d}:{i % 60:02d}:{i * 7 % 60:02d}"
    return lat_md, lon_md, orientation, dt


def _finish_row(i: int, w: int, h: int, fmt: str) -> tuple[bytes, int]:
    """(payload bytes WITH embedded EXIF GPS, phash) for one row.  The
    EXIF segment/chunk is container metadata — pixels, and therefore the
    stored phash, are unchanged by it (asserted in pytest)."""
    from fagi_gis_spark.sources.exif import build_exif, embed_exif_jpeg, embed_exif_png

    data, px_dec = _encode_row(i, w, h, fmt)
    ph = phash64(px_dec)
    lat_md, lon_md, orient, dt = exif_fields_for(i, ph)
    payload = build_exif(lat_md, lon_md, orientation=orient, datetime=dt)
    embed = embed_exif_jpeg if fmt == "jpeg" else embed_exif_png
    return embed(data, payload), ph


def generate_images_pdf(n: int) -> pd.DataFrame:
    """Driver-side generator (used for tests/bench at tiny/small sizes;
    at real scale this table is the pre-existing Iceberg input)."""
    rows = []
    for i in range(n):
        w = _W_CYCLE[i % 3]
        h = _H_CYCLE[i % 3]
        fmt = "png" if i % 2 == 0 else "jpeg"
        data, ph = _finish_row(i, w, h, fmt)
        rows.append(
            {
                "image_id": f"img_{i:08d}",
                "bytes": data,
                "w": w,
                "h": h,
                "fmt": fmt,
                "caption": caption_for(i),
                "phash": ph,
            }
        )
    return pd.DataFrame(rows)


def _encode_row(i: int, w: int, h: int, fmt: str) -> tuple[bytes, np.ndarray]:
    """(payload bytes, decoded GRAY pixels) for one generated row — the
    phash is always computed on the DECODED luma so a re-decode
    (``decode_pixels``, which returns the luma plane for color files)
    reproduces it bit-for-bit even through the lossy codec.  Color rows
    (``is_color_row``) carry real YCbCr 4:2:0 bytes; the stored
    decoded-gray is the encoder's internal luma reconstruction, proven
    bit-equal to ``decode_jpeg_gray`` of the emitted bytes."""
    if fmt == "jpeg":
        if is_color_row(i):
            from fagi_gis_spark.sources.jpeg import encode_jpeg_color

            return encode_jpeg_color(
                _pixels_rgb_for(i, w, h), quality=95, return_decoded_gray=True
            )
        from fagi_gis_spark.sources.jpeg import encode_jpeg_gray

        return encode_jpeg_gray(_pixels_for(i, w, h), quality=95, return_decoded=True)
    px = _pixels_for(i, w, h)
    return encode_png_gray(px), px


def generate_images(spark: SparkSession, n: int, partitions: int = 8) -> DataFrame:
    """Distributed generator: ids fan out to executors, pixels/bytes/phash
    are produced inside a mapInPandas batch — no driver materialization,
    so ``n`` can scale with the cluster."""

    def gen(batches):
        for pdf in batches:
            out = []
            for i in pdf["i"]:
                i = int(i)
                w, h = _W_CYCLE[i % 3], _H_CYCLE[i % 3]
                fmt = "png" if i % 2 == 0 else "jpeg"
                data, ph = _finish_row(i, w, h, fmt)
                out.append((f"img_{i:08d}", data, w, h, fmt, caption_for(i), ph))
            yield pd.DataFrame(
                out, columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
            )

    ids = spark.range(0, n, 1, partitions).withColumnRenamed("id", "i")
    return ids.mapInPandas(gen, schema=IMAGES_SCHEMA)


def _gray_of(px: np.ndarray) -> np.ndarray:
    """RGB -> ITU-R BT.601 integer luma (the same rounding the JPEG
    encoder uses); gray passes through."""
    if px.ndim == 2:
        return px
    r = px[..., 0].astype(np.int64)
    g = px[..., 1].astype(np.int64)
    b = px[..., 2].astype(np.int64)
    return ((77 * r + 150 * g + 29 * b + 128) >> 8).astype(np.uint8)


def generate_images_mixed(spark: SparkSession, n: int, partitions: int = 8) -> DataFrame:
    """Mixed-container corpus — the realistic crawl mix: rows cycle
    through png / jpeg / bmp / gif / tiff (all real from-scratch
    codecs).  Pixels are the same deterministic tiles as
    ``generate_images``; the four lossless containers store them
    exactly, jpeg rows carry the usual lossy bytes with the stored
    phash computed on the decoded luma.  The MAIN corpus stays
    png/jpeg (its write-once oracle parquet depends on that mix); this
    one exists to exercise container dispatch at ingest."""
    from fagi_gis_spark.sources.bmp import encode_bmp_gray
    from fagi_gis_spark.sources.gif import encode_gif_gray
    from fagi_gis_spark.sources.tiff import encode_tiff_gray

    fmts = ("png", "jpeg", "bmp", "gif", "tiff")
    enc = {"png": encode_png_gray, "bmp": encode_bmp_gray, "gif": encode_gif_gray, "tiff": encode_tiff_gray}

    def gen(batches):
        for pdf in batches:
            out = []
            for i in pdf["i"]:
                i = int(i)
                w, h = _W_CYCLE[i % 3], _H_CYCLE[i % 3]
                fmt = fmts[i % 5]
                if fmt == "jpeg":
                    data, px_dec = _encode_row(i, w, h, "jpeg")
                else:
                    px_dec = _pixels_for(i, w, h)
                    data = enc[fmt](px_dec)
                out.append(
                    (f"mix_{i:08d}", data, w, h, fmt, caption_for(i), phash64(px_dec))
                )
            yield pd.DataFrame(
                out, columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
            )

    ids = spark.range(0, n, 1, partitions).withColumnRenamed("id", "i")
    return ids.mapInPandas(gen, schema=IMAGES_SCHEMA)


def decode_pixels(data: bytes) -> np.ndarray:
    """Decode an image payload to GRAY pixels, dispatching on the
    container magic: PNG (sources/png.py, lossless), baseline JPEG
    (sources/jpeg.py, real from-scratch T.81 decoder — gray files
    directly, color files via the full-resolution luma plane), BMP
    (sources/bmp.py), GIF incl. LZW + interlace (sources/gif.py) and
    uncompressed baseline TIFF (sources/tiff.py) are all implemented
    from scratch; WebP/audio/video remain deliberate stubs (no codec
    libs in this sandbox) — the Spark-side plumbing (binary column,
    Arrow batching, schema) is identical for any codec."""
    data = bytes(data)
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png_gray(data)
    if data[:2] == b"\xff\xd8":
        from fagi_gis_spark.sources.jpeg import decode_jpeg_gray

        return decode_jpeg_gray(data)
    if data[:2] == b"BM":
        from fagi_gis_spark.sources.bmp import decode_bmp

        return _gray_of(decode_bmp(data))
    if data[:6] in (b"GIF87a", b"GIF89a"):
        from fagi_gis_spark.sources.gif import decode_gif

        return _gray_of(decode_gif(data))
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        from fagi_gis_spark.sources.tiff import decode_tiff

        return _gray_of(decode_tiff(data))
    raise NotImplementedError(
        "codecs beyond PNG/JPEG/BMP/GIF/TIFF are stubbed in this sandbox"
    )


def try_decode_pixels(data: bytes) -> np.ndarray | None:
    """decode_pixels, but None for still-stubbed containers AND for
    malformed payloads inside a supported container (truncated entropy
    stream, bad markers, corrupt zlib) — the skip / decode_ok=false
    idiom the multimodal operators use; one corrupt row must not fail
    the whole mapInPandas task."""
    import struct
    import zlib

    try:
        return decode_pixels(data)
    except (
        NotImplementedError,
        ValueError,
        KeyError,  # JPEG with SOS before/without DHT or DQT: table lookup misses
        IndexError,
        zlib.error,
        struct.error,
    ):
        return None
