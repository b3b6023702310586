"""Multimodal column operators: decode / feature-extract / resize /
frame-sample over opaque binary payloads.

Image/audio/video bytes stay an opaque ``binary`` column with typed
metadata (the input_hint shape); the operators below are Arrow-batched
``mapInPandas`` stages, so the Spark-side plumbing — schema, batching,
partition flow — is identical for any codec. PNG, JPEG (baseline +
progressive, gray + color), BMP, GIF and baseline TIFF all decode for
real (sources/{png,jpeg,bmp,gif,tiff}.py — from-scratch codecs);
WebP/audio/video payloads have no decoder here — swapping in a real
codec library changes only the kernel body, not the plan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fagi_gis_spark.sources.images import phash64, try_decode_pixels
from fagi_gis_spark.sources.png import encode_png_gray

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def decode_stats(images: DataFrame) -> DataFrame:
    """Decode every payload and emit pixel statistics + a pHash
    verification bit (decoded pHash == stored pHash). Real decode for
    PNG, baseline JPEG, BMP, GIF and baseline TIFF (all from-scratch
    codecs); containers beyond those emit decode_ok = false (stubbed)."""

    def op(batches):
        for pdf in batches:
            rows = []
            for img_id, data, ph in zip(pdf["image_id"], pdf["bytes"], pdf["phash"]):
                px = try_decode_pixels(bytes(data))
                if px is not None:
                    rows.append(
                        (
                            img_id,
                            True,
                            int(px.shape[1]),
                            int(px.shape[0]),
                            float(px.mean()),
                            float(px.std()),
                            bool(phash64(px) == ph),
                        )
                    )
                else:  # stubbed codec path: plumbing exercised, decode not
                    rows.append((img_id, False, None, None, None, None, None))
            yield pd.DataFrame(
                rows,
                columns=["image_id", "decode_ok", "dec_w", "dec_h", "px_mean", "px_std", "phash_ok"],
            )

    return images.mapInPandas(
        op,
        schema=(
            "image_id string, decode_ok boolean, dec_w int, dec_h int, "
            "px_mean double, px_std double, phash_ok boolean"
        ),
    )


def _block_mean_resize(px: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    h, w = px.shape
    ys = np.linspace(0, h, out_h + 1).astype(int)
    xs = np.linspace(0, w, out_w + 1).astype(int)
    out = np.empty((out_h, out_w), dtype=np.float64)
    for r in range(out_h):
        band = px[ys[r] : max(ys[r + 1], ys[r] + 1)]
        for c in range(out_w):
            out[r, c] = band[:, xs[c] : max(xs[c + 1], xs[c] + 1)].mean()
    return np.clip(np.floor(out + 0.5), 0, 255).astype(np.uint8)


def resize_images(images: DataFrame, out_w: int = 16, out_h: int = 16) -> DataFrame:
    """Resize (block-mean) + re-encode. Output keeps the input_hint shape
    so resized tables compose with every other operator."""

    def op(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                raw = try_decode_pixels(bytes(r.bytes))
                if raw is None:
                    continue  # still-stubbed codecs: skip (documented)
                px = _block_mean_resize(raw, out_w, out_h)
                rows.append(
                    (r.image_id, encode_png_gray(px), out_w, out_h, "png", r.caption, phash64(px))
                )
            yield pd.DataFrame(
                rows, columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
            )

    return images.mapInPandas(
        op,
        schema=(
            "image_id string, bytes binary, w int, h int, fmt string, "
            "caption string, phash long"
        ),
    )


def phash_variants(images: DataFrame) -> DataFrame:
    """Decode each image (PNG or real baseline JPEG), apply the 4-level
    quantization (a second simulated lossy re-encode), and re-hash — emits (image_id 'v:'+id, phash) for
    the perturbed copy. The full decode -> transform -> perceptual-hash
    loop runs inside one mapInPandas batch (Arrow in, Arrow out)."""
    import numpy as np
    import pandas as pd

    def op(batches):
        for pdf in batches:
            rows = []
            for img_id, data in zip(pdf["image_id"], pdf["bytes"]):
                px = try_decode_pixels(bytes(data))
                if px is None:
                    continue  # still-stubbed codecs (decode_stats idiom)
                q = ((px.astype(np.int32) // 4) * 4 + 2).clip(0, 255).astype(np.uint8)
                rows.append(("v:" + img_id, phash64(q)))
            yield pd.DataFrame(rows, columns=["image_id", "phash"])

    return images.select("image_id", "bytes").mapInPandas(
        op, schema="image_id string, phash long"
    )


def phash_neardup_pairs(images: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Perceptual near-duplicate pairs over an image corpus: original
    pHashes unioned with their decoded-and-requantized variants, then
    the banded 64-bit hamming join (``max_hamming + 1`` blocks ->
    pigeonhole-complete recall at the advertised threshold, exact
    popcount refine) — the image-payload twin of SimHash text dedup."""
    from fagi_gis_spark.functions.dedup import simhash_near_pairs

    sigs = images.select("image_id", "phash").unionByName(phash_variants(images))
    renamed = sigs.select(
        F.col("image_id").alias("doc_id"), F.col("phash").alias("simhash")
    )
    return simhash_near_pairs(renamed, max_hamming=max_hamming).withColumnsRenamed(
        {"doc_a": "image_a", "doc_b": "image_b"}
    )


def _label_components(mask: np.ndarray) -> np.ndarray:
    """4-connectivity connected-component labels for a boolean raster:
    run-length union-find — rows decompose into horizontal runs (one
    vectorized np.diff per row), runs union with the previous row's
    column-overlapping runs.  The Python loop iterates RUNS, not pixels
    (orders of magnitude fewer on blobby masks)."""
    h, w = mask.shape
    parent: list[int] = []

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    row_runs: list[list[tuple[int, int, int]]] = []
    for y in range(h):
        r = mask[y]
        diff = np.diff(r.astype(np.int8))
        starts = (np.nonzero(diff == 1)[0] + 1).tolist()
        ends = (np.nonzero(diff == -1)[0] + 1).tolist()
        if r[0]:
            starts = [0] + starts
        if r[-1]:
            ends = ends + [w]
        ids = []
        for s0, e0 in zip(starts, ends):
            parent.append(len(parent))
            ids.append((len(parent) - 1, s0, e0))
        if y and ids and row_runs[-1]:
            for rid, s0, e0 in ids:
                for pid, ps, pe in row_runs[-1]:
                    if ps < e0 and s0 < pe:  # column ranges overlap
                        ra, rb = find(rid), find(pid)
                        if ra != rb:
                            parent[max(ra, rb)] = min(ra, rb)
        row_runs.append(ids)
    labels = np.zeros((h, w), dtype=np.int32)
    for y, ids in enumerate(row_runs):
        for rid, s0, e0 in ids:
            labels[y, s0:e0] = find(rid) + 1
    return labels


def raster_to_vector(
    images: DataFrame,
    threshold: int = 128,
    min_pixels: int = 4,
    cell_size_deg: float = 1e-6,
) -> DataFrame:
    """Raster -> vector (the north star's missing direction): decode each
    image, threshold to a bright-pixel mask, label 4-connected
    components, and emit each component as a POLYGON (its pixel bbox)
    georeferenced in the image's pHash-geotag frame (pixel (0,0) at the
    geotag, ``cell_size_deg`` per pixel).  Output rows
    (image_id, component_id, n_pixels, geom_wkt, lon, lat) feed straight
    into the vector operators (PIP, tiling, radius joins).  One
    mapInPandas pass, Arrow in/out."""
    import pandas as pd

    from fagi_gis_spark.operators.geotag import geotag_cols

    g = images.withColumns(
        dict(zip(("g_lon", "g_lat"), geotag_cols(F.col("phash"))))
    ).select("image_id", "bytes", "g_lon", "g_lat")

    def op(batches):
        for pdf in batches:
            rows = []
            for img_id, data, g_lon, g_lat in zip(
                pdf["image_id"], pdf["bytes"], pdf["g_lon"], pdf["g_lat"]
            ):
                px = try_decode_pixels(bytes(data))
                if px is None:
                    continue  # still-stubbed codecs (decode_stats idiom)
                labels = _label_components(px >= threshold)
                # single pass: group foreground pixels by label via argsort
                fys, fxs = np.nonzero(labels)
                lab = labels[fys, fxs]
                order = np.argsort(lab, kind="stable")
                lab, fys, fxs = lab[order], fys[order], fxs[order]
                bounds = np.nonzero(np.diff(lab))[0] + 1
                for ys, xs in zip(np.split(fys, bounds), np.split(fxs, bounds)):
                    if len(ys) < min_pixels:
                        continue
                    comp = int(labels[ys[0], xs[0]])
                    x0 = g_lon + float(xs.min()) * cell_size_deg
                    x1 = g_lon + float(xs.max() + 1) * cell_size_deg
                    y0 = g_lat + float(ys.min()) * cell_size_deg
                    y1 = g_lat + float(ys.max() + 1) * cell_size_deg
                    wkt = (
                        f"POLYGON (({x0:.9f} {y0:.9f}, {x1:.9f} {y0:.9f}, "
                        f"{x1:.9f} {y1:.9f}, {x0:.9f} {y1:.9f}, {x0:.9f} {y0:.9f}))"
                    )
                    rows.append(
                        (
                            img_id,
                            int(comp),
                            int(len(ys)),
                            wkt,
                            (x0 + x1) / 2.0,
                            (y0 + y1) / 2.0,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["image_id", "component_id", "n_pixels", "geom_wkt", "lon", "lat"],
            )

    return g.mapInPandas(
        op,
        schema="image_id string, component_id int, n_pixels int, "
        "geom_wkt string, lon double, lat double",
    )


def exif_geotags(images: DataFrame) -> DataFrame:
    """Parse the EXIF APP1 / eXIf payload out of each image's BYTES and
    return the embedded geotag + camera metadata — the realistic inverse
    of the pHash-seeded synthetic geotag: real corpora arrive with the
    coordinate already inside the file (JEITA EXIF GPS IFD), and the
    engine's job is to surface it as columns for the spatial joins.

    Header-only work: ``find_exif`` walks the segment/chunk table (never
    entropy data), so each row costs a ~200-byte scan regardless of image
    size — Arrow-batched ``mapInPandas``, scales with partitions.  Rows
    without EXIF (or with unparseable TIFF) keep their id with null
    fields, the decode_ok=false idiom.

    Coordinates come back as EXACT micro-degree integers (the generator
    writes deg/min rationals with integer numerators — sources/exif.py
    exactness contract), so downstream cell assignment is bit-stable.
    """
    from fagi_gis_spark.sources.exif import find_exif, parse_exif

    def op(batches):
        for pdf in batches:
            rows = []
            for img_id, data in zip(pdf["image_id"], pdf["bytes"]):
                payload = find_exif(bytes(data))
                d = parse_exif(payload) if payload is not None else None
                if d is None:
                    rows.append((img_id, None, None, None, None))
                else:
                    rows.append(
                        (
                            img_id,
                            d["lat_microdeg"],
                            d["lon_microdeg"],
                            d["orientation"],
                            d["datetime"],
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_id",
                    "lat_microdeg",
                    "lon_microdeg",
                    "orientation",
                    "exif_datetime",
                ],
            )

    return images.select("image_id", "bytes").mapInPandas(
        op,
        schema="image_id string, lat_microdeg long, lon_microdeg long, "
        "orientation int, exif_datetime string",
    )


def quality_stats(images: DataFrame) -> DataFrame:
    """Per-image quality signals for corpus filtering — the image-side
    analog of functions/text.doc_quality (length/punct/stopword gates):

    - ``lap_var``: variance of the 4-neighbour Laplacian — the classic
      blur detector (low = out-of-focus / flat).
    - ``entropy_bits``: Shannon entropy of the 256-bin intensity
      histogram (low = synthetic / near-constant content).
    - ``clip_dark`` / ``clip_bright``: fraction of pixels at the
      exposure rails (<= 2 / >= 253) — over/under-exposure detectors.
    - ``rms_contrast``: intensity standard deviation.
    - ``quality_ok``: the composed gate (thresholds in the column expr
      below, tunable per corpus).

    All kernels are whole-image numpy slices inside Arrow batches — no
    per-pixel Python.  Rows whose payload doesn't decode emit
    decode_ok=false with null stats (skip idiom), so one corrupt file
    never fails the task."""

    def op(batches):
        for pdf in batches:
            rows = []
            for img_id, data in zip(pdf["image_id"], pdf["bytes"]):
                px = try_decode_pixels(bytes(data))
                if px is None:
                    rows.append((img_id, False, None, None, None, None, None))
                    continue
                f = px.astype(np.float64)
                if px.shape[0] >= 3 and px.shape[1] >= 3:
                    lap = (
                        f[1:-1, :-2]
                        + f[1:-1, 2:]
                        + f[:-2, 1:-1]
                        + f[2:, 1:-1]
                        - 4.0 * f[1:-1, 1:-1]
                    )
                    lap_var = float(lap.var())
                else:  # too small for an interior — report unblurrable
                    lap_var = 0.0
                hist = np.bincount(px.reshape(-1), minlength=256)
                p = hist[hist > 0] / px.size
                entropy = float(-(p * np.log2(p)).sum())
                rows.append(
                    (
                        img_id,
                        True,
                        lap_var,
                        entropy,
                        float((px <= 2).mean()),
                        float((px >= 253).mean()),
                        float(f.std()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_id",
                    "decode_ok",
                    "lap_var",
                    "entropy_bits",
                    "clip_dark",
                    "clip_bright",
                    "rms_contrast",
                ],
            )

    stats = images.select("image_id", "bytes").mapInPandas(
        op,
        schema="image_id string, decode_ok boolean, lap_var double, "
        "entropy_bits double, clip_dark double, clip_bright double, "
        "rms_contrast double",
    )
    gate = (
        F.col("decode_ok")
        & (F.col("lap_var") >= F.lit(25.0))
        & (F.col("entropy_bits") >= F.lit(3.0))
        & (F.col("clip_dark") <= F.lit(0.5))
        & (F.col("clip_bright") <= F.lit(0.5))
    )
    return stats.withColumn("quality_ok", gate)


def _apply_orientation(px: np.ndarray, orientation: int) -> np.ndarray:
    """EXIF orientation -> upright pixels (TIFF/EXIF tag 274 semantics:
    the tag names the transform that maps STORED pixels to display)."""
    o = orientation or 1
    if o == 2:
        return px[:, ::-1]
    if o == 3:
        return px[::-1, ::-1]
    if o == 4:
        return px[::-1, :]
    if o == 5:
        return px.T
    if o == 6:
        return np.rot90(px, k=3)  # 90 deg clockwise
    if o == 7:
        return np.rot90(px, k=2).T
    if o == 8:
        return np.rot90(px, k=1)  # 90 deg counter-clockwise
    return px


def orientation_normalize(images: DataFrame) -> DataFrame:
    """Upright every image per its EXIF orientation tag — the mandatory
    ingest step before perceptual hashing (a rotated duplicate hashes
    differently; after normalization it doesn't).  Parses the tag from
    the BYTES (sources/exif.py), applies the 8-case transform to the
    decoded gray pixels, re-encodes PNG, and emits the normalized pHash
    next to the original.  Rows without EXIF pass through as
    orientation 1."""
    from fagi_gis_spark.sources.exif import find_exif, parse_exif

    def op(batches):
        for pdf in batches:
            rows = []
            for img_id, data, ph in zip(pdf["image_id"], pdf["bytes"], pdf["phash"]):
                raw = bytes(data)
                px = try_decode_pixels(raw)
                if px is None:
                    rows.append((img_id, None, None, None, None, None))
                    continue
                payload = find_exif(raw)
                meta = parse_exif(payload) if payload is not None else None
                o = (meta or {}).get("orientation") or 1
                up = np.ascontiguousarray(_apply_orientation(px, o))
                rows.append(
                    (
                        img_id,
                        int(o),
                        encode_png_gray(up),
                        int(up.shape[1]),
                        int(up.shape[0]),
                        int(phash64(up)),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["image_id", "orientation", "bytes", "w", "h", "phash_upright"],
            )

    return images.select("image_id", "bytes", "phash").mapInPandas(
        op,
        schema="image_id string, orientation int, bytes binary, "
        "w int, h int, phash_upright long",
    )


def gif_frame_sample(images: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL frame sampling over animated GIF payloads: decode every
    frame (sources/gif.decode_gif_frames — composited canvases honoring
    disposal/transparency), keep every ``every_n``-th, re-encode each
    kept frame as PNG — the full decode -> sample -> re-encode arrow.
    Non-GIF / corrupt payloads skip (decode_ok idiom)."""
    from fagi_gis_spark.sources.gif import decode_gif_frames
    from fagi_gis_spark.sources.images import _gray_of

    def op(batches):
        for pdf in batches:
            rows = []
            for img_id, data in zip(pdf["image_id"], pdf["bytes"]):
                raw = bytes(data)
                if raw[:6] not in (b"GIF87a", b"GIF89a"):
                    continue
                try:
                    frames = decode_gif_frames(raw)
                except (ValueError, IndexError, struct.error):
                    continue
                for idx in range(0, len(frames), every_n):
                    px = _gray_of(frames[idx])
                    rows.append((img_id, idx, len(frames), encode_png_gray(px)))
            yield pd.DataFrame(
                rows, columns=["image_id", "frame_idx", "n_frames", "frame_png"]
            )

    import struct

    return images.select("image_id", "bytes").mapInPandas(
        op,
        schema="image_id string, frame_idx int, n_frames int, frame_png binary",
    )


def audio_stats(audio: DataFrame) -> DataFrame:
    """Audio feature extraction over opaque WAV payloads — the audio
    column's REAL decode path (sources/wav.py: RIFF/PCM needs no codec
    library): duration, RMS level, peak, zero-crossing rate and channel
    count per clip, all vectorized numpy over the decoded sample matrix.
    Compressed audio stays behind the decode_ok=false idiom."""
    from fagi_gis_spark.sources.wav import decode_wav

    def op(batches):
        import struct

        for pdf in batches:
            rows = []
            for clip_id, data in zip(pdf["clip_id"], pdf["bytes"]):
                try:
                    samples, rate = decode_wav(bytes(data))
                except (ValueError, struct.error, IndexError):
                    rows.append((clip_id, False, None, None, None, None, None))
                    continue
                f = samples.astype(np.float64)
                if samples.dtype == np.uint8:
                    f -= 128.0
                mono = f.mean(axis=1)
                zc = 0.0
                if len(mono) > 1:
                    zc = float((np.signbit(mono[1:]) != np.signbit(mono[:-1])).mean())
                rows.append(
                    (
                        clip_id,
                        True,
                        float(len(samples) / rate),
                        float(np.sqrt((f**2).mean())),
                        float(np.abs(f).max()) if f.size else 0.0,
                        zc,
                        int(samples.shape[1]),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "clip_id",
                    "decode_ok",
                    "duration_s",
                    "rms",
                    "peak",
                    "zero_cross_rate",
                    "channels",
                ],
            )

    return audio.select("clip_id", "bytes").mapInPandas(
        op,
        schema="clip_id string, decode_ok boolean, duration_s double, "
        "rms double, peak double, zero_cross_rate double, channels int",
    )


#: Haitsma-Kalker band grid: 17 logarithmically spaced edges-to-2kHz
#: bands starting at 300 Hz (the published scheme's speech-robust range)
#: -> 16 band-deltas; 5 frames -> 4 frame-deltas; 4 x 16 = exactly 64
#: bits per clip
_AFP_BAND_EDGES = np.geomspace(300.0, 2000.0, 18)
_AFP_FRAMES = 5


def audio_fingerprint(audio: DataFrame) -> DataFrame:
    """(clip_id, fp): clip-level 64-bit perceptual audio fingerprint.

    The Haitsma & Kalker (ISMIR 2002) energy-difference scheme at fixed
    clip granularity: the decoded mono signal splits into 5 equal Hann
    frames, each frame's power spectrum integrates into 17 log-spaced
    bands (300-2000 Hz), and bit (n, m) = sign of the band-delta's
    frame-delta, (E[n,m]-E[n,m+1]) - (E[n-1,m]-E[n-1,m+1]) > 0 — 4x16
    = 64 bits packed big-endian.  Sign-of-difference bits are invariant
    to uniform amplitude scaling and robust to small additive noise, so
    re-ingested/re-mastered copies land within a small hamming distance
    and the SAME banded-hamming machinery as text SimHash / image pHash
    (functions/dedup.simhash_near_pairs) finds them.  Undecodable or
    <10-sample clips are skipped (decode_stats idiom)."""
    from fagi_gis_spark.sources.wav import decode_wav

    def op(batches):
        import struct

        for pdf in batches:
            rows = []
            for clip_id, data in zip(pdf["clip_id"], pdf["bytes"]):
                try:
                    samples, rate = decode_wav(bytes(data))
                except (ValueError, struct.error, IndexError):
                    continue
                x = samples.astype(np.float64)
                if samples.dtype == np.uint8:
                    x -= 128.0
                mono = x.mean(axis=1)
                if len(mono) < 2 * _AFP_FRAMES:
                    continue
                flen = len(mono) // _AFP_FRAMES
                E = np.empty((_AFP_FRAMES, 17))
                for fi in range(_AFP_FRAMES):
                    seg = mono[fi * flen : (fi + 1) * flen]
                    spec = np.abs(np.fft.rfft(seg * np.hanning(len(seg)))) ** 2
                    freqs = np.fft.rfftfreq(len(seg), 1.0 / rate)
                    idx = np.searchsorted(_AFP_BAND_EDGES, freqs, side="right")
                    E[fi] = np.bincount(idx, weights=spec, minlength=19)[1:18]
                d = E[:, :-1] - E[:, 1:]  # (5, 16) spectral deltas
                bits = (d[1:] - d[:-1]) > 0  # (4, 16) their temporal deltas
                fp = np.uint64(0)
                for b in bits.ravel():
                    fp = (fp << np.uint64(1)) | np.uint64(bool(b))
                rows.append((clip_id, int(fp.astype(np.int64))))
            yield pd.DataFrame(rows, columns=["clip_id", "fp"])

    return audio.select("clip_id", "bytes").mapInPandas(
        op, schema="clip_id string, fp long"
    )


def video_fingerprint(videos: DataFrame) -> DataFrame:
    """(clip_id, fp): clip-level 64-bit video signature — the per-frame
    perceptual pHash folded per-BIT by strict majority over the frames
    (bit set iff more than half the frames set it), the standard
    frame-vote fingerprint: a dropped/added frame moves few majorities
    (drop-1-of-4 measures hamming <= 10 on the synthetic corpus) and
    per-frame requantization moves fewer (<= 5), while unrelated
    animations measure >= 19 — so the SAME banded-hamming machinery as
    text/image/audio finds re-ingested edits.  GIF is the real decode
    path (sources/gif.decode_gif_frames, composited canvases);
    undecodable rows are skipped (decode_stats idiom)."""
    from fagi_gis_spark.sources.gif import decode_gif_frames
    from fagi_gis_spark.sources.images import phash64

    def op(batches):
        import struct

        for pdf in batches:
            rows = []
            for clip_id, data in zip(pdf["clip_id"], pdf["bytes"]):
                try:
                    frames = decode_gif_frames(bytes(data))
                except (ValueError, struct.error, IndexError):
                    continue
                if not frames:
                    continue
                phs = np.array(
                    [phash64(f) for f in frames], dtype=np.int64
                ).view(np.uint64)
                ones = (
                    (phs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
                ).sum(axis=0)
                fp = 0
                for b in range(64):
                    if int(ones[b]) * 2 > len(phs):
                        fp |= 1 << b
                if fp >= 1 << 63:  # reinterpret as signed int64
                    fp -= 1 << 64
                rows.append((clip_id, fp))
            yield pd.DataFrame(rows, columns=["clip_id", "fp"])

    return videos.select("clip_id", "bytes").mapInPandas(
        op, schema="clip_id string, fp long"
    )


def shard_pack(
    df: DataFrame,
    budget_bytes: int,
    cell_col: str = "cell_hex7",
    id_col: str = "image_id",
    size_col: str = "nbytes",
) -> DataFrame:
    """Greedy byte-budget shard planning per spatial cell — the
    webdataset/TFRecord shard layout step of a multimodal training
    pipeline, keyed by WHERE the data is (images of one place train and
    evict together) instead of ``pack_documents``'s id ranges.  Files
    pack in ``id_col`` order within each cell: a file joins the current
    shard if it fits, else opens the next one; a file larger than the
    budget gets a shard of its own (files don't truncate like token
    streams do).  One shuffle on the cell id; each cell packs in a
    single Arrow batch, so the greedy scan parallelizes over cells
    while staying deterministic — at 10^12 images the per-task bound is
    the densest CELL, not the corpus (pick the cell resolution like a
    partition size; hot cells are a data-layout fact the planner sees,
    not a shuffle-skew accident).  Output (cell, file id, size,
    shard_id); shard ids restart per cell, so the global shard key is
    (cell, shard_id).

    Reference analog: the engine-side substitute for FAGI's per-dataset
    bulk export (DatasetExporter batches links into fixed-size files,
    fagi-gis VirtuosoImporter.java download path) — done spatially."""
    budget = int(budget_bytes)

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        shards = np.zeros(len(pdf), dtype=np.int64)
        shard = 0
        fill = 0
        for i, nb in enumerate(pdf[size_col].to_numpy()):
            if fill and fill + nb > budget:
                shard += 1
                fill = 0
            fill += int(nb)
            shards[i] = shard
        out = pdf[[cell_col, id_col, size_col]].copy()
        out["shard_id"] = shards
        return out

    return (
        df.select(
            F.col(cell_col).cast("long").alias(cell_col),
            F.col(id_col),
            F.col(size_col).cast("long").alias(size_col),
        )
        .groupBy(cell_col)
        .applyInPandas(
            pack,
            schema=f"{cell_col} long, {id_col} string, {size_col} long, shard_id long",
        )
    )
