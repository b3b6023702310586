"""Streaming twins of the batch event aggregations.

Patterns per the public Structured Streaming guide: watermark + tumbling
window for late data; ``foreachBatch`` writing through the lineage layer
for exactly-once, resumable sinks (pipeline/lineage.py manifests make the
batch write idempotent, which is what foreachBatch needs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(
    stream: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """readStream source -> watermarked tumbling-window counts/sums.
    The batch twin is registry.events_windowed_agg."""
    # NTZ timestamps (parquet default) are not valid event-time columns
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window), key_col)
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
    )


def start_memory_sink(df: DataFrame, name: str, output_mode: str = "complete"):
    """Test/debug sink: drive with processAllAvailable()."""
    return (
        df.writeStream.outputMode(output_mode).format("memory").queryName(name).start()
    )


def stream_dedup(
    stream: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked streaming deduplication (the training-data pipeline's
    streaming front door for exact dedup): dropDuplicatesWithinWatermark
    keeps the first arrival per key and expires dedup state once the
    watermark passes — bounded state at any input volume, the streaming
    twin of functions.dedup.exact_dedup_keep."""
    keys = keys or ["event_id"]
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    max_gap: str = "10 minutes",
    watermark: str = "20 minutes",
) -> DataFrame:
    """Watermarked stream-stream interval join: pair each left event with
    right events of the same key within ``max_gap`` AFTER it (the
    standard Structured Streaming inner interval join — both sides
    watermarked so join state is bounded and expired by event time)."""
    l = left.withColumn(ts_col, F.col(ts_col).cast("timestamp")).withWatermark(
        ts_col, watermark
    ).alias("l")
    r = right.withColumn(ts_col, F.col(ts_col).cast("timestamp")).withWatermark(
        ts_col, watermark
    ).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{ts_col}") >= F.col(f"l.{ts_col}"))
        & (F.col(f"r.{ts_col}") <= F.col(f"l.{ts_col}") + F.expr(f"INTERVAL {max_gap}"))
    )
    return l.join(r, cond, "inner").select(
        F.col(f"l.{key}").alias(key),
        F.col(f"l.{ts_col}").alias("ts_l"),
        F.col(f"r.{ts_col}").alias("ts_r"),
        F.col("l.event_id").alias("event_l"),
        F.col("r.event_id").alias("event_r"),
    )


def stream_hex_cell_counts(
    stream: DataFrame,
    res: int = 9,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Live spatial rollup: watermarked tumbling-window counts per
    aperture-7 hex cell.  The hex assignment is the same whole-stage-
    codegen column math the batch join uses (hexgrid.hex_cell_col),
    so it applies unchanged to a readStream source; state is bounded by
    the watermark x occupied-cell count.  Hex rounding is the single
    half-up rule every surface shares (hexgrid.hex_round_np), so ids
    from this stream equi-join safely against batch/Arrow/oracle hex
    ids, exact-tie boundary points included."""
    from fagi_gis_spark.index.hexgrid import hex_cell_col

    s = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp")).withColumn(
        "cell_hex7", hex_cell_col(F.col(lon_col), F.col(lat_col), res)
    )
    return (
        s.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window), "cell_hex7")
        .agg(F.count("*").alias("n"))
    )


def stream_image_hex_rollup(
    stream: DataFrame,
    res: int = 9,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    phash_col: str = "phash",
) -> DataFrame:
    """Streaming IMAGE ingest rollup — the image-payload x streaming
    composition: a readStream of input_hint-shaped image rows (only
    ``phash`` and a timestamp are touched) is geotagged by the
    pHash-seeded synthetic lon/lat (operators/geotag.geotag_cols, pure
    JVM bit math) and rolled up into watermarked tumbling-window counts
    per aperture-7 hex cell.  Composes ``geotag_cols`` with
    ``stream_hex_cell_counts`` — every stage is whole-stage-codegen
    column arithmetic, so the batch differential is exact (same
    rounding caveat as stream_hex_cell_counts)."""
    from fagi_gis_spark.operators.geotag import geotag_cols

    lon, lat = geotag_cols(F.col(phash_col))
    s = stream.withColumn("lon", lon).withColumn("lat", lat)
    return stream_hex_cell_counts(
        s, res=res, window=window, watermark=watermark, ts_col=ts_col
    )


def stream_poi_enrich(
    stream: DataFrame,
    poi: DataFrame,
    radius_m: float = 150.0,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Stream-static geo-enrichment: each event (with coordinates) joins
    the nearest-cell POIs of a STATIC layer — the classic streaming
    dimension join.  The static side keys by its tile cell and is
    broadcast (Spark re-resolves static relations per micro-batch, so a
    slowly-refreshed POI snapshot is picked up on restart); the stream
    side explodes its ring-1 cells with the same JVM column math as the
    batch radius join, then refines by exact distance.  No stream state
    at all — the join is per-row against the dimension."""
    from fagi_gis_spark.geometry.measures import DEG_TO_M
    from fagi_gis_spark.index.tiles import _X_MULT, _Z_MULT, cell_id_col, tile_x_col, tile_y_col
    from fagi_gis_spark.operators.spatial_join import join_res_for_radius

    z = join_res_for_radius(radius_m)
    dim = poi.select(
        F.col("subject").alias("poi_id"),
        F.col("lon").alias("p_lon"),
        F.col("lat").alias("p_lat"),
    ).withColumn("cell", cell_id_col(F.col("p_lon"), F.col("p_lat"), z))

    neigh = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    tx = tile_x_col(F.col(lon_col), z)
    ty = tile_y_col(F.col(lat_col), z)
    s = (
        stream.withColumn("__o", F.explode(neigh))
        .withColumn(
            "cell",
            F.lit(z * _Z_MULT).cast("long")
            + F.pmod(tx + F.col("__o.dx"), F.lit(2**z).cast("long"))
            * F.lit(_X_MULT).cast("long")
            + (ty + F.col("__o.dy")),
        )
        .drop("__o")
    )
    joined = s.join(F.broadcast(dim), "cell", "inner")
    # wrapped dlon — same refine contract as the batch radius join's
    # _refine_and_select, so cross-seam pairs found by the x-wrapped
    # cells survive the distance filter
    dlon_abs = F.abs(F.col(lon_col) - F.col("p_lon"))
    dlon = F.least(dlon_abs, F.lit(360.0) - dlon_abs)
    dist = (
        F.sqrt(
            dlon * dlon
            + (F.col(lat_col) - F.col("p_lat")) * (F.col(lat_col) - F.col("p_lat"))
        )
        * F.lit(DEG_TO_M)
    )
    return (
        joined.withColumn("poi_dist_m", dist)
        .filter(F.col("poi_dist_m") <= radius_m)
        .drop("cell", "p_lon", "p_lat")
    )


def stream_incremental_minhash(
    stream: DataFrame,
    index_table: str,
    bands: int = 16,
    rows_per_band: int = 4,
    jaccard_threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming day-2 dedup: each ARRIVING document is checked against
    the persisted corpus MinHash index (functions.dedup.
    build_minhash_index) — the streaming twin of
    ``incremental_minhash_pairs``'s new-vs-corpus arm.  The signature
    UDF and band explode are stateless projections; both joins are
    stream-STATIC against the stored index tables (Spark re-resolves
    static relations per micro-batch), carrying the arriving doc's own
    signature through the explode so verification needs no
    stream-stream self-join.  The only state is the final per-pair
    aggregation that collapses multi-band matches (bounded by the
    number of emitted pairs).  Output (doc_n, doc_c, jaccard_est)."""
    from fagi_gis_spark.functions.dedup import (
        _band_buckets,
        _check_index_layout,
        _sig_agreement,
        minhash_signatures,
    )

    spark = stream.sparkSession
    _check_index_layout(
        spark, f"{index_table}_meta", {"bands": bands, "rows_per_band": rows_per_band}
    )
    n_perm = bands * rows_per_band
    sigs = minhash_signatures(stream, text_col=text_col, id_col=id_col)
    nb = _band_buckets(sigs, bands, rows_per_band, carry=("sig",))
    corpus_b = spark.table(f"{index_table}_buckets")
    corpus_s = spark.table(f"{index_table}_sigs")
    cand = (
        nb.withColumnRenamed("doc_id", "doc_n")
        .join(
            corpus_b.select("band", "bucket", F.col("doc_id").alias("doc_c")),
            ["band", "bucket"],
        )
        # re-ingested ids (already folded into the index) are not pairs
        .filter(F.col("doc_n") != F.col("doc_c"))
    )
    ver = cand.join(
        corpus_s.select(F.col("doc_id").alias("doc_c"), F.col("sig").alias("sig_c")),
        "doc_c",
    ).withColumn("jaccard_est", _sig_agreement(F.col("sig"), F.col("sig_c"), n_perm))
    return (
        ver.filter(F.col("jaccard_est") >= jaccard_threshold)
        .groupBy("doc_n", "doc_c")
        .agg(F.max("jaccard_est").alias("jaccard_est"))
    )


def stream_incremental_hamming(
    stream: DataFrame,
    index_table: str,
    max_hamming: int = 3,
    sig_col: str = "simhash",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming day-2 for the banded-hamming family: each ARRIVING
    64-bit signature (text SimHash or image pHash) is checked against
    the stored ``build_hamming_index`` corpus — band explode is a
    stateless projection carrying the signature, the band join is
    stream-STATIC, and the exact popcount refine runs per row; the only
    state is the per-pair aggregation collapsing multi-band matches
    (hamming is identical on every band hit, so min == the value).
    Output (doc_n, doc_c, hamming)."""
    from fagi_gis_spark.functions.dedup import _check_index_layout, _hamming_bands

    spark = stream.sparkSession
    _check_index_layout(spark, f"{index_table}_meta", {"max_hamming": max_hamming})
    sigs = stream.select(
        F.col(id_col).alias("doc_id"), F.col(sig_col).alias("simhash")
    )
    nb = _hamming_bands(sigs, max_hamming)
    corpus = spark.table(f"{index_table}_bands")
    ham = F.bit_count(F.col("h_n").bitwiseXOR(F.col("h_c")))
    return (
        nb.select("blk", "key", F.col("doc_id").alias("doc_n"), F.col("simhash").alias("h_n"))
        .join(
            corpus.select(
                "blk", "key", F.col("doc_id").alias("doc_c"), F.col("simhash").alias("h_c")
            ),
            ["blk", "key"],
        )
        # re-ingested ids (already folded into the index) are not pairs
        .filter(F.col("doc_n") != F.col("doc_c"))
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .groupBy("doc_n", "doc_c")
        .agg(F.min("hamming").alias("hamming"))
    )


def stream_exif_hex_rollup(
    stream: DataFrame,
    res: int = 9,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming EXIF ingest rollup — files arrive as (image_id, bytes,
    ts) and the geotag comes OUT OF THE BYTES: an Arrow-batched
    header-only EXIF parse (sources/exif.py — mapInPandas is stateless,
    so it applies to a readStream unchanged), then the same watermarked
    hex-cell windowed counts as the batch/stream pHash rollups.  Rows
    without a parseable EXIF GPS are dropped (the decode_ok idiom);
    state stays bounded by watermark x occupied cells."""
    import pandas as pd

    from fagi_gis_spark.sources.exif import find_exif, parse_exif

    def op(batches):
        for pdf in batches:
            rows = []
            for img_id, data, ts in zip(pdf["image_id"], pdf["bytes"], pdf[ts_col]):
                payload = find_exif(bytes(data))
                d = parse_exif(payload) if payload is not None else None
                if d is None or d["lat_microdeg"] is None or d["lon_microdeg"] is None:
                    continue
                rows.append((img_id, d["lat_microdeg"], d["lon_microdeg"], ts))
            yield pd.DataFrame(
                rows, columns=["image_id", "lat_microdeg", "lon_microdeg", ts_col]
            )

    parsed = stream.select("image_id", "bytes", ts_col).mapInPandas(
        op,
        schema=f"image_id string, lat_microdeg long, lon_microdeg long, {ts_col} timestamp",
    )
    s = parsed.withColumn("lon", F.col("lon_microdeg") / F.lit(1e6)).withColumn(
        "lat", F.col("lat_microdeg") / F.lit(1e6)
    )
    return stream_hex_cell_counts(
        s, res=res, window=window, watermark=watermark, ts_col=ts_col
    )


def stream_incremental_cosine(
    stream: DataFrame,
    index_table: str,
    threshold: float = 0.8,
    multiprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Streaming day-2 for the embedding family: each ARRIVING vector is
    checked against the stored ``build_cosine_index`` corpus.  The
    hyperplane signature is a stateless Arrow projection, the bucket
    probe (with new-side multiprobe — flip adjacency is symmetric, so
    it covers both directions) is a stream-STATIC join against the
    bucketed index, the exact integer-quantized cosine verifies per
    candidate, and the only state is the per-pair aggregation
    collapsing multi-bucket matches (cos_sim is identical on every
    hit).  Output (vec_n, vec_c, cos_sim) — DIRECTIONAL by design
    (each arriving vector reports its corpus matches, like the hamming
    twin): if a retried batch re-ingests BOTH members of an indexed
    pair, each direction appears once; the batch day-2 path
    (incremental_cosine_pairs) canonicalizes instead."""
    from fagi_gis_spark.functions.ann import _dot, hyperplane_signatures

    spark = stream.sparkSession
    meta = spark.table(f"{index_table}_meta").head()
    n_tables, bits, dim = int(meta.n_tables), int(meta.bits_per_table), int(meta.dim)
    quantize, seed = int(meta.quantize), int(meta.seed)

    base = stream.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    sig = hyperplane_signatures(
        base, n_tables=n_tables, bits_per_table=bits, dim=dim, seed=seed
    )
    # the arriving vector rides through the bucket probe (no second
    # stream branch, no stateful dedup): quantization is a pure column
    # transform — the identical rule the index build used
    qn = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") * quantize).cast("long")
    )
    sig = sig.withColumn("vn", qn).withColumn("nn2", _dot(F.col("vn"), F.col("vn")))
    if multiprobe:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << i).cast("long")) for i in range(bits)],
        )
        l = sig.select(
            F.explode(probes).alias("bucket"),
            F.col("vec_id").alias("vec_n"),
            "vn",
            "nn2",
        )
    else:
        l = sig.select("bucket", F.col("vec_id").alias("vec_n"), "vn", "nn2")
    corpus = spark.table(f"{index_table}_buckets").select(
        "bucket", F.col("vec_id").alias("vec_c")
    )
    vecs = (
        spark.table(f"{index_table}_vecs")
        .select(F.col("vec_id").alias("vec_c"), F.col("qvec").alias("vc"))
        .withColumn("nc2", _dot(F.col("vc"), F.col("vc")))
    )
    cos = _dot(F.col("vn"), F.col("vc")).cast("double") / F.sqrt(
        F.col("nn2").cast("double") * F.col("nc2").cast("double")
    )
    return (
        l.join(corpus, "bucket")
        .filter(F.col("vec_n") != F.col("vec_c"))  # re-ingested ids: no self-pairs
        .join(vecs, "vec_c")
        .withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= F.lit(threshold))
        .groupBy("vec_n", "vec_c")
        .agg(F.min("cos_sim").alias("cos_sim"))
    )


def stream_colocation(
    stream: DataFrame,
    corpus: DataFrame,
    z: int = 8,
    win_s: int = 900,
) -> DataFrame:
    """Streaming co-location: each ARRIVING event is checked against a
    STORED events corpus for same-z-cell proximity within ``win_s``
    seconds — the live arm of operators.trajectory.colocation (who was
    near the new ping?).  The arriving side carries its three exploded
    time-bucket probes as a stateless projection, the (cell, bucket)
    join is stream-STATIC (corpus never rescanned per row, no
    stream-stream state), and the exact |dt| filter refines per row;
    the only state is the per-pair count aggregation.

    Output: (user_n, user_c, n_hits) — arriving user vs corpus user
    (both orientations of a same-user pair are excluded)."""
    from fagi_gis_spark.index import tiles
    from fagi_gis_spark.operators.trajectory import with_pings

    def prep(df: DataFrame) -> DataFrame:
        return with_pings(df).select(
            "user_id",
            F.unix_timestamp("ts").alias("t"),
            tiles.cell_id_col(F.col("lon"), F.col("lat"), z).alias("cell"),
        )

    n = prep(stream)
    bn = F.floor(F.col("t") / F.lit(win_s)).cast("long")
    n = n.select(
        F.col("user_id").alias("user_n"),
        F.col("t").alias("t_n"),
        "cell",
        F.explode(F.array(bn - 1, bn, bn + 1)).alias("bkt"),
    )
    c = prep(corpus)
    c = c.select(
        F.col("user_id").alias("user_c"),
        F.col("t").alias("t_c"),
        "cell",
        F.floor(F.col("t") / F.lit(win_s)).cast("long").alias("bkt"),
    )
    return (
        n.join(c, ["cell", "bkt"])
        .filter(
            (F.col("user_n") != F.col("user_c"))
            & (F.abs(F.col("t_n") - F.col("t_c")) <= F.lit(win_s))
        )
        .groupBy("user_n", "user_c")
        .agg(F.count("*").alias("n_hits"))
    )
