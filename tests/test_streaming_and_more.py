"""Structured Streaming smoke (windowed agg over the events table driven
to completion with the memory sink), schema matching, literal typing,
multimodal ops, write-back."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_streaming_windowed_agg(spark, tmp_path):
    """readStream -> watermark -> window agg -> memory sink; results must
    equal the batch twin (events_windowed_agg uses the same 5-min window)."""
    batch = spark.read.parquet(f"{SF}/events.parquet")
    stream = (
        spark.readStream.schema(batch.schema).parquet(f"{SF}")
    )
    # the sf dir has other parquet files; restrict via file name is not
    # possible with dir source — re-stage the events file alone
    src = str(tmp_path / "events_src")
    batch.write.mode("overwrite").parquet(src)
    from fagi_gis_spark.streaming.windowed import start_memory_sink, windowed_event_counts

    stream = spark.readStream.schema(batch.schema).parquet(src)
    agg = windowed_event_counts(stream)
    q = start_memory_sink(agg, "ev_out", output_mode="complete")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT event_type, sum(n) AS n FROM ev_out GROUP BY event_type")
    expect = batch.groupBy("event_type").agg(F.count("*").alias("n"))
    g = {r.event_type: r.n for r in got.collect()}
    e = {r.event_type: r.n for r in expect.collect()}
    assert g == e and len(e) > 0


def test_schema_match_aligns_vocabularies(spark):
    from fagi_gis_spark.operators.schema_match import schema_match
    from fagi_gis_spark.registry import layers

    L = layers(spark, SF)
    picks = schema_match(L["links"], L["triples_a"], L["triples_b"])
    matched = {(p["chain_a"], p["chain_b"]) for p in picks}
    # addr->street chain aligns with address->street chain (shared 'street')
    assert (
        "http://a.example/addr,http://a.example/street",
        "http://b.example/address,http://b.example/street",
    ) in matched
    # rdf:type aligns with rdf:type
    assert any("rdf-syntax-ns#type" in a and "rdf-syntax-ns#type" in b for a, b in matched)


def test_literal_typing_classes():
    from fagi_gis_spark.functions.typing import infer_type_py

    assert infer_type_py("42") == "int"
    assert infer_type_py("-3.25") == "decimal"
    assert infer_type_py("2024-03-05") == "date"
    assert infer_type_py("cafe") == "word"
    assert infer_type_py("poi 12 cafe") == "text"
    assert infer_type_py(None) == "text"


def test_multimodal_decode_and_resize(spark):
    from fagi_gis_spark.operators.multimodal import decode_stats, resize_images
    from fagi_gis_spark.sources.images import decode_pixels, generate_images, generate_images_pdf
    from fagi_gis_spark.sources.png import decode_png_gray

    images = generate_images(spark, 30, partitions=2)
    stats = decode_stats(images).toPandas().set_index("image_id")
    assert stats.decode_ok.all()  # PNG and real-JPEG rows all decode
    assert stats.phash_ok.all()
    # differential: px_mean equals local numpy mean of the same pixels
    # (decode_pixels dispatches on the container: PNG or baseline JPEG)
    pdf = generate_images_pdf(30)
    for _, r in pdf.head(5).iterrows():
        local = decode_pixels(bytes(r.bytes)).mean()
        assert stats.loc[r.image_id, "px_mean"] == pytest.approx(local, abs=1e-9)

    resized = resize_images(images, 8, 8).toPandas()
    assert (resized.w == 8).all() and (resized.h == 8).all()
    px = decode_png_gray(bytes(resized.iloc[0]["bytes"]))
    assert px.shape == (8, 8)


def test_frame_sample_stub(spark):
    from fagi_gis_spark.operators.multimodal import frame_sample

    videos = spark.createDataFrame(
        pd.DataFrame({"video_id": ["v1", "v2"], "n_frames": [25, 5]})
    )
    out = frame_sample(videos, every_n=10).toPandas()
    assert sorted(out[out.video_id == "v1"].frame_idx) == [0, 10, 20]
    assert sorted(out[out.video_id == "v2"].frame_idx) == [0]
    assert out.frame_png.map(lambda b: bytes(b)[:8]).eq(b"\x89PNG\r\n\x1a\n").all()


def test_writeback_replaces_geo_triples(spark):
    from fagi_gis_spark.operators.writeback import GEO_WKT_PRED, write_back
    from fagi_gis_spark.registry import layers
    from fagi_gis_spark.operators.fusion import fuse_all

    L = layers(spark, SF)
    # seed the triple layer with an OLD geometry triple for a fused subject
    old = spark.createDataFrame(
        pd.DataFrame(
            {
                "subject": ["a:1", "a:1"],
                "predicate": ["http://a.example/name", GEO_WKT_PRED],
                "object": ["keepme", "POINT (0 0)"],
            }
        )
    )
    fused = fuse_all(L["links"], L["poi_a"], L["poi_b"], "keep_a")
    out = write_back(old, fused, dominant="a").toPandas()
    mine = out[out.subject == "a:1"]
    assert "keepme" in set(mine.object)  # non-geo triple kept
    assert "POINT (0 0)" not in set(mine.object)  # old geometry deleted
    assert (mine.predicate == GEO_WKT_PRED).sum() == 1  # new geometry present


def test_shift_with_rotation_and_scale_matches_local_replay(spark):
    """Full ShiftAToB pipeline with non-default params (rotate 30deg,
    scale 1.5, shift 40%) vs a local numpy replay of
    GeomRotate -> GeomResize -> ST_Translate (ShiftAToB.java:200-213)."""
    import math

    import numpy as np

    from fagi_gis_spark.geometry.affine import rotate_about, scale_about, translate
    from fagi_gis_spark.geometry.measures import centroid
    from fagi_gis_spark.geometry.wkt import parse_wkt
    from fagi_gis_spark.operators.fusion import FusionParams, fuse_all, linked_pairs
    from fagi_gis_spark.registry import layers

    L = layers(spark, SF)
    params = FusionParams(shift_pct=40.0, rotate_deg=30.0, scale_f=1.5)
    sample = (
        linked_pairs(L["links"], L["poi_a"], L["poi_b"])
        .limit(50)
        .select("subject_a", "subject_b", "wkt_a", "wkt_b")
        .toPandas()
    )
    got = (
        fuse_all(L["links"], L["poi_a"], L["poi_b"], "shift_a_to_b", params)
        .join(
            spark.createDataFrame(sample[["subject_a", "subject_b"]]),
            ["subject_a", "subject_b"],
            "left_semi",
        )
        .toPandas()
        .set_index(["subject_a", "subject_b"])
    )
    for _, r in sample.iterrows():
        g = parse_wkt(r.wkt_a)
        cs = centroid(g)
        cd = centroid(parse_wkt(r.wkt_b))
        g = rotate_about(g, math.radians(30.0))
        g = scale_about(g, 1.5, 1.5)
        g = translate(g, 0.4 * (cd[0] - cs[0]), 0.4 * (cd[1] - cs[1]))
        expect = centroid(g)
        got_wkt = got.loc[(r.subject_a, r.subject_b), "geom_wkt"]
        if isinstance(got_wkt, pd.Series):  # duplicate-target links
            got_wkt = got_wkt.iloc[0]
        actual = centroid(parse_wkt(got_wkt))
        np.testing.assert_allclose(actual, expect, atol=2e-9)


def test_streaming_dedup_matches_batch(spark, tmp_path):
    """stream_dedup over a file source with injected duplicate rows must
    keep exactly one row per event_id — same key set as batch
    dropDuplicates."""
    import shutil

    from fagi_gis_spark.streaming.windowed import stream_dedup

    batch = spark.read.parquet(f"{SF}/events.parquet").limit(500)
    dup = batch.limit(120)  # duplicates arriving again
    src = str(tmp_path / "dedup_src")
    batch.unionByName(dup).repartition(4).write.parquet(src)

    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        stream_dedup(stream, keys=["event_id"])
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_sink")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT event_id FROM dedup_sink").toPandas()
    expect = batch.select("event_id").distinct().toPandas()
    assert sorted(got.event_id) == sorted(expect.event_id)
    assert got.event_id.is_unique


def test_stream_interval_join_matches_batch(spark, tmp_path):
    """The streaming interval join must produce the same pair set as the
    equivalent batch join over the same files."""
    from pyspark.sql import functions as F

    from fagi_gis_spark.streaming.windowed import stream_interval_join

    batch = spark.read.parquet(f"{SF}/events.parquet").limit(400)
    src = str(tmp_path / "ij_src")
    batch.repartition(2).write.parquet(src)

    ls = spark.readStream.schema(batch.schema).parquet(src)
    rs = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        stream_interval_join(ls, rs)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ij_sink")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT event_l, event_r FROM ij_sink").toPandas()

    b = batch.withColumn("ts", F.col("ts").cast("timestamp"))
    l, r = b.alias("l"), b.alias("r")
    expect = (
        l.join(
            r,
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.ts") >= F.col("l.ts"))
            & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 10 minutes")),
            "inner",
        )
        .select(F.col("l.event_id").alias("event_l"), F.col("r.event_id").alias("event_r"))
        .toPandas()
    )
    key = lambda df: sorted(map(tuple, df.itertuples(index=False)))
    assert key(got) == key(expect)
    assert len(expect) > 0


def test_stream_hex_cell_counts_matches_batch(spark, tmp_path):
    """Streaming hex-cell rollup == batch groupBy on the same events
    (coords hash-synthesized from event_id, the layers' lattice trick)."""
    from fagi_gis_spark.index.hexgrid import hex_cell_col
    from fagi_gis_spark.streaming.windowed import (
        start_memory_sink,
        stream_hex_cell_counts,
    )

    batch = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id",
        "ts",
        ((F.col("event_id") * 2654435761 % 2000000 - 1000000) / 1e6).alias("lon"),
        (F.lit(50.0) + (F.col("event_id") * 2246822519 % 2000000) / 1e6).alias("lat"),
    )
    src = str(tmp_path / "events_geo_src")
    batch.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    agg = stream_hex_cell_counts(stream)
    q = start_memory_sink(agg, "hex_out", output_mode="complete")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.cell_hex7, r.n)
        for r in spark.sql(
            "SELECT cell_hex7, sum(n) AS n FROM hex_out GROUP BY cell_hex7"
        ).collect()
    }
    expect = {
        (r.cell_hex7, r.n)
        for r in batch.withColumn("cell_hex7", hex_cell_col(F.col("lon"), F.col("lat"), 9))
        .groupBy("cell_hex7")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == expect and len(expect) > 10


def test_stream_image_hex_rollup_matches_batch(spark, tmp_path):
    """Streaming image ingest (the image-payload x streaming cell):
    pHash-geotagged hex rollup over a readStream of input_hint image
    rows equals the batch geotag + groupBy on the same rows."""
    from fagi_gis_spark.operators.geotag import geotag_cols
    from fagi_gis_spark.index.hexgrid import hex_cell_col
    from fagi_gis_spark.sources.images import generate_images
    from fagi_gis_spark.streaming.windowed import (
        start_memory_sink,
        stream_image_hex_rollup,
    )

    batch = generate_images(spark, 300, partitions=4).select(
        "image_id",
        "phash",
        F.timestamp_seconds(
            F.lit(1700000000) + F.abs(F.hash("image_id")) % 3600
        ).alias("ts"),
    )
    src = str(tmp_path / "images_stream_src")
    batch.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    agg = stream_image_hex_rollup(stream)
    q = start_memory_sink(agg, "img_hex_out", output_mode="complete")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.cell_hex7, r.n)
        for r in spark.sql(
            "SELECT cell_hex7, sum(n) AS n FROM img_hex_out GROUP BY cell_hex7"
        ).collect()
    }
    lon, lat = geotag_cols(F.col("phash"))
    geo = batch.withColumn("lon", lon).withColumn("lat", lat)
    expect = {
        (r.cell_hex7, r.n)
        for r in geo.withColumn("cell_hex7", hex_cell_col(F.col("lon"), F.col("lat"), 9))
        .groupBy("cell_hex7")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == expect and len(expect) > 10


def test_stream_poi_enrich_matches_batch(spark, tmp_path):
    """Stream-static geo-enrichment: per-event POI matches from the
    streaming join equal the batch radius join on the same rows."""
    from fagi_gis_spark.operators.spatial_join import radius_join
    from fagi_gis_spark.registry import layers
    from fagi_gis_spark.streaming.windowed import start_memory_sink, stream_poi_enrich

    L = layers(spark, SF)
    poi = L["poi_a"].select("subject", "lon", "lat")
    events = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id",
        ((F.col("event_id") * 2654435761 % 2000000 - 1000000) / 1e6).alias("lon"),
        (F.lit(50.0) + (F.col("event_id") * 2246822519 % 2000000) / 1e6).alias("lat"),
    )
    # cross-seam pair: event just west of +180, POI just east of -180 —
    # the wrapped refine must keep it (the batch join does)
    seam_event = spark.createDataFrame(
        [(999999999, 179.9995, 50.5)], "event_id long, lon double, lat double"
    )
    events = events.unionByName(seam_event)
    poi = poi.unionByName(
        spark.createDataFrame(
            [("seam_poi", -179.9995, 50.5)], "subject string, lon double, lat double"
        )
    )
    src = str(tmp_path / "events_enrich_src")
    events.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    q = start_memory_sink(
        stream_poi_enrich(stream, poi, radius_m=500.0), "enrich_out", output_mode="append"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.event_id, r.poi_id)
        for r in spark.sql("SELECT event_id, poi_id FROM enrich_out").collect()
    }
    expect = {
        (r.l_key, r.r_key)
        for r in radius_join(
            events, poi, 500.0, left_cols=("event_id", "lon", "lat")
        )
        .select("l_key", "r_key")
        .collect()
    }
    assert got == expect and len(expect) > 0


def test_stream_incremental_minhash_matches_batch(spark, tmp_path):
    """Streaming day-2 dedup: arriving documents checked against the
    persisted corpus index must emit exactly the batch incremental
    path's new-vs-corpus pairs (same jaccard_est)."""
    import shutil

    from fagi_gis_spark.functions.dedup import (
        build_minhash_index,
        incremental_minhash_pairs,
        minhash_signatures,
    )
    from fagi_gis_spark.streaming.windowed import (
        start_memory_sink,
        stream_incremental_minhash,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    for t in ("stream_mh_idx_buckets", "stream_mh_idx_sigs", "stream_mh_idx_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    build_minhash_index(minhash_signatures(corpus), "stream_mh_idx")

    src = str(tmp_path / "docs_stream_src")
    new.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(new.schema).parquet(src)
    pairs = stream_incremental_minhash(
        stream, "stream_mh_idx", jaccard_threshold=0.35
    )
    q = start_memory_sink(pairs, "incr_mh_out", output_mode="complete")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.doc_n, r.doc_c, r.jaccard_est)
        for r in spark.sql("SELECT * FROM incr_mh_out").collect()
    }
    expect = {
        (
            r.doc_a if r.doc_a % 5 == 0 else r.doc_b,
            r.doc_b if r.doc_a % 5 == 0 else r.doc_a,
            r.jaccard_est,
        )
        for r in incremental_minhash_pairs(
            minhash_signatures(new), "stream_mh_idx", jaccard_threshold=0.35
        ).collect()
        if r.pair_type == "new_corpus"
    }
    assert got == expect and len(got) > 0


def test_stream_incremental_hamming_phash_matches_batch(spark, tmp_path):
    """Streaming banded-hamming day-2 over IMAGE pHashes: arriving
    images (bit-perturbed variants of corpus images, hamming <= 6 by
    construction) checked against the stored corpus band index equal
    the batch incremental path's new-vs-corpus arm (same exact
    hamming)."""
    import shutil

    from fagi_gis_spark.functions.dedup import (
        build_hamming_index,
        incremental_hamming_pairs,
    )
    from fagi_gis_spark.sources.images import generate_images
    from fagi_gis_spark.streaming.windowed import (
        start_memory_sink,
        stream_incremental_hamming,
    )

    imgs = generate_images(spark, 300, partitions=4).select(
        F.col("image_id").alias("doc_id"), F.col("phash").alias("simhash")
    )
    corpus = imgs
    # new batch: every 6th corpus image re-ingested with 1-3 phash bits
    # flipped (re-encode jitter), ids prefixed — hamming to its source
    # is <= 3 by construction
    num = F.regexp_extract("doc_id", r"(\d+)", 1).cast("long")
    new = (
        imgs.withColumn("n", num)
        .filter(F.col("n") % 6 == 0)
        .withColumn("flip", F.expr("1L | shiftleft(1L, cast(pmod(n, 60) + 1 as int))"))
        .select(
            F.concat(F.lit("v"), F.col("doc_id")).alias("doc_id"),
            F.col("simhash").bitwiseXOR(F.col("flip")).alias("simhash"),
        )
    )
    for t in ("stream_hm_idx_bands", "stream_hm_idx_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    build_hamming_index(corpus, "stream_hm_idx", max_hamming=6)

    src = str(tmp_path / "phash_stream_src")
    new.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(new.schema).parquet(src)
    pairs = stream_incremental_hamming(stream, "stream_hm_idx", max_hamming=6)
    q = start_memory_sink(pairs, "incr_hm_out", output_mode="complete")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.doc_n, r.doc_c, r.hamming)
        for r in spark.sql("SELECT * FROM incr_hm_out").collect()
    }
    new_ids = {r.doc_id for r in new.collect()}
    expect = set()
    for r in incremental_hamming_pairs(new, "stream_hm_idx", max_hamming=6).filter(
        F.col("pair_type") == "new_corpus"
    ).collect():
        if r.doc_a in new_ids:
            expect.add((r.doc_a, r.doc_b, r.hamming))
        else:
            expect.add((r.doc_b, r.doc_a, r.hamming))
    assert got == expect and len(got) >= 50  # every variant finds its source


def test_stream_exif_hex_rollup_matches_batch(spark, tmp_path):
    """Streaming EXIF ingest (files arrive, the geotag is INSIDE the
    bytes): hex rollup over a readStream equals the batch exif_geotags
    path on the same rows — and equals the pHash-geotag rollup, since
    the generator embeds the pHash-seeded coordinate as the EXIF GPS."""
    from fagi_gis_spark.operators.multimodal import exif_geotags
    from fagi_gis_spark.index.hexgrid import hex_cell_col
    from fagi_gis_spark.sources.images import generate_images
    from fagi_gis_spark.streaming.windowed import (
        start_memory_sink,
        stream_exif_hex_rollup,
    )

    batch = generate_images(spark, 300, partitions=4).select(
        "image_id",
        "bytes",
        "phash",
        F.timestamp_seconds(
            F.lit(1700000000) + F.abs(F.hash("image_id")) % 3600
        ).alias("ts"),
    )
    src = str(tmp_path / "exif_stream_src")
    batch.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    agg = stream_exif_hex_rollup(stream)
    q = start_memory_sink(agg, "exif_hex_out", output_mode="complete")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.cell_hex7, r.n)
        for r in spark.sql(
            "SELECT cell_hex7, sum(n) AS n FROM exif_hex_out GROUP BY cell_hex7"
        ).collect()
    }
    parsed = exif_geotags(batch.select("image_id", "bytes"))
    lon = F.col("lon_microdeg") / F.lit(1e6)
    lat = F.col("lat_microdeg") / F.lit(1e6)
    expect = {
        (r.cell_hex7, r.n)
        for r in parsed.withColumn("cell_hex7", hex_cell_col(lon, lat, 9))
        .groupBy("cell_hex7")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == expect and len(expect) > 10


def test_stream_colocation_matches_batch(spark, tmp_path):
    """Streaming co-location (arriving events vs the stored corpus)
    equals the batch colocation restricted to new-vs-corpus pairs with
    the arriving user on the left — computed here as the direct
    stream-shaped batch join on the same frames."""
    from fagi_gis_spark.operators.trajectory import with_pings
    from fagi_gis_spark.index import tiles
    from fagi_gis_spark.streaming.windowed import start_memory_sink, stream_colocation

    corpus = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    # arriving batch: corpus events time-shifted by 200s with fresh ids
    # and users offset by 7 — guaranteed same-cell near-in-time overlap
    new = corpus.filter(F.col("event_id") % 5 == 0).select(
        (F.col("event_id") + 10_000_000).alias("event_id"),
        (F.col("ts") + F.expr("INTERVAL 200 SECONDS")).alias("ts"),
        F.col("user_id"),
        "event_type",
        "value",
        "props",
    )
    src = str(tmp_path / "coloc_stream_src")
    new.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(new.schema).parquet(src)
    q = start_memory_sink(
        stream_colocation(stream, corpus, z=6, win_s=900), "coloc_out"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.user_n, r.user_c, r.n_hits)
        for r in spark.sql("SELECT * FROM coloc_out").collect()
    }
    # batch expectation: same join, batch frames
    want = {
        (r.user_n, r.user_c, r.n_hits)
        for r in __import__(
            "fagi_gis_spark.streaming.windowed", fromlist=["stream_colocation"]
        ).stream_colocation(new, corpus, z=6, win_s=900).collect()
    }
    assert got == want and len(got) > 0
