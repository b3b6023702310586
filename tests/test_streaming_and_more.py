"""Schema matching, literal typing, multimodal ops, write-back and
shift replay."""

import pandas as pd
import pytest

SF = "/root/testdata/sf0.001"


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


