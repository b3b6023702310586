"""Unit tests for the from-scratch geometry kernel (Spark only where an
engine column expression or join is under test)."""

import math

import numpy as np
import pytest

from fagi_gis_spark.geometry.affine import rotate_about, scale_about, translate
from fagi_gis_spark.geometry.measures import area, bbox, centroid, npoints
from fagi_gis_spark.geometry.pip import PolygonIndex, points_in_polygon
from fagi_gis_spark.geometry.wkt import format_wkt, parse_wkt

SQ = "POLYGON ((0.000000 0.000000, 2.000000 0.000000, 2.000000 2.000000, 0.000000 2.000000, 0.000000 0.000000))"


@pytest.mark.parametrize(
    "wkt,gtype,n",
    [
        ("POINT (1.500000 2.500000)", "POINT", 1),
        ("LINESTRING (0.000000 0.000000, 1.000000 1.000000)", "LINESTRING", 2),
        (SQ, "POLYGON", 5),
        ("MULTIPOINT ((1.000000 1.000000), (2.000000 2.000000))", "MULTIPOINT", 2),
        (
            "MULTILINESTRING ((0.000000 0.000000, 1.000000 0.000000), (2.000000 0.000000, 3.000000 0.000000))",
            "MULTILINESTRING",
            4,
        ),
        (
            "MULTIPOLYGON (((0.000000 0.000000, 1.000000 0.000000, 1.000000 1.000000, 0.000000 0.000000)))",
            "MULTIPOLYGON",
            4,
        ),
        (
            "GEOMETRYCOLLECTION (POINT (1.000000 1.000000), LINESTRING (0.000000 0.000000, 1.000000 0.000000))",
            "GEOMETRYCOLLECTION",
            3,
        ),
    ],
)
def test_roundtrip(wkt, gtype, n):
    g = parse_wkt(wkt)
    assert g.gtype == gtype
    assert npoints(g) == n
    assert format_wkt(g) == wkt  # canonical text is a fixed point


def test_parse_tolerates_legacy_forms():
    # PostGIS-style no-space and bare multipoint coordinates
    assert parse_wkt("POINT(1 2)").data.tolist() == [[1.0, 2.0]]
    assert parse_wkt("MULTIPOINT (1 1, 2 2)").data.tolist() == [[1.0, 1.0], [2.0, 2.0]]
    assert parse_wkt(None) is None
    assert parse_wkt("") is None


def test_centroid_semantics():
    assert centroid(parse_wkt("POINT (3 4)")) == (3.0, 4.0)
    cx, cy = centroid(parse_wkt(SQ))
    assert (cx, cy) == pytest.approx((1.0, 1.0))
    # length-weighted line centroid
    cx, cy = centroid(parse_wkt("LINESTRING (0 0, 0 2, 4 2)"))
    assert (cx, cy) == pytest.approx((8 / 6, 10 / 6))
    # collection: highest dimension wins (polygon beats the point)
    cx, cy = centroid(parse_wkt(f"GEOMETRYCOLLECTION (POINT (50 50), {SQ})"))
    assert (cx, cy) == pytest.approx((1.0, 1.0))


def test_polygon_with_hole():
    g = parse_wkt(
        "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))"
    )
    assert area(g) == pytest.approx(15.0)
    cx, cy = centroid(g)
    # hole pulls the centroid away from (2,2)
    exp = (2 * 16 - 1.5 * 1) / 15
    assert (cx, cy) == pytest.approx((exp, exp))


def test_affine():
    g = parse_wkt("POINT (1 1)")
    assert format_wkt(translate(g, 2, 3)) == "POINT (3.000000 4.000000)"
    sq = parse_wkt(SQ)
    scaled = scale_about(sq, 2.0, 2.0)  # about centroid (1,1)
    assert bbox(scaled) == pytest.approx((-1.0, -1.0, 3.0, 3.0))
    rot = rotate_about(parse_wkt("LINESTRING (0 0, 2 0)"), math.pi / 2)
    assert centroid(rot) == pytest.approx((1.0, 0.0))
    b = bbox(rot)
    assert b == pytest.approx((1.0, -1.0, 1.0, 1.0), abs=1e-12)


def test_precedence_table(spark):
    """The engine's geometry-type precedence (lower wins the
    one-geometry-per-subject dedup) follows the reference order;
    GEOMETRYCOLLECTION and unknown types rank last, with no geometry."""
    from pyspark.sql import functions as F

    from fagi_gis_spark.operators.dedup_precedence import precedence_col

    wkts = [
        "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)))",
        "POLYGON ((0 0, 1 0, 1 1, 0 0))",
        "MULTILINESTRING ((0 0, 1 1))",
        "LINESTRING (0 0, 1 1)",
        "MULTIPOINT ((0 0))",
        "POINT (0 0)",
        "GEOMETRYCOLLECTION (POINT (0 0))",
        "TRIANGLE ((0 0, 1 0, 1 1, 0 0))",
    ]
    df = spark.createDataFrame([(w,) for w in wkts], "geom_wkt string")
    got = {
        r.geom_wkt.split(" ")[0]: r.p
        for r in df.select("geom_wkt", precedence_col(F.col("geom_wkt")).alias("p")).collect()
    }
    assert got == {
        "MULTIPOLYGON": 0,
        "POLYGON": 1,
        "MULTILINESTRING": 2,
        "LINESTRING": 3,
        "MULTIPOINT": 4,
        "POINT": 5,
        "GEOMETRYCOLLECTION": 6,
        "TRIANGLE": 6,
    }


def test_point_in_polygon():
    poly = parse_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))")
    px = np.array([5.0, 1.0, 11.0, 5.0])
    py = np.array([5.0, 1.0, 5.0, 4.5])
    got = points_in_polygon(px, py, poly)
    assert got.tolist() == [False, True, False, False]  # (5,5) is inside the hole


def test_polygon_index():
    ids, geoms = [], []
    for i in range(4):
        for j in range(4):
            ids.append(f"p{i}{j}")
            geoms.append(
                parse_wkt(
                    f"POLYGON (({i} {j}, {i+1} {j}, {i+1} {j+1}, {i} {j+1}, {i} {j}))"
                )
            )
    idx = PolygonIndex(ids, geoms)
    px = np.array([0.5, 3.5, 2.5, -5.0])
    py = np.array([0.5, 3.5, 1.5, 0.5])
    res = idx.query_batch(px, py)
    assert res[0] == ["p00"]
    assert res[1] == ["p33"]
    assert res[2] == ["p21"]
    assert res[3] == []


def test_convex_clip_and_quantized_area():
    """Sutherland-Hodgman kernel: rect/rect closed form, triangle/rect,
    touching and disjoint degenerate to zero area, orientation-blind,
    and axis-aligned clip corners are bit-exact lattice values."""
    import numpy as np

    from fagi_gis_spark.operators.overlay import convex_clip, quantized_twice_area

    def rect(x1, y1, x2, y2):
        return np.array([[x1, y1], [x2, y1], [x2, y2], [x1, y2]], dtype=float)

    out = convex_clip(rect(0, 0, 0.5, 0.5), rect(0.2, 0.3, 1.0, 1.0))
    assert quantized_twice_area(out) == 2 * 300000 * 200000
    # orientation of either ring must not matter
    out_cw = convex_clip(rect(0, 0, 0.5, 0.5)[::-1], rect(0.2, 0.3, 1.0, 1.0)[::-1])
    assert quantized_twice_area(out_cw) == 2 * 300000 * 200000
    # touching edges and disjoint rects both come back with zero area
    assert quantized_twice_area(convex_clip(rect(0, 0, 1, 1), rect(1, 0, 2, 1))) == 0
    assert quantized_twice_area(convex_clip(rect(0, 0, 1, 1), rect(2, 2, 3, 3))) == 0
    # non-rect subject: right triangle in the unit square -> area 1/2
    tri = np.array([[0, 0], [1, 0], [0, 1]], dtype=float)
    assert quantized_twice_area(convex_clip(tri, rect(0, 0, 1, 1))) == 10**6 * 10**6
    # micro-degree lattice inputs stay exact through the clip
    a = rect(-0.000123, 49.999871, 0.000077, 50.000071)
    b = rect(-0.000023, 49.999971, 0.000177, 50.000171)
    w = round((0.000077 - -0.000023) * 1e6)
    h = round((50.000071 - 49.999971) * 1e6)
    assert quantized_twice_area(convex_clip(a, b)) == 2 * w * h
    # the convexity guard rejects a dart (concave quad) and accepts rects
    import pytest as _pytest

    from fagi_gis_spark.operators.overlay import _assert_convex

    dart = np.array([[0, 0], [2, 1], [0, 2], [0.5, 1]], dtype=float)
    with _pytest.raises(ValueError):
        _assert_convex(dart)
    _assert_convex(rect(0, 0, 1, 1))


def test_overlay_zones_join_matches_rect_closed_form(spark):
    """overlay_zones_join == per-pair closed-form rectangle math on the
    half-micro-degree lattice, for a footprint layer spanning grid-cell
    interiors, grid-line straddles, and the deliberately-overlapping
    admin squares (so one footprint can hit several zones)."""
    import numpy as np

    from fagi_gis_spark.operators.overlay import overlay_zones_join
    from fagi_gis_spark.sources.layers import admin_polygons_pdf

    rows = []
    rng = np.random.RandomState(7)
    for i in range(120):
        # centers across the grid, d a multiple of 1e-5 deg like the layers
        cx = -1.0 + 2.0 * rng.rand()
        cy = 50.0 + 2.0 * rng.rand()
        cx = round(cx * 1e6) / 1e6
        cy = round(cy * 1e6) / 1e6
        d = (5 + i % 16) * 10 / 1e6
        wkt = (
            f"POLYGON (({cx - d:.6f} {cy - d:.6f}, {cx + d:.6f} {cy - d:.6f}, "
            f"{cx + d:.6f} {cy + d:.6f}, {cx - d:.6f} {cy + d:.6f}, "
            f"{cx - d:.6f} {cy - d:.6f}))"
        )
        rows.append((f"f:{i}", wkt, cx, cy, d))
    fp = spark.createDataFrame(
        [(s, w) for s, w, *_ in rows], "subject string, geom_wkt string"
    )
    zpdf = admin_polygons_pdf()
    got = {
        (r.subject, r.polygon_id): r.area2
        for r in overlay_zones_join(fp, zpdf).collect()
    }

    # closed form: quantize both rect families to the 2e6 lattice
    from fagi_gis_spark.geometry.wkt import parse_wkt

    import math

    zr = {}
    for pid, w in zip(zpdf["polygon_id"], zpdf["geom_wkt"]):
        g = np.asarray(parse_wkt(w).data[0][:-1])
        zr[pid] = tuple(
            int(math.floor(v * 2e6 + 0.5))
            for v in (g[:, 0].min(), g[:, 1].min(), g[:, 0].max(), g[:, 1].max())
        )
    expected = {}
    for s, wkt, cx, cy, d in rows:
        g = np.asarray(parse_wkt(wkt).data[0][:-1])
        fx1, fy1 = (
            int(math.floor(g[:, 0].min() * 2e6 + 0.5)),
            int(math.floor(g[:, 1].min() * 2e6 + 0.5)),
        )
        fx2, fy2 = (
            int(math.floor(g[:, 0].max() * 2e6 + 0.5)),
            int(math.floor(g[:, 1].max() * 2e6 + 0.5)),
        )
        for pid, (zx1, zy1, zx2, zy2) in zr.items():
            w_ = min(fx2, zx2) - max(fx1, zx1)
            h_ = min(fy2, zy2) - max(fy1, zy1)
            if w_ > 0 and h_ > 0:
                expected[(s, pid)] = 2 * w_ * h_
    assert got == expected
    assert len(expected) > 120  # straddles + overlap squares produce extras


