"""Geometry measures: npoints, centroid, area, bbox, and the degree->meter
factor planar distances use.

Semantics mirror the PostGIS/JTS functions the reference calls
(`SURVEY.md §2.8`): ``ST_NPoints``, ``ST_Centroid`` (dimension-weighted:
areal > lineal > puntal), ``ST_X/Y``, bbox, planar degree distance with
the reference's quick degree↔meter factor 111195
(FAGI-gis ``src/main/java/gr/athenainnovation/imis/fusion/gis/utils/Constants.java:79-80``).
"""

from __future__ import annotations

import numpy as np

from fagi_gis_spark.geometry.wkt import Geom, all_coords

# degree->meter quick factor, identical to the reference's Constants.java:79-80
DEG_TO_M = 111195.0


def npoints(g: Geom | None) -> int:
    if g is None:
        return 0
    return int(len(all_coords(g)))


def _ring_area_centroid(r: np.ndarray) -> tuple[float, float, float]:
    """Signed shoelace area and area-weighted centroid numerator of a ring.

    Computed relative to the ring's first vertex — at geographic
    coordinates the raw shoelace cancels catastrophically (products ~1e2
    vs areas ~1e-7), shifting centroids by ~1e-7 deg; the local-origin
    form keeps the error at machine epsilon of the ring extent.
    """
    ox, oy = r[0, 0], r[0, 1]
    x, y = r[:, 0] - ox, r[:, 1] - oy
    x1, y1 = np.roll(x, -1), np.roll(y, -1)
    cross = x * y1 - x1 * y
    a = cross.sum() / 2.0
    if a == 0.0:
        return 0.0, 0.0, 0.0
    cx = ((x + x1) * cross).sum() / 6.0 + ox * a
    cy = ((y + y1) * cross).sum() / 6.0 + oy * a
    return a, cx, cy


def _line_centroid(c: np.ndarray) -> tuple[float, float, float]:
    """(length, length-weighted cx*len, cy*len) of a linestring."""
    if len(c) < 2:
        return 0.0, 0.0, 0.0
    seg = c[1:] - c[:-1]
    ln = np.hypot(seg[:, 0], seg[:, 1])
    mid = (c[1:] + c[:-1]) / 2.0
    total = ln.sum()
    return float(total), float((mid[:, 0] * ln).sum()), float((mid[:, 1] * ln).sum())


def centroid(g: Geom | None) -> tuple[float, float] | None:
    """Dimension-weighted centroid (JTS/PostGIS ST_Centroid semantics):
    polygons use areal centroid, lines length-weighted, points average;
    mixed collections use the highest-dimension components only."""
    if g is None:
        return None
    t, d = g.gtype, g.data

    def acc(geom: Geom, buckets):
        tt, dd = geom.gtype, geom.data
        if tt == "POINT" or tt == "MULTIPOINT":
            for p in dd:
                buckets[0][0] += 1.0
                buckets[0][1] += p[0]
                buckets[0][2] += p[1]
        elif tt == "LINESTRING":
            ln, cx, cy = _line_centroid(dd)
            buckets[1][0] += ln; buckets[1][1] += cx; buckets[1][2] += cy
        elif tt == "MULTILINESTRING":
            for r in dd:
                ln, cx, cy = _line_centroid(r)
                buckets[1][0] += ln; buckets[1][1] += cx; buckets[1][2] += cy
        elif tt == "POLYGON":
            for i, r in enumerate(dd):
                a, cx, cy = _ring_area_centroid(r)
                if a < 0.0:  # normalize winding to CCW-positive
                    a, cx, cy = -a, -cx, -cy
                sgn = 1.0 if i == 0 else -1.0  # holes subtract
                buckets[2][0] += sgn * a
                buckets[2][1] += sgn * cx
                buckets[2][2] += sgn * cy
        elif tt == "MULTIPOLYGON":
            for poly in dd:
                acc(Geom("POLYGON", poly), buckets)
        elif tt == "GEOMETRYCOLLECTION":
            for c in dd:
                acc(c, buckets)

    buckets = [[0.0, 0.0, 0.0], [0.0, 0.0, 0.0], [0.0, 0.0, 0.0]]  # pt, line, area
    acc(g, buckets)
    for dim in (2, 1, 0):
        w, cx, cy = buckets[dim]
        if w > 0:
            return (cx / w, cy / w)
    # degenerate (zero-area polygon / zero-length line): average of vertices
    c = all_coords(g)
    if len(c) == 0:
        return None
    return (float(c[:, 0].mean()), float(c[:, 1].mean()))


def area(g: Geom | None) -> float:
    if g is None:
        return 0.0
    t, d = g.gtype, g.data
    if t == "POLYGON":
        total = 0.0
        for i, r in enumerate(d):
            a, _, _ = _ring_area_centroid(r)
            total += abs(a) if i == 0 else -abs(a)
        return total
    if t == "MULTIPOLYGON":
        return sum(area(Geom("POLYGON", p)) for p in d)
    if t == "GEOMETRYCOLLECTION":
        return sum(area(c) for c in d)
    return 0.0


def bbox(g: Geom | None) -> tuple[float, float, float, float] | None:
    if g is None:
        return None
    c = all_coords(g)
    if len(c) == 0:
        return None
    return (float(c[:, 0].min()), float(c[:, 1].min()), float(c[:, 0].max()), float(c[:, 1].max()))
