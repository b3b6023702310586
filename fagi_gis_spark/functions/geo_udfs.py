"""Arrow-batched geometry UDFs (the engine's replacement for PostGIS calls).

Each UDF parses canonical WKT with the numpy kernel
(``fagi_gis_spark.geometry``), computes, and re-formats. These are the
*refine / transform* steps only — cell bucketing, bbox tests and tile
assignment are pure JVM column expressions (see ``index.tiles``), so the
100 TB hot path never enters Python.

PostGIS surface covered (SURVEY.md §2.8): ST_NPoints, ST_Centroid,
ST_X/Y, ST_Translate, ST_Scale, GeomRotate/GeomResize (rotate/scale about
centroid, /root/reference/fagi-gis/src/main/resources/schema.sql:97-104),
GeometryType.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fagi_gis_spark.geometry.affine import rotate_about, scale_about, translate
from fagi_gis_spark.geometry.measures import centroid, npoints
from fagi_gis_spark.geometry.wkt import format_wkt, parse_wkt

_CENTROID_SCHEMA = T.StructType(
    [T.StructField("cx", T.DoubleType()), T.StructField("cy", T.DoubleType())]
)


@F.pandas_udf(_CENTROID_SCHEMA)
def u_centroid(wkt: pd.Series) -> pd.DataFrame:
    cx = np.full(len(wkt), np.nan)
    cy = np.full(len(wkt), np.nan)
    for i, s in enumerate(wkt):
        if s is None:
            continue
        c = centroid(parse_wkt(s))
        if c is not None:
            cx[i], cy[i] = c
    return pd.DataFrame({"cx": cx, "cy": cy})


@F.pandas_udf(T.StringType())
def u_translate(wkt: pd.Series, dx: pd.Series, dy: pd.Series) -> pd.Series:
    out = []
    for s, a, b in zip(wkt, dx, dy):
        if s is None:
            out.append(None)
            continue
        out.append(format_wkt(translate(parse_wkt(s), float(a), float(b)), prec=9))
    return pd.Series(out)


@F.pandas_udf(T.StringType())
def u_scale_origin(wkt: pd.Series, f: pd.Series) -> pd.Series:
    """PostGIS ST_Scale semantics: scale about the ORIGIN (0,0), unlike
    GeomResize which scales about the centroid (ScaleTransformation.java:114-140)."""
    out = []
    for s, ff in zip(wkt, f):
        if s is None:
            out.append(None)
            continue
        out.append(format_wkt(scale_about(parse_wkt(s), float(ff), float(ff), origin=(0.0, 0.0)), prec=9))
    return pd.Series(out)


@F.pandas_udf(T.LongType())
def u_morton16(lon: pd.Series, lat: pd.Series) -> pd.Series:
    """Morton (S2-role) cell at level 16 — defined here because modules
    with ``from __future__ import annotations`` stringify the hints that
    pandas_udf needs."""
    from fagi_gis_spark.index.cells import morton_cell_np

    return pd.Series(morton_cell_np(lon.to_numpy("float64"), lat.to_numpy("float64"), 16))


@F.pandas_udf(T.StringType())
def u_midpoint_wkt(ax: pd.Series, ay: pd.Series, bx: pd.Series, by: pd.Series) -> pd.Series:
    """POINT at the midpoint of two points (AvgTwoPointsTransformation.java:18-41).
    Formatted Python-side (half-even) so the DuckDB oracle printf agrees."""
    mx = (ax.to_numpy(np.float64) + bx.to_numpy(np.float64)) / 2.0
    my = (ay.to_numpy(np.float64) + by.to_numpy(np.float64)) / 2.0
    return pd.Series([f"POINT ({x:.9f} {y:.9f})" for x, y in zip(mx, my)])


_SUMMARY_SCHEMA = T.StructType(
    [
        T.StructField("cx", T.DoubleType()),
        T.StructField("cy", T.DoubleType()),
        T.StructField("npts", T.IntegerType()),
        T.StructField("gtype", T.StringType()),
    ]
)


@F.pandas_udf(_SUMMARY_SCHEMA)
def u_geo_summary(wkt: pd.Series) -> pd.DataFrame:
    """ONE parse per geometry -> (centroid, npoints, gtype). The ingest-
    time summary column: computed per POI row BEFORE the pair join, so the
    per-pair fusion/scoring pipeline never re-parses WKT for metadata it
    can precompute (at 100 TB this is the difference between parsing each
    geometry once at ingest and once per link it participates in)."""
    n = len(wkt)
    cx = np.full(n, np.nan)
    cy = np.full(n, np.nan)
    npts = np.zeros(n, dtype=np.int32)
    gts = []
    for i, s in enumerate(wkt):
        if not s:
            gts.append(None)
            continue
        g = parse_wkt(s)
        if g is None:
            gts.append(None)
            continue
        c = centroid(g)
        if c is not None:
            cx[i], cy[i] = c
        npts[i] = npoints(g)
        gts.append(g.gtype)
    return pd.DataFrame({"cx": cx, "cy": cy, "npts": npts, "gtype": gts})


_SHIFT_PRE_SCHEMA = T.StructType(
    [
        T.StructField("wkt", T.StringType()),
        T.StructField("cx", T.DoubleType()),
        T.StructField("cy", T.DoubleType()),
    ]
)


@F.pandas_udf(_SHIFT_PRE_SCHEMA)
def u_shift_pre(
    wkt_src: pd.Series,
    cdx: pd.Series,
    cdy: pd.Series,
    shift_frac: pd.Series,
    rot_deg: pd.Series,
    fscale: pd.Series,
    metric: pd.Series,
) -> pd.DataFrame:
    """ShiftAToB/ShiftBToA with the DESTINATION centroid precomputed (the
    u_geo_summary layer column): parses only the source geometry — one
    parse + one format per pair instead of two parses plus a downstream
    re-parse. Also returns the fused centroid directly:
    rotate/scale about the source centroid leave it fixed, so
    c_out = c_src + s * (c_dst - c_src) — the oracle's exact expression
    tree (ShiftAToB.java:190-232).

    DELIBERATE DIVERGENCE by default (like the distance metric in
    fusion.with_scores): the reference rotates AFTER ST_Transform to
    projected SRID 2249 (meters, ShiftAToB.java:141), so its rotation is
    shape-preserving on the ground; with ``metric`` false this kernel
    rotates in lon/lat degree space, which is anisotropic by ~cos(lat).
    For the test window (lat ~50-52°, geometries <= ~30 m across) the
    shape difference is sub-centimeter, and the differential tests
    replay the degree-space rotation.

    ``metric`` selects the reference's FULL GeomRotate semantics:
    rotation about the centroid in projected EPSG 2249 (schema.sql:103,
    via geometry.projection's Snyder LCC) instead of degree space —
    shape-preserving on the ground. The metric rotation moves the
    degree-space centroid by a sub-nanometre reprojection residual, which
    the translate step absorbs (it targets the destination either way).
    """
    from fagi_gis_spark.geometry.affine import rotate_metric

    out_w, out_x, out_y = [], [], []
    for s_w, dx_, dy_, s, r, f, mt in zip(
        wkt_src, cdx, cdy, shift_frac, rot_deg, fscale, metric
    ):
        if s_w is None or dx_ is None or pd.isna(dx_):
            out_w.append(None)
            out_x.append(None)
            out_y.append(None)
            continue
        g = parse_wkt(s_w)
        if g is None:
            # EMPTY / unparseable WKT: null row, not a task-killing
            # TypeError from centroid(None)
            out_w.append(None)
            out_x.append(None)
            out_y.append(None)
            continue
        cs = centroid(g)
        r = float(r)
        f = float(f)
        if r != 0.0:
            g = rotate_metric(g, math.radians(r)) if mt else rotate_about(g, math.radians(r))
        if f != 1.0:
            g = scale_about(g, f, f)
        s = float(s)
        tx = cs[0] + s * (float(dx_) - cs[0])
        ty = cs[1] + s * (float(dy_) - cs[1])
        if r != 0.0 and mt:
            # metric rotation perturbs the degree-space centroid by the
            # reprojection residual; translate FROM the post-rotation
            # centroid so the output centroid is exactly (tx, ty)
            c_now = centroid(g)
            g = translate(g, tx - c_now[0], ty - c_now[1])
        else:
            # bitwise-identical to the pre-metric kernel (oracle parity)
            g = translate(g, s * (float(dx_) - cs[0]), s * (float(dy_) - cs[1]))
        out_w.append(format_wkt(g, prec=9))
        out_x.append(tx)
        out_y.append(ty)
    return pd.DataFrame({"wkt": out_w, "cx": out_x, "cy": out_y})


def u_s2_cell_at(level: int):
    """Factory: S2 cell encode at an arbitrary level (index/s2.py:
    face/uv/quadratic-ST/Hilbert per the published s2geometry scheme),
    Arrow-batched; join resolutions are radius-derived, so the level is
    a closure constant."""

    @F.pandas_udf(T.LongType())
    def _enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        from fagi_gis_spark.index.s2 import s2_cell_np

        return pd.Series(
            s2_cell_np(lon.to_numpy("float64"), lat.to_numpy("float64"), level)
        )

    return _enc


def u_s2_disk_at(level: int):
    """Factory: the 9-cell S2 neighborhood (own cell + 8 cross-face-
    wrapped neighbors) as array<long> — duplicates possible at cube
    corners; callers apply array_distinct before exploding."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _disk(lon: pd.Series, lat: pd.Series) -> pd.Series:
        import numpy as np

        from fagi_gis_spark.index.s2 import s2_all_neighbors_np, s2_cell_np

        own = s2_cell_np(lon.to_numpy("float64"), lat.to_numpy("float64"), level)
        nb = s2_all_neighbors_np(own, level)
        full = np.concatenate([own[:, None], nb], axis=1)
        return pd.Series(list(full))

    return _disk


#: fixed-level instances used by the registry queries
u_s2_cell12 = u_s2_cell_at(12)
