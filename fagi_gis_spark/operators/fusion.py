"""Geometry fusion transformations — the FAGI operator family (SURVEY.md §2.3).

The reference implements each transformation as one set-based PostGIS SQL
statement over ``links x dataset_a_geometries x dataset_b_geometries``
(e.g. KeepLeftTransformation.fuseAll,
/root/reference/fagi-gis/src/main/java/gr/athenainnovation/imis/fusion/gis/geotransformations/KeepLeftTransformation.java:48-59).
Here the whole family is ONE parameterized join + column pipeline:

    links ⋈ A ⋈ B   (two equi-joins; Catalyst/AQE pick broadcast vs
                     sort-merge — the reference relies on the Postgres
                     planner for the same pushdown, SURVEY.md §4)
    -> per-transformation column expressions / Arrow-batched geometry UDFs
    -> fused(subject_a, subject_b, geom_wkt)

``fuse_cluster`` is the same pipeline with the links input swapped for the
cluster subset (fuseCluster, KeepLeftTransformation.java:62-73).

Pair-summary contract: ``linked_pairs`` is the ONLY code that attaches
per-geometry data to a pair — ``cax/cay/cbx/cby`` (centroids),
``npa/npb`` (npoints), ``gta/gtb`` (geometry type), and with
``feature_primitives=True`` the ``__pa/__pb`` primitives structs — the
reference's import-time typed PostGIS columns (Importer.java:306-379).
Every consumer (``fuse``, ``fused_centroids``, ``scores_quantized``,
``with_scores``, clustering and the learning/tag feature extractors)
reads those columns directly; a pair table that lacks them fails at
analysis time with Spark's own ``AnalysisException`` instead of being
re-parsed row by row.

Transformation ids (string + integer) follow the reference registry
(gui/FuserPanel.java:139-173, AbstractFusionTransformation.getIntegerID).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fagi_gis_spark.functions.geo_udfs import (
    u_geo_summary,
    u_midpoint_wkt,
    u_shift_pre,
    u_translate,
)
from fagi_gis_spark.geometry.measures import DEG_TO_M

# string id -> reference integer id
TRANSFORMATIONS = {
    "concatenation": 1,
    "keep_both": 2,
    "keep_a": 3,
    "most_points": 4,
    "keep_b": 5,
    "shift_a_to_b": 6,
    "shift_b_to_a": 7,
    "avg_points": 10,
    "shift_poly_to_point": 11,
    "shift_poly_avg_dist": 12,
    "most_points_translate": 13,
    "scale_a": 14,
    "scale_b": 15,
}


@dataclass
class FusionParams:
    """UI-set factors (BatchFusionServlet.java:433-445): shift is a
    percentage of the centroid displacement; rotate in degrees; scale is
    the GeomResize/ST_Scale factor.

    ``metric_rotation=True`` rotates in projected EPSG 2249 like the
    reference's GeomRotate (schema.sql:103) — shape-preserving on the
    ground; the default rotates in degree space (the engine's documented
    fast path; identical when rotate_deg == 0)."""

    shift_pct: float = 25.0
    rotate_deg: float = 0.0
    scale_f: float = 1.0
    metric_rotation: bool = False


def linked_pairs(
    links: DataFrame,
    poi_a: DataFrame,
    poi_b: DataFrame,
    broadcast_pois: bool = False,
    feature_primitives: bool = False,
) -> DataFrame:
    """J3 (SURVEY.md §2.2): links ⋈ A ⋈ B, never materializing A x B.

    Each POI layer gets its geometry summary (centroid/npoints/gtype,
    ONE WKT parse per row) attached BEFORE the join — the ingest-time
    typed-column pattern: a geometry linked N times is parsed once, not N
    times, and the downstream fusion/scoring expressions become pure JVM
    column math over the summary columns.  This is the one place pairs
    get their per-geometry data (the module's pair-summary contract):
    output columns are ``links.*`` plus, per side ``a``/``b``,
    ``subject_*``, ``wkt_*``, ``lon_*``, ``lat_*``, ``c*x``/``c*y``,
    ``np*`` and ``gt*``.  A layer that already stores the summary
    (``cx``/``cy``/``npts``/``gtype``, sources.layers) is read as is;
    any other layer gets it from one summary-UDF pass.

    At 100 TB the links table and both POI layers are bucketed by
    subject/node key so these two joins co-locate without a shuffle; in
    unbucketed form AQE picks sort-merge with skew splitting. Set
    ``broadcast_pois`` when a POI layer is a small dimension.

    Each side is hash-repartitioned by its join key BEFORE the summary
    UDF: the parse stage then runs at full shuffle parallelism (a
    narrow-partitioned source would otherwise bottleneck it), and the
    join reuses that HashPartitioning — no additional exchange.

    With ``feature_primitives`` the summary UDF is replaced by the richer
    feature-primitives struct (learning.u_feat_primitives — a superset:
    + area, edge stats, rectangle bit, envelope), kept as ``__pa``/``__pb``
    for the vectorized feature extractors, in the SAME projection — still
    one parse per POI row and zero additional shuffles.  Clustering and
    the learning/tag feature extractors require these structs.
    """
    n_shuffle = int(poi_a.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    def _side(poi, side, c_pfx):
        if not feature_primitives and {"cx", "cy", "npts", "gtype"} <= set(poi.columns):
            # ingest-time summary columns present (sources.layers stores
            # the one-parse-per-geometry summary at import): pure JVM
            # projection, no Arrow/Python stage at query time
            return poi.select(
                F.col("subject").alias(f"subject_{side}"),
                F.col("geom_wkt").alias(f"wkt_{side}"),
                F.col("lon").alias(f"lon_{side}"),
                F.col("lat").alias(f"lat_{side}"),
                F.col("cx").alias(f"c{c_pfx}x"),
                F.col("cy").alias(f"c{c_pfx}y"),
                F.col("npts").alias(f"np{side}"),
                F.col("gtype").alias(f"gt{side}"),
            ).repartition(n_shuffle, f"subject_{side}")
        df = poi.select(
            F.col("subject").alias(f"subject_{side}"),
            F.col("geom_wkt").alias(f"wkt_{side}"),
            F.col("lon").alias(f"lon_{side}"),
            F.col("lat").alias(f"lat_{side}"),
        ).repartition(n_shuffle, f"subject_{side}")
        if feature_primitives:
            from fagi_gis_spark.operators.learning import u_feat_primitives

            p = f"__p{side}"
            return df.select(
                "*", u_feat_primitives(F.col(f"wkt_{side}")).alias(p)
            ).select(
                "*",
                F.col(f"{p}.cx").alias(f"c{c_pfx}x"),
                F.col(f"{p}.cy").alias(f"c{c_pfx}y"),
                F.col(f"{p}.npts").alias(f"np{side}"),
                F.col(f"{p}.gtype").alias(f"gt{side}"),
            )
        return df.select(
            "*", u_geo_summary(F.col(f"wkt_{side}")).alias("__s")
        ).select(
            "*",
            F.col("__s.cx").alias(f"c{c_pfx}x"),
            F.col("__s.cy").alias(f"c{c_pfx}y"),
            F.col("__s.npts").alias(f"np{side}"),
            F.col("__s.gtype").alias(f"gt{side}"),
        ).drop("__s")

    a = _side(poi_a, "a", "a")
    b = _side(poi_b, "b", "b")
    if broadcast_pois:
        a, b = F.broadcast(a), F.broadcast(b)
    return links.join(a, links.node_a == a.subject_a, "inner").join(
        b, links.node_b == b.subject_b, "inner"
    )


def fuse(pairs: DataFrame, transformation: str, params: FusionParams | None = None) -> DataFrame:
    """Apply one fusion transformation to linked pairs -> fused rows.

    Output: (subject_a, subject_b, geom_wkt) — the reference's
    ``fused_geometries`` relation (schema.sql:70-77).
    """
    p = params or FusionParams()
    t = transformation
    if t not in TRANSFORMATIONS:
        raise ValueError(f"unknown transformation {t!r}; known: {sorted(TRANSFORMATIONS)}")

    if t == "most_points":  # KeepMostPointsTransformation.java:62-84
        # pure JVM: CASE on the summary npoints (whole-stage codegen, no
        # Python at all)
        return pairs.select(
            "subject_a",
            "subject_b",
            F.when(F.col("npa") >= F.col("npb"), F.col("wkt_a"))
            .otherwise(F.col("wkt_b"))
            .alias("geom_wkt"),
        )
    if t == "concatenation":  # Concatenation.java:66-81 — WKT string concat
        return pairs.select(
            "subject_a",
            "subject_b",
            F.concat(
                F.lit("GEOMETRYCOLLECTION ("), F.col("wkt_a"), F.lit(", "), F.col("wkt_b"), F.lit(")")
            ).alias("geom_wkt"),
        )
    if t in ("shift_a_to_b", "shift_b_to_a"):
        # rotate -> resize -> translate shift%% of centroid displacement
        # (ShiftAToB.java:190-232 / ShiftBToA.java:190-232). The
        # destination centroid is a summary column, so only the SOURCE
        # geometry is parsed — and the fused centroid comes out of the
        # same pass (fused_cx/fused_cy), so downstream consumers never
        # re-parse the output WKT.
        if t == "shift_a_to_b":
            src, cdx, cdy = "wkt_a", "cbx", "cby"
        else:
            src, cdx, cdy = "wkt_b", "cax", "cay"
        shifted = pairs.withColumn(
            "__sh",
            u_shift_pre(
                F.col(src),
                F.col(cdx),
                F.col(cdy),
                F.lit(p.shift_pct / 100.0),
                F.lit(float(p.rotate_deg)),
                F.lit(float(p.scale_f)),
                F.lit(bool(p.metric_rotation)),
            ),
        )
        return shifted.select(
            "subject_a",
            "subject_b",
            F.col("__sh.wkt").alias("geom_wkt"),
            F.col("__sh.cx").alias("fused_cx"),
            F.col("__sh.cy").alias("fused_cy"),
        )
    if t == "avg_points":  # AvgTwoPointsTransformation.java:18-65 (POINTs only)
        both_pts = (F.col("gta") == "POINT") & (F.col("gtb") == "POINT")
        return pairs.filter(both_pts).select(
            "subject_a",
            "subject_b",
            u_midpoint_wkt(F.col("cax"), F.col("cay"), F.col("cbx"), F.col("cby")).alias("geom_wkt"),
        )
    if t == "shift_poly_to_point":  # ShiftPolygonToPoint.java:98-117
        return pairs.select(
            "subject_a",
            "subject_b",
            u_translate(
                F.col("wkt_b"), F.col("cax") - F.col("cbx"), F.col("cay") - F.col("cby")
            ).alias("geom_wkt"),
        )
    if t == "shift_poly_avg_dist":  # ShiftPolygonToAverageDistance.java:98-116
        return pairs.select(
            "subject_a",
            "subject_b",
            u_translate(
                F.col("wkt_b"),
                (F.col("cax") - F.col("cbx")) / 2.0,
                (F.col("cay") - F.col("cby")) / 2.0,
            ).alias("geom_wkt"),
        )
    if t == "most_points_translate":  # KeepMostPointsAndTranslateTransformation.java:130-155
        c = pairs.withColumn("__a_wins", F.col("npa") >= F.col("npb"))
        kept = F.when(F.col("__a_wins"), F.col("wkt_a")).otherwise(F.col("wkt_b"))
        dx = F.when(F.col("__a_wins"), F.col("cbx") - F.col("cax")).otherwise(
            F.col("cax") - F.col("cbx")
        )
        dy = F.when(F.col("__a_wins"), F.col("cby") - F.col("cay")).otherwise(
            F.col("cay") - F.col("cby")
        )
        return c.select(
            "subject_a", "subject_b", u_translate(kept, dx, dy).alias("geom_wkt")
        )
    if t in ("scale_a", "scale_b"):  # ScaleTransformation.java:114-140 (ST_Scale about origin)
        from fagi_gis_spark.functions.geo_udfs import u_scale_origin

        src = "wkt_a" if t == "scale_a" else "wkt_b"
        return pairs.select(
            "subject_a",
            "subject_b",
            u_scale_origin(F.col(src), F.lit(float(p.scale_f))).alias("geom_wkt"),
        )
    raise AssertionError(t)


def _one_side(links: DataFrame, poi: DataFrame, side: str) -> DataFrame:
    """J1/J2 (SURVEY.md §2.2): the Keep-A/Keep-B family joins ONLY its own
    layer — a link whose other endpoint is missing still fuses
    (KeepLeftTransformation.java:48-59 joins links to dataset A alone)."""
    key = f"node_{side}"
    p = poi.select(F.col("subject").alias("__s"), F.col("geom_wkt").alias("geom_wkt"))
    return (
        links.join(p, links[key] == p.__s, "inner")
        .select(
            F.col("node_a").alias("subject_a"),
            F.col("node_b").alias("subject_b"),
            "geom_wkt",
        )
    )


#: transformations whose FUSED CENTROID is a closed form of the two
#: source centroids (+ npoints): rotate/resize act about the source
#: centroid and translate moves it linearly, so the output centroid
#: never depends on the geometry's shape.  Expressions below are written
#: exactly as the reference/oracle SQL states them (pure IEEE +,-,x,/
#: chains — deterministic across engines).
_CENTROID_CLOSED_FORMS = {
    "shift_a_to_b",
    "shift_b_to_a",
    "shift_poly_to_point",
    "shift_poly_avg_dist",
    "most_points_translate",
    "scale_a",
    "scale_b",
}


def fused_centroids(
    pairs: DataFrame, transformation: str, params: FusionParams | None = None
) -> DataFrame:
    """Fused centroid WITHOUT materializing the fused geometry — for
    consumers that only read the centroid (the ``*_e9`` query family).
    Reads only the summary columns linked_pairs attaches; output
    (subject_a, subject_b, fused_cx, fused_cy) carries the identical
    values the full fuse() + centroid pass produces, because every
    transformation here moves the centroid by a closed-form linear map
    of (ca, cb):

    * shift_a_to_b / shift_b_to_a — c_src + s*(c_dst - c_src): the
      kernel's own emission (rotate/resize are about c_src, translate
      adds the displacement to every vertex, hence to the mean).
    * shift_poly_to_point — B translated by (ca - cb): centroid ca.
    * shift_poly_avg_dist — B translated by (ca - cb)/2.
    * most_points_translate — kept geometry translated onto the other's
      centroid: the destination centroid, selected by npoints.
    * scale_a / scale_b — ST_Scale about the ORIGIN: centroid scales by f.
    """
    p = params or FusionParams()
    t = transformation
    if t not in _CENTROID_CLOSED_FORMS:
        raise ValueError(f"no closed-form centroid for {t!r}")
    ca_x, ca_y, cb_x, cb_y = (F.col(c) for c in ("cax", "cay", "cbx", "cby"))
    if t in ("shift_a_to_b", "shift_b_to_a"):
        s = F.lit(p.shift_pct / 100.0)
        if t == "shift_a_to_b":
            cx, cy = ca_x + s * (cb_x - ca_x), ca_y + s * (cb_y - ca_y)
        else:
            cx, cy = cb_x + s * (ca_x - cb_x), cb_y + s * (ca_y - cb_y)
    elif t == "shift_poly_to_point":
        cx, cy = ca_x, ca_y
    elif t == "shift_poly_avg_dist":
        cx, cy = cb_x + (ca_x - cb_x) / 2.0, cb_y + (ca_y - cb_y) / 2.0
    elif t == "most_points_translate":
        a_wins = F.col("npa") >= F.col("npb")
        cx = F.when(a_wins, cb_x).otherwise(ca_x)
        cy = F.when(a_wins, cb_y).otherwise(ca_y)
    else:  # scale_a / scale_b about the origin
        src_x, src_y = (ca_x, ca_y) if t == "scale_a" else (cb_x, cb_y)
        f_ = F.lit(float(p.scale_f))
        cx, cy = src_x * f_, src_y * f_
    return pairs.select(
        "subject_a", "subject_b", cx.alias("fused_cx"), cy.alias("fused_cy")
    )


def fuse_all(
    links: DataFrame,
    poi_a: DataFrame,
    poi_b: DataFrame,
    transformation: str,
    params: FusionParams | None = None,
) -> DataFrame:
    """Dispatch one transformation over the full links set.

    keep_a / keep_b need only one join (J1/J2); keep_both is their union
    (two rows per link, KeepBothTransformation.java:54-73); everything
    else consumes the 3-way linked_pairs join (J3).
    """
    if transformation == "keep_a":
        return _one_side(links, poi_a, "a")
    if transformation == "keep_b":
        return _one_side(links, poi_b, "b")
    if transformation == "keep_both":
        return _one_side(links, poi_a, "a").unionByName(_one_side(links, poi_b, "b"))
    return fuse(linked_pairs(links, poi_a, poi_b), transformation, params)


def fuse_cluster(
    cluster_links: DataFrame,
    poi_a: DataFrame,
    poi_b: DataFrame,
    transformation: str,
    params: FusionParams | None = None,
) -> DataFrame:
    """fuseCluster: identical SQL with the cluster subset substituted for
    links (KeepLeftTransformation.java:62-73)."""
    return fuse_all(cluster_links, poi_a, poi_b, transformation, params)


def scores_quantized(pairs: DataFrame, threshold_m: float = 500.0) -> DataFrame:
    """Shift-suitability scores derived from an integer-quantized squared
    centroid distance (pico-deg^2). Closed-form centroids land on the
    micro-degree lattice, so dist^2 * 1e12 is integer-valued; quantizing
    first makes the threshold gate and the score bit-stable against the
    ~1e-12 numerical error of the shoelace centroid (a raw round(dist, 4)
    flips on half-boundaries). Output:
    (subject_a, subject_b, dist2_e12, score) with score computed from the
    quantized value by the same expression the oracle uses."""
    dx = F.col("cax") - F.col("cbx")
    dy = F.col("cay") - F.col("cby")
    dist2_e12 = F.round((dx * dx + dy * dy) * F.lit(1e12)).cast("long")
    t_deg = threshold_m / DEG_TO_M
    t_e12 = int(t_deg * t_deg * 1e12)  # same integer literal in the oracle
    dist_m = F.sqrt(F.col("dist2_e12").cast("double") / F.lit(1e12)) * F.lit(DEG_TO_M)
    gate = (
        (F.col("gta") == "POINT")
        & (F.col("gtb") == "POLYGON")
        & (F.col("dist2_e12") <= F.lit(t_e12))
    )
    return (
        pairs.withColumn("dist2_e12", dist2_e12)
        .withColumn(
            "score",
            F.when(
                gate, F.sqrt((F.lit(threshold_m) - dist_m) / F.lit(threshold_m))
            ).otherwise(F.lit(0.0)),
        )
        .select("subject_a", "subject_b", "dist2_e12", "score")
    )


def u_metric_centroid_dist(srid: int):
    """Arrow UDF computing ST_Distance(ST_Centroid(ST_Transform(a, srid)),
    ST_Centroid(ST_Transform(b, srid))) — the reference's metric-frame
    link displacement (ShiftAToB.score:141 uses SRID 900913 with geometry
    A un-centroided, which coincides with this for the POINT-A pairs its
    type gate accepts; GeoClusterer.calculateDistance:257 uses SRID 2163
    on both centroids). The full geometry is reprojected FIRST, then the
    centroid is taken in the projected frame, exactly like PostGIS."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as _T

    from fagi_gis_spark.geometry.measures import centroid as _centroid
    from fagi_gis_spark.geometry.projection import projection_for_srid
    from fagi_gis_spark.geometry.wkt import map_coords, parse_wkt as _parse

    proj = projection_for_srid(srid)

    def fwd(c):
        x, y = proj.forward(c[:, 0], c[:, 1])
        return np.column_stack((x, y))

    # no parameter annotations: the module's `from __future__ import
    # annotations` stringifies hints with names local to this factory,
    # which pandas_udf's resolver cannot evaluate — returnType suffices
    @F.pandas_udf(_T.DoubleType())
    def _udf(wkt_a, wkt_b):
        out = []
        for a, b in zip(wkt_a, wkt_b):
            ga = _parse(a) if a else None
            gb = _parse(b) if b else None
            if ga is None or gb is None:
                out.append(None)
                continue
            ca = _centroid(map_coords(ga, fwd))
            cb = _centroid(map_coords(gb, fwd))
            dx, dy = ca[0] - cb[0], ca[1] - cb[1]
            out.append(float((dx * dx + dy * dy) ** 0.5))
        return pd.Series(out, dtype="float64")

    return _udf


def with_scores(
    pairs: DataFrame,
    transformation: str,
    threshold_m: float = 500.0,
    metric_srid: int | None = None,
) -> DataFrame:
    """Transformation-suitability score per link (SURVEY.md §2.3 scoring).

    keep-variants: constant 1.0 (KeepLeftTransformation.java:33-35).
    shifts: gated on GeometryType(a)=POINT ∧ GeometryType(b)=POLYGON ∧
    dist <= threshold; score = sqrt((threshold - dist)/threshold); a
    threshold of -1 means always 1.0 (ShiftAToB.score:138-177). The
    reference measures dist via ST_Transform to a metric SRID
    (ShiftAToB.score:141, SRID 900913); pass ``metric_srid=900913`` for
    that exact semantics (closed-form spherical Mercator,
    geometry/projection.py). The default stays the planar degree distance
    x 111195 (the reference's own quick factor, Constants.java:79-80) —
    the engine's documented fast path with the same gating behavior, and
    the oracle-parity semantics.
    """
    if metric_srid is not None:
        dist_m = u_metric_centroid_dist(metric_srid)(F.col("wkt_a"), F.col("wkt_b"))
    else:
        dist_m = (
            F.sqrt(
                (F.col("cax") - F.col("cbx")) * (F.col("cax") - F.col("cbx"))
                + (F.col("cay") - F.col("cby")) * (F.col("cay") - F.col("cby"))
            )
            * F.lit(DEG_TO_M)
        )
    if transformation in ("keep_a", "keep_b", "keep_both", "most_points", "concatenation"):
        score = F.lit(1.0)
    elif transformation in ("shift_a_to_b", "shift_b_to_a", "most_points_translate"):
        # the reference checks the POINT/POLYGON gate BEFORE the
        # threshold==-1 shortcut (ShiftAToB.score:138-177), so mismatched
        # types score 0 even with no threshold.
        type_gate = (F.col("gta") == "POINT") & (F.col("gtb") == "POLYGON")
        if threshold_m < 0:
            score = F.when(type_gate, F.lit(1.0)).otherwise(F.lit(0.0))
        else:
            gate = type_gate & (dist_m <= F.lit(threshold_m))
            score = F.when(
                gate, F.sqrt((F.lit(threshold_m) - dist_m) / F.lit(threshold_m))
            ).otherwise(F.lit(0.0))
    elif transformation == "avg_points":
        score = F.when(
            (F.col("gta") == "POINT") & (F.col("gtb") == "POINT"), 1.0
        ).otherwise(0.0)
    else:
        score = F.lit(0.0)
    return pairs.withColumn("dist_m", dist_m).withColumn("score", score)
