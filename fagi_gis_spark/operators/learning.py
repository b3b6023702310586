"""Fusion-action learning — SURVEY.md §2.6 A8/A9.

Reference: liblinear L2R_L2LOSS_SVC (solver 2), C=0.1, EPS=0.01
(/root/reference/fagi-gis/src/main/java/gr/athenainnovation/imis/fusion/gis/learning/core/TrainWorker.java:31-32,90);
features = BooleanVector.createGeometryFeatures
(learning/vectors/BooleanVector.java:56-105, bins to :812). Spark-first:
features as ONE Arrow-batched pandas UDF emitting a dense vector, MLlib
LinearSVC (same squared-hinge L2 SVM family) for training, distributed
transform for prediction.

Dense feature layout — same driver list and bin edges as the reference,
in order (reference method : slots):

====================================  =====  =========
geometryTypeFeature (any-side bits)   8      [0,8)
percentageOfAreaDifference            20     [8,28)
percentageOfPointsDifference          21     [28,49)
percentageOfMeanEdgeDifference        21     [49,70)
percentageOfMeanEdgeAverage           32     [70,102)
percentageOfVariance                  21     [102,123)
cross/touch/intersect/within×2/
contains×2 (JTS relate)               7      [123,130)
sumOfNumberOfPointsFeature            11     [130,141)
linkLength (centroid dist ×1e6)       5      [141,146)
unitVectorAngle                       4      [146,150)
sumOfArea                             25     [150,175)
====================================  =====  =========

The %-loop slot counts include the accumulation quirk: Java's
``for(step=-1; step<1; step+=0.1)`` accumulates to 0.9999999999999998
(still < 1), so the loop body runs 21 times from start=-1 and 20 times
from start=-0.9 — one more comparison than the closed form suggests.
pct in [0.8999999999999998, 0.9999999999999998) therefore lands in that
final accumulated slot; only pct >= 0.9999999999999998 (and NaN) falls
through with no bit set.

Fidelity notes (deliberate, documented):
* the reference emits sparse liblinear ids whose increments don't match
  the branch counts (e.g. SUM_OF_AREA_FEATURES=10 for 25 branches,
  linkLength writes id+1 in EVERY branch) — so several reference features
  collide on the same index. The dense layout keeps every bin
  distinguishable instead of replicating the id collisions.
* percentageOfPointsDifference replicates the reference's INTEGER
  division ((pointsA-pointsB)/maxPoints in Java ints truncates toward
  zero), so its value is in {-1, 0, 1} exactly as trained models see it.
* a %-bin loop that falls through (value >= last step, or NaN from 0/0)
  sets NO bit — same as the reference's for-loop running off the end.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fagi_gis_spark.geometry.measures import area, centroid, npoints
from fagi_gis_spark.geometry.topology import relate_flags
from fagi_gis_spark.geometry.wkt import Geom, parse_wkt

# any-side type bits, reference order (BooleanVector.java:106-149)
_TYPE_BITS = [
    "LINESTRING",
    "POLYGON",
    "LINEARRING",  # LinearRing/CircularString — never produced by this engine
    "POINT",
    "MULTILINESTRING",
    "MULTIPOLYGON",
    "MULTIPOINT",
    "GEOMETRYCOLLECTION",
]

_MEANS_AVG_EDGES = [
    0.5, 1.0, 1.5, 2.0, 2.5, 3.0, 3.5, 4.0, 4.5, 5.0, 5.5, 6.0, 6.5, 7.0, 7.5, 8.0,
    8.5, 9.0, 9.5, 10.0, 11.0, 12.0, 15.0, 20.0, 25.0, 30.0, 35.0, 40.0, 50.0, 100.0,
    200.0,
]  # + else = 32 bins (BooleanVector.java:531-658)
_SUM_POINTS_EDGES = [10, 20, 30, 40, 50, 75, 100, 150, 200, 300]  # + else = 11
_SUM_AREA_EDGES = [
    50, 100, 150, 200, 250, 300, 350, 400, 450, 500, 750, 1000, 1250, 1500, 1750,
    2000, 2250, 2500, 2750, 3000, 3500, 4000, 5000, 10000,
]  # + else = 25
_DIST_EDGES = [4.0, 6.0, 8.0, 15.0]  # + else = 5 (linkLength, dist ×1e6)
_ANGLE_EDGES = [-math.pi / 4, 0.0, math.pi / 4]  # + else = 4

N_FEATURES = 8 + 20 + 21 + 21 + 32 + 21 + 7 + 11 + 5 + 4 + 25  # = 175
N_OWL_FEATURES = 20  # createOWLFeatures (BooleanVector.java:765-806)

def _pct_bin(pct: float, start: float, n: int) -> int | None:
    """First i in [0,n) with pct < step, where step ACCUMULATES by 0.1
    from ``start`` — exactly the reference's for-loop
    (``for(step=-0.9; step<1; step+=0.1)``). The accumulation matters:
    repeated double addition gives e.g. 0.4999999999999999 at the 0.5
    boundary, so pct==0.5 lands one bin higher than the closed form
    start+0.1*i would put it. None = fell through (incl. NaN)."""
    step = start
    for i in range(n):
        if pct < step:
            return i
        step += 0.1
    return None


def _edge_bin(x: float, edges: list) -> int:
    for i, e in enumerate(edges):
        if x < e:
            return i
    return len(edges)


def _flat_coords(g: Geom) -> np.ndarray:
    """All coordinates in serialization order — the analogue of JTS
    Geometry.getCoordinates(), which the reference feeds to the edge-mean
    loop INCLUDING the spurious part-to-part and ring-closure joins."""
    t = g.gtype
    if t in ("POINT", "MULTIPOINT", "LINESTRING"):
        return np.asarray(g.data, dtype=float)
    if t in ("MULTILINESTRING", "POLYGON"):
        return np.vstack([np.asarray(p, dtype=float) for p in g.data])
    if t == "MULTIPOLYGON":
        return np.vstack(
            [np.asarray(r, dtype=float) for poly in g.data for r in poly]
        )
    # GEOMETRYCOLLECTION
    return np.vstack([_flat_coords(part) for part in g.data])


def _edge_stats(g: Geom) -> tuple[float, float]:
    """(mean, variance) of consecutive-coordinate edge lengths —
    BooleanVector.percentageOfMeanEdgeDifference (POINT contributes one
    zero-length pseudo-edge, like the reference)."""
    if g.gtype == "POINT":
        return 0.0, 0.0
    c = _flat_coords(g)
    if len(c) < 2:
        return 0.0, 0.0
    d = np.sqrt(((c[1:] - c[:-1]) ** 2).sum(axis=1))
    mean = float(d.mean())
    return mean, float(((d - mean) ** 2).mean())


_FEAT_SCHEMA = T.ArrayType(T.DoubleType())


def pair_feature_vector(ga: Geom | None, gb: Geom | None) -> np.ndarray:
    """One pair's dense BooleanVector (plain-python kernel, shared by the
    Arrow UDF and the pytest differential oracle)."""
    v = np.zeros(N_FEATURES, dtype=np.float64)
    if ga is None or gb is None:
        return v
    ta, tb = ga.gtype, gb.gtype

    # 1. any-side geometry-type bits
    for i, t in enumerate(_TYPE_BITS):
        if ta == t or tb == t:
            v[i] = 1.0

    # 2. %Δ area (reference: (areaA-areaB)/maxArea, 0 if both 0)
    aa, ab = area(ga), area(gb)
    mx = max(aa, ab)
    pct_area = 0.0 if (aa == 0 and ab == 0) else (aa - ab) / mx
    b = _pct_bin(pct_area, -0.9, 20)
    if b is not None:
        v[8 + b] = 1.0

    # 3. %Δ points — Java INT division (value in {-1,0,1})
    na, nb = npoints(ga), npoints(gb)
    mp = max(na, nb)
    pct_pts = 0.0 if (na == 0 and nb == 0) else float(int((na - nb) / mp))
    b = _pct_bin(pct_pts, -1.0, 21)
    if b is not None:
        v[28 + b] = 1.0

    # 4. %Δ mean edge (NaN when both means are 0 -> no bit, like Java)
    mean_a, var_a = _edge_stats(ga)
    mean_b, var_b = _edge_stats(gb)
    max_mean = max(mean_a, mean_b)
    pct_mean = (mean_a - mean_b) / max_mean if max_mean != 0 else float("nan")
    b = _pct_bin(pct_mean, -1.0, 21)
    if b is not None:
        v[49 + b] = 1.0

    # 5. mean-of-means bins
    v[70 + _edge_bin((mean_a + mean_b) / 2.0, _MEANS_AVG_EDGES)] = 1.0

    # 6. %Δ edge variance
    max_var = max(var_a, var_b)
    pct_var = (var_a - var_b) / max_var if max_var != 0 else float("nan")
    b = _pct_bin(pct_var, -1.0, 21)
    if b is not None:
        v[102 + b] = 1.0

    # 7. topology bits: cross, touch, intersect, AwithinB, BwithinA,
    #    AcontainsB, BcontainsA (real relate, not bbox proxies)
    try:
        flags = relate_flags(ga, gb)
        for i, f in enumerate(flags):
            v[123 + i] = float(f)
    except ValueError:
        pass  # GEOMETRYCOLLECTION etc: JTS would throw inside relate too

    # 8. Σ points bins
    v[130 + _edge_bin(na + nb, _SUM_POINTS_EDGES)] = 1.0

    # 9. centroid distance ×1e6 bins (reference uses raw coordinate-space
    #    distance — degrees here — times 1e6)
    ca, cb = centroid(ga), centroid(gb)
    # sqrt(dx^2+dy^2) exactly — JTS Coordinate.distance's formula (not
    # fused hypot), and bit-identical to the vectorized np.sqrt path
    _dx, _dy = ca[0] - cb[0], ca[1] - cb[1]
    dist = math.sqrt(_dx * _dx + _dy * _dy) * 1e6
    v[141 + _edge_bin(dist, _DIST_EDGES)] = 1.0

    # 10. unit-vector angle bins (atan(dy/dx); NaN from 0/0 falls into the
    #     reference's final else branch -> last bin)
    dx, dy = cb[0] - ca[0], cb[1] - ca[1]
    if dx == 0 and dy == 0:
        angle = float("nan")  # Java 0/0 -> NaN -> final else branch
    elif dx == 0:
        angle = math.copysign(math.pi / 2, dy)  # Java atan(±Infinity)
    else:
        angle = math.atan(dy / dx)  # slope = unitY/unitX == dy/dx
    bin_i = 3  # the reference's final else catches NaN and angle >= π/4
    for i, e in enumerate(_ANGLE_EDGES):
        if angle < e:
            bin_i = i
            break
    v[146 + bin_i] = 1.0

    # 11. Σ area bins
    v[150 + _edge_bin(aa + ab, _SUM_AREA_EDGES)] = 1.0
    return v


def owl_feature_slice(owl_a: str | None, owl_b: str | None) -> np.ndarray:
    """createOWLFeatures (BooleanVector.java:765-806): %Δ of the two
    sides' OWL class COUNTS (comma-joined class strings, Java split
    semantics: ''.split(',') has length 1), binned with the same -0.9..0.9
    percentage loop as the area feature (20 comparisons incl. the
    accumulated ~0.99999... step). 20 slots (the reference
    increments by OWL_CLASS=20 — one more sparse-id off-by-one)."""
    v = np.zeros(N_OWL_FEATURES, dtype=np.float64)
    size_a = len((owl_a or "").split(","))
    size_b = len((owl_b or "").split(","))
    pct = (size_a - size_b) / max(size_a, size_b)
    b = _pct_bin(pct, -0.9, 20)
    if b is not None:
        v[b] = 1.0
    return v


@F.pandas_udf(_FEAT_SCHEMA)
def u_pair_features(wkt_a: pd.Series, wkt_b: pd.Series) -> pd.Series:
    """BooleanVector.createGeometryFeatures per linked pair, one Arrow
    batch pass (see module docstring for the dense layout)."""
    out = []
    for a_s, b_s in zip(wkt_a, wkt_b):
        out.append(pair_feature_vector(parse_wkt(a_s), parse_wkt(b_s)).tolist())
    return pd.Series(out)


def pair_features(
    pairs: DataFrame, triples_a: DataFrame | None = None, triples_b: DataFrame | None = None
) -> DataFrame:
    """Feature vectors for linked pairs (input: linked_pairs output).

    With ``triples_a``/``triples_b`` supplied, each side's rdf:type
    objects are collected per subject (sorted, comma-joined — the
    MapPair.getOWLClassA wire form) and the OWL class-count slice is
    appended (195 dims); otherwise geometry features only (175 dims).

    Production path: per-layer primitives structs (one parse per POI
    row) + the vectorized numpy bin kernel; WKT is re-parsed only for the
    envelope-overlapping pairs that can have nonzero relate bits.
    Requires ``linked_pairs(..., feature_primitives=True)`` pairs, which
    carry the ``__pa``/``__pb`` structs (zero extra shuffles).
    """
    if triples_a is None or triples_b is None:
        return pairs.select(
            "subject_a",
            "subject_b",
            u_pair_features_fast(
                F.col("__pa"), F.col("__pb"), F.col("wkt_a"), F.col("wkt_b")
            ).alias("fv"),
        )
    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

    def classes(triples, out_col):
        return (
            triples.filter(F.col("predicate") == rdf_type)
            .groupBy("subject")
            .agg(F.array_join(F.array_sort(F.collect_set("object")), ",").alias(out_col))
        )

    ca = classes(triples_a, "owl_a").withColumnRenamed("subject", "subject_a")
    cb = classes(triples_b, "owl_b").withColumnRenamed("subject", "subject_b")
    joined = pairs.join(ca, "subject_a", "left").join(cb, "subject_b", "left")
    return joined.select(
        "subject_a",
        "subject_b",
        u_pair_features_owl_fast(
            F.col("__pa"),
            F.col("__pb"),
            F.col("wkt_a"),
            F.col("wkt_b"),
            F.col("owl_a"),
            F.col("owl_b"),
        ).alias("fv"),
    )


def train_action_classifier(
    labeled: DataFrame,
    label_col: str = "label",
    reg: float = 0.1,
    tol: float = 0.01,
    max_iter: int = 100,
):
    """Train the fusion-action SVM. ``labeled`` = pair_features output +
    binary label column. Hyperparameters mirror TrainWorker.java:31-32
    (C=0.1 -> regParam, EPS=0.01 -> tol)."""
    from pyspark.ml.classification import LinearSVC
    from pyspark.ml.functions import array_to_vector

    df = labeled.withColumn("features", array_to_vector(F.col("fv")))
    svc = LinearSVC(
        regParam=reg, tol=tol, maxIter=max_iter, labelCol=label_col, featuresCol="features"
    )
    return svc.fit(df)


def predict_actions(model, feats: DataFrame) -> DataFrame:
    """Distributed prediction (Predictor.getPrediction:26-56 analogue)."""
    from pyspark.ml.functions import array_to_vector

    df = feats.withColumn("features", array_to_vector(F.col("fv")))
    return model.transform(df).select(
        "subject_a", "subject_b", F.col("prediction").cast("int").alias("action_pred")
    )


# ---------------------------------------------------------------------------
# Vectorized feature path (the 100 TB shape)
#
# The per-row kernels above parse WKT once per PAIR; a geometry linked to
# many entities is re-parsed once per link. The production path below
# parses each DISTINCT geometry exactly once per layer into a primitives
# struct (type, area, npoints, edge mean/variance, centroid, rectangle
# bit, envelope), joins the structs to the pairs, and computes every bin
# family as pure numpy over columns (np.searchsorted against the same
# accumulated step / edge arrays — condition `x < edge` == side="right").
# Only the topology family still needs real geometry, and only for pairs
# whose ENVELOPES intersect (disjoint envelopes => all 7 relate bits are
# 0), so the per-row parse+relate loop runs on the tiny candidate subset.
# pair_feature_vector stays as the differential oracle kernel.
# ---------------------------------------------------------------------------


def _is_rectangle(g: Geom) -> bool:
    """JTS Geometry.isRectangle: a single-ring polygon of 5 points whose
    vertices all sit on the corners of its own envelope (used by the
    TagFeatures slice; computed here so the primitives pass covers both
    feature extractors)."""
    if g.gtype != "POLYGON" or len(g.data) != 1:
        return False
    ring = np.asarray(g.data[0], dtype=float)
    if len(ring) != 5:
        return False
    xs, ys = ring[:, 0], ring[:, 1]
    xmin, xmax, ymin, ymax = xs.min(), xs.max(), ys.min(), ys.max()
    for x, y in ring[:-1]:
        if x not in (xmin, xmax) or y not in (ymin, ymax):
            return False
    return True


def _accum_steps(start: float, n: int) -> np.ndarray:
    """The Java loop's actual step sequence (double accumulation)."""
    out, s = [], start
    for _ in range(n):
        out.append(s)
        s += 0.1
    return np.asarray(out, dtype=np.float64)


_PCT_STEPS_M10 = _accum_steps(-1.0, 21)  # points / mean-edge / variance
_PCT_STEPS_M09 = _accum_steps(-0.9, 20)  # area / OWL

_PRIM_SCHEMA = T.StructType(
    [
        T.StructField("gtype", T.StringType()),
        T.StructField("garea", T.DoubleType()),
        T.StructField("npts", T.IntegerType()),
        T.StructField("edge_mean", T.DoubleType()),
        T.StructField("edge_var", T.DoubleType()),
        T.StructField("cx", T.DoubleType()),
        T.StructField("cy", T.DoubleType()),
        T.StructField("is_rect", T.BooleanType()),
        T.StructField("minx", T.DoubleType()),
        T.StructField("miny", T.DoubleType()),
        T.StructField("maxx", T.DoubleType()),
        T.StructField("maxy", T.DoubleType()),
    ]
)


def primitives_of(s: str | None) -> dict:
    """One geometry's primitives (plain kernel shared by the Arrow UDF and
    the pytest differential)."""
    from fagi_gis_spark.geometry.measures import bbox

    out = {
        "gtype": None, "garea": 0.0, "npts": 0, "edge_mean": 0.0,
        "edge_var": 0.0, "cx": float("nan"), "cy": float("nan"),
        "is_rect": False, "minx": float("nan"), "miny": float("nan"),
        "maxx": float("nan"), "maxy": float("nan"),
    }
    if not s:
        return out
    try:
        g = parse_wkt(s)
    except ValueError:
        g = None  # malformed WKT -> null primitives (all-zero feature row)
    if g is None:
        return out
    out["gtype"] = g.gtype
    out["garea"] = area(g)
    out["npts"] = npoints(g)
    out["edge_mean"], out["edge_var"] = _edge_stats(g)
    c = centroid(g)
    if c is not None:
        out["cx"], out["cy"] = c
    out["is_rect"] = _is_rectangle(g)
    bb = bbox(g)
    if bb is not None:
        out["minx"], out["miny"], out["maxx"], out["maxy"] = bb
    return out


@F.pandas_udf(_PRIM_SCHEMA)
def u_feat_primitives(wkt: pd.Series) -> pd.DataFrame:
    """ONE parse per geometry -> full feature primitives struct."""
    return pd.DataFrame([primitives_of(s) for s in wkt])


def _scatter(M: np.ndarray, rows: np.ndarray, offset: int, bins: np.ndarray, n: int):
    ok = bins < n
    M[rows[ok], offset + bins[ok]] = 1.0


def pair_feature_matrix(
    pa: pd.DataFrame, pb: pd.DataFrame, wkt_a: pd.Series, wkt_b: pd.Series
) -> np.ndarray:
    """Vectorized BooleanVector.createGeometryFeatures over primitive
    columns — bit-identical to pair_feature_vector row by row."""
    n = len(pa)
    M = np.zeros((n, N_FEATURES), dtype=np.float64)
    rows = np.arange(n)
    ta = pa["gtype"].to_numpy(dtype=object)
    tb = pb["gtype"].to_numpy(dtype=object)
    valid = np.array([a is not None and b is not None for a, b in zip(ta, tb)])

    # 1. any-side type bits
    for i, t in enumerate(_TYPE_BITS):
        M[(ta == t) | (tb == t), i] = 1.0

    with np.errstate(divide="ignore", invalid="ignore"):
        # 2. %Δ area
        aa = pa["garea"].to_numpy(np.float64)
        ab = pb["garea"].to_numpy(np.float64)
        pct_area = np.where((aa == 0) & (ab == 0), 0.0, (aa - ab) / np.maximum(aa, ab))
        _scatter(M, rows, 8, np.searchsorted(_PCT_STEPS_M09, pct_area, side="right"), 20)

        # 3. %Δ points (Java INT division -> trunc toward zero)
        na = pa["npts"].fillna(0).to_numpy(np.float64)
        nb = pb["npts"].fillna(0).to_numpy(np.float64)
        pct_pts = np.where(
            (na == 0) & (nb == 0), 0.0, np.trunc((na - nb) / np.maximum(na, nb))
        )
        _scatter(M, rows, 28, np.searchsorted(_PCT_STEPS_M10, pct_pts, side="right"), 21)

        # 4. %Δ mean edge (0/0 -> NaN -> searchsorted lands past the end -> no bit)
        ma = pa["edge_mean"].to_numpy(np.float64)
        mb = pb["edge_mean"].to_numpy(np.float64)
        pct_mean = (ma - mb) / np.maximum(ma, mb)
        _scatter(M, rows, 49, np.searchsorted(_PCT_STEPS_M10, pct_mean, side="right"), 21)

        # 5. mean-of-means bins (else bin is a real slot)
        M[rows, 70 + np.searchsorted(_MEANS_AVG_EDGES, (ma + mb) / 2.0, side="right")] = 1.0

        # 6. %Δ edge variance
        va = pa["edge_var"].to_numpy(np.float64)
        vb = pb["edge_var"].to_numpy(np.float64)
        pct_var = (va - vb) / np.maximum(va, vb)
        _scatter(M, rows, 102, np.searchsorted(_PCT_STEPS_M10, pct_var, side="right"), 21)

        # 8. Σ points
        M[rows, 130 + np.searchsorted(_SUM_POINTS_EDGES, na + nb, side="right")] = 1.0

        # 9. centroid distance ×1e6 (sqrt(dx²+dy²) — JTS Coordinate.distance)
        cax, cay = pa["cx"].to_numpy(np.float64), pa["cy"].to_numpy(np.float64)
        cbx, cby = pb["cx"].to_numpy(np.float64), pb["cy"].to_numpy(np.float64)
        ddx, ddy = cax - cbx, cay - cby
        dist = np.sqrt(ddx * ddx + ddy * ddy) * 1e6
        M[rows, 141 + np.searchsorted(_DIST_EDGES, dist, side="right")] = 1.0

        # 10. unit-vector angle: atan(dy/dx); x/0 -> ±Inf -> ±π/2, 0/0 ->
        #     NaN -> final else bin — Java double division semantics exactly
        ang = np.arctan((cby - cay) / (cbx - cax))
        M[rows, 146 + np.searchsorted(_ANGLE_EDGES, ang, side="right")] = 1.0

        # 11. Σ area
        M[rows, 150 + np.searchsorted(_SUM_AREA_EDGES, aa + ab, side="right")] = 1.0

    # 7. topology bits — only pairs whose envelopes intersect can set any
    #    relate bit; parse exactly those
    minxa, minya = pa["minx"].to_numpy(np.float64), pa["miny"].to_numpy(np.float64)
    maxxa, maxya = pa["maxx"].to_numpy(np.float64), pa["maxy"].to_numpy(np.float64)
    minxb, minyb = pb["minx"].to_numpy(np.float64), pb["miny"].to_numpy(np.float64)
    maxxb, maxyb = pb["maxx"].to_numpy(np.float64), pb["maxy"].to_numpy(np.float64)
    env_overlap = ~(
        (maxxa < minxb) | (maxxb < minxa) | (maxya < minyb) | (maxyb < minya)
    )
    for i in np.nonzero(env_overlap & valid)[0]:
        try:
            ga, gb = parse_wkt(wkt_a.iat[i]), parse_wkt(wkt_b.iat[i])
        except ValueError:
            continue  # malformed WKT -> no topology bits (primitives_of idiom)
        if ga is None or gb is None:
            continue
        try:
            flags = relate_flags(ga, gb)
        except ValueError:
            continue  # GEOMETRYCOLLECTION etc: JTS throws inside relate too
        for j, fl in enumerate(flags):
            M[i, 123 + j] = float(fl)

    M[~valid] = 0.0  # missing geometry on either side -> all-zero vector
    return M


def owl_feature_matrix(owl_a: pd.Series, owl_b: pd.Series) -> np.ndarray:
    """Vectorized createOWLFeatures (class-COUNT %Δ; Java ''.split(',')
    has length 1, so null/empty counts as one class)."""
    n = len(owl_a)
    M = np.zeros((n, N_OWL_FEATURES), dtype=np.float64)
    sa = owl_a.fillna("").str.count(",").to_numpy(np.float64) + 1.0
    sb = owl_b.fillna("").str.count(",").to_numpy(np.float64) + 1.0
    pct = (sa - sb) / np.maximum(sa, sb)
    _scatter(M, np.arange(n), 0, np.searchsorted(_PCT_STEPS_M09, pct, side="right"), 20)
    return M


@F.pandas_udf(_FEAT_SCHEMA)
def u_pair_features_fast(
    pa: pd.DataFrame, pb: pd.DataFrame, wkt_a: pd.Series, wkt_b: pd.Series
) -> pd.Series:
    return pd.Series(list(pair_feature_matrix(pa, pb, wkt_a, wkt_b)))


@F.pandas_udf(_FEAT_SCHEMA)
def u_pair_features_owl_fast(
    pa: pd.DataFrame,
    pb: pd.DataFrame,
    wkt_a: pd.Series,
    wkt_b: pd.Series,
    owl_a: pd.Series,
    owl_b: pd.Series,
) -> pd.Series:
    geo = pair_feature_matrix(pa, pb, wkt_a, wkt_b)
    return pd.Series(list(np.hstack([geo, owl_feature_matrix(owl_a, owl_b)])))

