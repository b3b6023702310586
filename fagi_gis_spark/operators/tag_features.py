"""Tag-prediction geometry features — the reference's TagFeatures
extractor at full fidelity.

Reference: learning/tagprediction/TagFeatures.java
(/root/reference/fagi-gis/src/main/java/gr/athenainnovation/imis/fusion/gis/learning/tagprediction/TagFeatures.java)
— createGeometryFeaturesA (:37-400) and ...B (:401-764) emit the SAME
per-geometry feature list for each side of a pair; the tag predictor
(TagPredictor.java) trains liblinear multiclass over them.

Dense per-geometry layout (105 slots), reference order and bin edges:

========================================  =====  =========
geometry-type one-hot (LineString,
Polygon, LinearRing, Point)               4      [0,4)
isRectangle                               1      [4,5)
numberOfPoints bins (:765-822)            13     [5,18)
area bins, Polygon only (:822-927)        25     [18,43)
resembles-circle (:927-966 — the
reference's body is COMMENTED OUT and
always returns false; slot kept)          1      [43,44)
mean-edge bins (:130-226)                 23     [44,67)
normalized edge-variance bins
(variance/mean², :227-400; ==0 first,
then 36 edges, then a final else at
id+37 — 38 slots even though
NUMBER_OF_VARIANCE=37, one of the
reference's sparse-id overlaps)           38     [67,105)
========================================  =====  =========

A pair's vector is A-features ++ B-features (210). Every family here has
an else branch, so exactly one bit per family fires (unlike
BooleanVector's percentage loops, which can fall through).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fagi_gis_spark.geometry.measures import area, npoints
from fagi_gis_spark.geometry.wkt import Geom
from fagi_gis_spark.operators.learning import _edge_bin, _edge_stats, _is_rectangle

_NPTS_EDGES = [10, 20, 30, 40, 50, 75, 100, 150, 200, 300, 500, 1000]  # +else = 13
_AREA_EDGES = [
    50, 100, 150, 200, 250, 300, 350, 400, 450, 500, 750, 1000, 1250, 1500, 1750,
    2000, 2250, 2500, 2750, 3000, 3500, 4000, 5000, 10000,
]  # +else = 25
_MEAN_EDGES = [
    2, 4, 6, 8, 10, 12, 14, 16, 18, 20, 25, 30, 35, 40, 45, 50, 60, 70, 80, 90,
    100, 200,
]  # +else = 23
_VAR_EDGES = [
    0.005, 0.01, 0.02, 0.03, 0.04, 0.05, 0.06, 0.07, 0.08, 0.09, 0.1, 0.12, 0.14,
    0.16, 0.18, 0.20, 0.22, 0.24, 0.26, 0.28, 0.30, 0.32, 0.34, 0.36, 0.38, 0.40,
    0.42, 0.44, 0.46, 0.48, 0.5, 0.6, 0.7, 0.8, 0.9, 1.0,
]  # ==0 slot + 36 edges + else = 38

N_TAG_FEATURES = 4 + 1 + 13 + 25 + 1 + 23 + 38  # = 105
_TYPE_SLOTS = {"LINESTRING": 0, "POLYGON": 1, "LINEARRING": 2, "POINT": 3}


def tag_feature_vector(g: Geom | None) -> np.ndarray:
    """One geometry's dense TagFeatures slice (plain-python kernel,
    the pytest differential oracle for tag_feature_matrix)."""
    v = np.zeros(N_TAG_FEATURES, dtype=np.float64)
    if g is None:
        return v
    slot = _TYPE_SLOTS.get(g.gtype)
    if slot is not None:
        v[slot] = 1.0
    if _is_rectangle(g):
        v[4] = 1.0
    v[5 + _edge_bin(npoints(g), _NPTS_EDGES)] = 1.0
    if g.gtype == "POLYGON":  # area bins only for Polygon (:84-91)
        v[18 + _edge_bin(area(g), _AREA_EDGES)] = 1.0
    # slot 43: resembles-circle — always 0 (reference body commented out)
    mean, var = _edge_stats(g)
    v[44 + _edge_bin(mean, _MEAN_EDGES)] = 1.0
    # mean == 0 (e.g. POINT) -> Java 0.0/0.0 = NaN -> every comparison in
    # the chain is false -> the final else slot, NOT the ==0 slot
    nv = var / (mean * mean) if mean != 0 else float("nan")
    if nv == 0:
        v[67] = 1.0
    else:
        v[67 + 1 + _edge_bin(nv, _VAR_EDGES)] = 1.0  # NaN/else slot = 104
    return v


def tag_feature_matrix(p: pd.DataFrame) -> np.ndarray:
    """Vectorized TagFeatures over a primitives frame (one row per
    geometry; columns from learning.u_feat_primitives) — bit-identical to
    tag_feature_vector row by row. Every family is derivable from the
    per-geometry scalars, so no WKT is parsed here at all."""
    n = len(p)
    M = np.zeros((n, N_TAG_FEATURES), dtype=np.float64)
    rows = np.arange(n)
    gt = p["gtype"].to_numpy(dtype=object)
    valid = np.array([t is not None for t in gt])

    for t, slot in _TYPE_SLOTS.items():
        M[gt == t, slot] = 1.0
    M[p["is_rect"].fillna(False).to_numpy(dtype=bool), 4] = 1.0
    npts = p["npts"].fillna(0).to_numpy(np.float64)
    M[rows, 5 + np.searchsorted(_NPTS_EDGES, npts, side="right")] = 1.0
    is_poly = gt == "POLYGON"  # area bins only for Polygon (:84-91)
    ar = p["garea"].to_numpy(np.float64)
    M[rows[is_poly], 18 + np.searchsorted(_AREA_EDGES, ar[is_poly], side="right")] = 1.0
    # slot 43: resembles-circle — always 0 (reference body commented out)
    mean = p["edge_mean"].to_numpy(np.float64)
    var = p["edge_var"].to_numpy(np.float64)
    M[rows, 44 + np.searchsorted(_MEAN_EDGES, mean, side="right")] = 1.0
    # mean == 0 -> Java 0.0/0.0 = NaN -> every comparison false -> final
    # else slot (searchsorted sends NaN past every edge), NOT the ==0 slot
    with np.errstate(divide="ignore", invalid="ignore"):
        nv = var / (mean * mean)
    zero = nv == 0
    M[rows[zero], 67] = 1.0
    nz = ~zero
    M[rows[nz], 68 + np.searchsorted(_VAR_EDGES, nv[nz], side="right")] = 1.0

    M[~valid] = 0.0  # unparseable geometry -> all-zero slice
    return M


@F.pandas_udf(T.ArrayType(T.DoubleType()))
def u_pair_tag_features_fast(pa: pd.DataFrame, pb: pd.DataFrame) -> pd.Series:
    return pd.Series(list(np.hstack([tag_feature_matrix(pa), tag_feature_matrix(pb)])))


def pair_tag_features(pairs: DataFrame) -> DataFrame:
    """TagFeatures for a linked pair: A slice ++ B slice (210 dims), the
    input the reference's tag predictor trains on.

    Production path: the ``__pa``/``__pb`` primitives structs that
    ``linked_pairs(..., feature_primitives=True)`` attaches (required),
    then one fully-vectorized numpy pass — zero per-pair WKT parsing."""
    return pairs.select(
        "subject_a",
        "subject_b",
        u_pair_tag_features_fast(F.col("__pa"), F.col("__pb")).alias("fv"),
    )
