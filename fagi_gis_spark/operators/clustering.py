"""Link clustering by geometric displacement features — SURVEY.md §2.6 A7.

Reference (/root/reference/fagi-gis/src/main/java/gr/athenainnovation/imis/fusion/gis/clustering/GeoClusterer.java):
features per linked pair = centroid-displacement length
(calculateDistance:255-287, metric SRID), displacement unit vector
(calculateDirection:289-324), ST_Intersects coverage bit
(calculateCoverage:326-354); min-max normalized (normalize:91-98,
rangeChange:69-79); clustered with Weka EM (-I 100, optional -N k,
cluster:100-253). Spark-first: features as columns over the J3 pair join,
clustered by the same diagonal-Gaussian EM (fit driver-side on a bounded
sample, assignment as distributed column math).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fagi_gis_spark.geometry.measures import DEG_TO_M
from fagi_gis_spark.operators.fusion import linked_pairs


@F.pandas_udf(T.DoubleType())
def u_intersects(wkt_a: pd.Series, wkt_b: pd.Series) -> pd.Series:
    """CAST(ST_Intersects(a_g, b_g) AS integer) — the real JTS relate
    predicate (GeoClusterer.calculateCoverage:326-354), not a distance
    proxy. Called only for envelope-overlapping pairs (see
    displacement_features), so the per-row parse touches a small subset."""
    from fagi_gis_spark.geometry.topology import intersects
    from fagi_gis_spark.geometry.wkt import parse_wkt

    out = []
    for a, b in zip(wkt_a, wkt_b):
        ga = parse_wkt(a) if a else None
        gb = parse_wkt(b) if b else None
        if ga is None or gb is None:
            out.append(0.0)
            continue
        try:
            out.append(1.0 if intersects(ga, gb) else 0.0)
        except ValueError:
            out.append(0.0)
    return pd.Series(out, dtype="float64")


def displacement_features(pairs: DataFrame, metric_srid: int | None = None) -> DataFrame:
    """(subject_a, subject_b, dist_m, dir_x, dir_y, coverage) — the
    reference's 4 clustering features. Coverage is the REAL
    ST_Intersects bit: pairs whose envelopes are disjoint short-circuit
    to 0 in pure JVM column math (disjoint envelopes => disjoint
    geometries), and only the remaining candidates run the relate
    kernel. Requires ``linked_pairs(..., feature_primitives=True)``
    pairs, which carry the centroids and the envelopes."""
    dx = F.col("cbx") - F.col("cax")
    dy = F.col("cby") - F.col("cay")
    dist = F.sqrt(dx * dx + dy * dy)
    if metric_srid is not None:
        # the reference's exact frame: ST_Distance of the two centroids
        # AFTER ST_Transform(geom, 2163) (GeoClusterer.calculateDistance:257)
        from fagi_gis_spark.operators.fusion import u_metric_centroid_dist

        dist_m_col = u_metric_centroid_dist(metric_srid)(F.col("wkt_a"), F.col("wkt_b"))
    else:
        dist_m_col = dist * F.lit(DEG_TO_M)
    env_disjoint = (
        (F.col("__pa.maxx") < F.col("__pb.minx"))
        | (F.col("__pb.maxx") < F.col("__pa.minx"))
        | (F.col("__pa.maxy") < F.col("__pb.miny"))
        | (F.col("__pb.maxy") < F.col("__pa.miny"))
    )
    coverage = F.when(
        env_disjoint | F.col("__pa.gtype").isNull() | F.col("__pb.gtype").isNull(),
        F.lit(0.0),
    ).otherwise(u_intersects(F.col("wkt_a"), F.col("wkt_b")))
    return (
        pairs.withColumn("dist_m", dist_m_col)
        .withColumn("dir_x", F.when(dist > 0, dx / dist).otherwise(F.lit(0.0)))
        .withColumn("dir_y", F.when(dist > 0, dy / dist).otherwise(F.lit(0.0)))
        .withColumn("coverage", coverage)
        .select("subject_a", "subject_b", "dist_m", "dir_x", "dir_y", "coverage")
    )


def normalize_min_max(feats: DataFrame, cols: list[str]) -> DataFrame:
    """Min-max rescale to [0,1] (GeoClusterer.normalize:91-98) — one
    distributed agg, no driver loops."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
    stats = feats.agg(*aggs)
    out = feats.crossJoin(F.broadcast(stats))
    for c in cols:
        rng = F.col(f"__max_{c}") - F.col(f"__min_{c}")
        out = out.withColumn(
            c, F.when(rng > 0, (F.col(c) - F.col(f"__min_{c}")) / rng).otherwise(F.lit(0.0))
        )
    return out.drop(*[f"__min_{c}" for c in cols], *[f"__max_{c}" for c in cols])


def _diagonal_em(
    X, k: int, seed: int, max_iter: int, tol: float, min_var: float = 1e-6
):
    """Weka-faithful EM: k components with DIAGONAL covariance and a
    per-attribute variance floor (Weka EM's independent-normal model
    with m_minStdDev; the reference clusters with exactly that,
    GeoClusterer.java:100-253).  numpy, deterministic under ``seed``.

    Why not Spark's GaussianMixture (the r4 hang post-mortem): the
    coverage feature is BINARY, so a full-covariance component that
    specializes to one coverage value has an exactly singular 4x4
    covariance (and any component starved below 5 points is singular
    in 4-D no matter the data); the pseudo-inverse densities then
    produce inf/NaN responsibilities and the next iteration's dsyev
    eigensolve loops indefinitely inside f2j LAPACK dlascl (NaN input
    is a known non-terminating case).  Whether a run fell into that
    basin depended on float summation order — intermittent multi-minute
    hangs.  Diagonal covariance + a variance floor removes the failure
    mode BY CONSTRUCTION, exactly as Weka does."""
    import numpy as np

    n, d = X.shape
    rng = np.random.default_rng(seed)
    resp = rng.dirichlet(np.ones(k), size=n)
    prev_ll = -np.inf
    for _ in range(max_iter):
        nk = resp.sum(axis=0) + 1e-12
        w = nk / n
        mu = (resp.T @ X) / nk[:, None]
        var = (resp.T @ (X * X)) / nk[:, None] - mu * mu
        var = np.maximum(var, min_var)
        logp = (
            -0.5
            * (
                ((X[:, None, :] - mu[None, :, :]) ** 2 / var[None, :, :])
                + np.log(2.0 * np.pi * var)[None, :, :]
            ).sum(axis=2)
            + np.log(w)[None, :]
        )
        m = logp.max(axis=1, keepdims=True)
        log_norm = m[:, 0] + np.log(np.exp(logp - m).sum(axis=1))
        ll = float(log_norm.mean())
        resp = np.exp(logp - log_norm[:, None])
        if abs(ll - prev_ll) < tol:
            break
        prev_ll = ll
    return resp.argmax(axis=1), (w, mu, var)


def cluster_links(
    links: DataFrame,
    poi_a: DataFrame,
    poi_b: DataFrame,
    k: int = 4,
    seed: int = 42,
    max_iter: int = 100,
    tol: float = 1e-6,
    metric_srid: int | None = None,
    fit_sample_rows: int = 200_000,
) -> DataFrame:
    """Assign each link a cluster id. Output:
    (node_a, node_b, cluster_id) — the reference's ``cluster`` relation
    (schema.sql:92-95) that fuseCluster consumes.

    The model is the Weka-faithful diagonal EM (``_diagonal_em``:
    variance floor, deterministic, numerically safe by construction —
    see its docstring for why Spark's full-covariance GaussianMixture
    intermittently hung on this feature family).  The FIT runs
    driver-side over at most ``fit_sample_rows`` feature rows
    (hash-gated deterministic sample; EM parameters need thousands of
    rows, not billions) — below the cap this matches the reference,
    which collects every displacement row into a single-node Weka
    Instances object (GeoClusterer.java:100-150).  The ASSIGNMENT is
    fully distributed: per-component diagonal log-densities are
    closed-form JVM column arithmetic and the cluster id is their
    argmax, so no row leaves the executors — the 100x path."""
    import math

    import numpy as np

    pairs = linked_pairs(links, poi_a, poi_b, feature_primitives=True)
    cols = ["dist_m", "dir_x", "dir_y", "coverage"]
    feats = normalize_min_max(displacement_features(pairs, metric_srid=metric_srid), cols)

    # FIT on a bounded deterministic sample (EM parameters need
    # thousands of rows, not billions): one planning count, then a
    # hash-gated filter — order-free and reproducible.  At test
    # scales the "sample" is the whole table, matching the
    # reference's collect-into-Weka fit exactly.
    feats = feats.persist()
    try:
        n = feats.count()
        fit = feats.select(*cols)
        if n > fit_sample_rows:
            frac_ppm = max(1, int(fit_sample_rows * 1_000_000 / n))
            fit = feats.filter(
                F.pmod(
                    F.xxhash64(F.col("subject_a"), F.col("subject_b")),
                    F.lit(1_000_000),
                )
                < F.lit(frac_ppm)
            ).select(*cols)
        X = fit.toPandas()[cols].to_numpy(np.float64)
        if len(X) < max(k, 2):
            # Unlucky hash mask (or tiny frac_ppm at huge n) can
            # undershoot the expected sample size; EM needs >= k
            # rows or the closed-form parameters go NaN.  Fall back
            # to the full table — bounded by fit_sample_rows anyway
            # whenever this branch can trigger at sane n.
            X = feats.select(*cols).limit(
                max(fit_sample_rows, k)
            ).toPandas()[cols].to_numpy(np.float64)
        if len(X) < k:
            raise ValueError(
                f"cluster_links(gmm): only {len(X)} feature rows "
                f"available but k={k}; reduce k or supply more links"
            )
        _, (w, mu, var) = _diagonal_em(
            X, k=k, seed=seed, max_iter=max_iter, tol=tol
        )
        # ASSIGNMENT fully distributed: per-component diagonal
        # log-density is closed-form JVM column arithmetic (whole-
        # stage codegen); cluster = argmax.  No row ever leaves the
        # executors for assignment — this is the 100x path.
        logps = []
        for j in range(k):
            terms = [F.lit(float(math.log(max(w[j], 1e-300))))]
            for d, c in enumerate(cols):
                diff = F.col(c) - F.lit(float(mu[j, d]))
                terms.append(
                    F.lit(-0.5)
                    * (
                        diff * diff / F.lit(float(var[j, d]))
                        + F.lit(float(math.log(2.0 * math.pi * var[j, d])))
                    )
                )
            logp = terms[0]
            for t in terms[1:]:
                logp = logp + t
            logps.append(logp)
        arr = F.array(*logps)
        cluster = (F.array_position(arr, F.array_max(arr)) - 1).cast("int")
        return feats.select(
            F.col("subject_a").alias("node_a"),
            F.col("subject_b").alias("node_b"),
            cluster.alias("cluster_id"),
        ).localCheckpoint()
    finally:
        feats.unpersist()
