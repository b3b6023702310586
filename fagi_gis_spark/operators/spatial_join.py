"""Spatial joins: bbox filter, cell-bucketed radius join (kNN conflation),
point-in-polygon join, unlinked anti-join.

The reference executes J5 (radius search) as an N+1 loop of per-entity
SPARQL probes ``bif:st_contains(?geo, centroid, radius_m/111195)``
(/root/reference/fagi-gis-service/src/main/java/gr/athenainnovation/imis/fusion/gis/servlets/BatchFindLinkServlet.java:546-556;
factor utils/Constants.java:79-80) and J6 (bbox) as coordinate FILTERs.
Spark-first replacements:

* bbox       -> range predicates on lon/lat columns (partition pruning —
               with cell-partitioned storage the scan skips files).
* radius     -> ONE cell-bucket equi-join (``radius_join``) over a
               pluggable ``CellScheme``: the build side keys by its single
               cell, the probe side explodes to every cell that can hold
               a build row within the radius, and the exact planar-degree
               distance (the reference's own metric) refines.  One
               shuffle, no loop, AQE-tunable.  Schemes: ``TILE``
               (WebMercator z-tiles, ring-1 3x3), ``HEX`` (aperture-7
               gridDisk, index/hexgrid.py), ``S2`` (real S2 cells, 3x3
               cross-face neighborhood, index/s2.py).  All three are
               output-identical, so the scheme is purely a cost choice.
* skew       -> explicit salted hot-cell splitting (north rule), shared
               by every scheme: build cells holding more than
               max(256, 8 x mean) rows split into ``N_SALT`` sub-keys;
               probe rows fan out only for hot cells.  The hot set is
               detected once per build layer and cell space
               (``_hot_cells``) and memoized for the session.
* PIP        -> polygon layer is the small side: built into a grid
               index that ships in the UDF closure, probed per Arrow
               batch with vectorized ray casting; the point table never
               shuffles.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fagi_gis_spark.functions.geo_udfs import u_s2_cell_at, u_s2_disk_at
from fagi_gis_spark.geometry.measures import DEG_TO_M
from fagi_gis_spark.geometry.pip import PolygonIndex
from fagi_gis_spark.geometry.wkt import parse_wkt
from fagi_gis_spark.index import hexgrid
from fagi_gis_spark.index.s2 import K_MIN_WIDTH_RAD
from fagi_gis_spark.index.s2 import MAX_LEVEL as S2_MAX_LEVEL
from fagi_gis_spark.index.tiles import _X_MULT, _Z_MULT, cell_id_col, tile_x_col, tile_y_col
from fagi_gis_spark.session import session_memo

#: sub-keys per hot cell in the salted join
N_SALT = 8


def bbox_filter(
    df: DataFrame, min_lon: float, min_lat: float, max_lon: float, max_lat: float
) -> DataFrame:
    """J6: viewport filter. Pure range predicates — pushed to the scan."""
    return df.filter(
        (F.col("lon") >= min_lon)
        & (F.col("lon") <= max_lon)
        & (F.col("lat") >= min_lat)
        & (F.col("lat") <= max_lat)
    )


# --------------------------------------------------------------------------
# Completeness-bound resolutions, one per cell scheme
# --------------------------------------------------------------------------


def join_res_for_radius(radius_m: float, max_abs_lat_deg: float = 60.0, max_z: int = 22) -> int:
    """Finest WebMercator z whose tile extent (in planar degrees, in BOTH
    axes — the y-extent shrinks by cos(lat)) still covers the radius, so
    a ring-1 (3x3) neighborhood is a complete candidate set under the
    planar-degree metric the reference uses."""
    radius_deg = radius_m / DEG_TO_M
    z = max_z
    while z > 1:
        lon_extent = 360.0 / (2**z)
        lat_extent = lon_extent * math.cos(math.radians(max_abs_lat_deg))
        if lon_extent >= radius_deg and lat_extent >= radius_deg:
            return z
        z -= 1
    return 1


def hex_res_for_radius(radius_m: float) -> int:
    """Finest hex res whose cell CIRCUMRADIUS still covers the radius.

    Hexagons make the ring-1 completeness bound stronger than square
    tiles: cells at hex distance 2 have centers >= 3R apart, so any two
    points within R (circumradius) of each other sit in cells at hex
    distance <= 1 — the 7-cell gridDisk(1) is a complete candidate set
    (squares need radius <= tile INradius and scan 9 cells)."""
    radius_deg = radius_m / DEG_TO_M
    res = 0
    while res < hexgrid.MAX_RES and hexgrid.S0 / (7.0**0.5) ** (res + 1) >= radius_deg:
        res += 1
    return res


def hex_disk_k_for(radius_m: float, res: int) -> int:
    """Smallest gridDisk radius k that keeps the candidate set COMPLETE
    at hex resolution ``res`` for a given search radius.

    Bound: cells at hex distance m >= 2 have centers >= 1.5*R*m apart
    (the tightest spacing is the (1,1)-type diagonal; edge neighbors sit
    at sqrt(3)*R > 1.5*R, so the bound holds for all m >= 1), and any
    point lies within R of its cell center, so two cells can hold points
    within d of each other only if 1.5*R*m - 2*R <= d, i.e.
    m <= d/(1.5R) + 4/3.  Including every cell with hexdist <= k where
    k = ceil(d/(1.5R) + 1/3) therefore covers all pairs (the m = k+1
    shell is provably farther than d).  For d < R this gives k = 1 —
    the gridDisk(1) case.  A 1e-12 guard rounds the knife-edge d == R*
    boundary (corner-exact point pairs) up to the safe side."""
    radius_deg = radius_m / DEG_TO_M
    R = hexgrid.S0 / (7.0**0.5) ** res
    return max(1, math.ceil(radius_deg / (1.5 * R) + 1.0 / 3.0 + 1e-12))


def hex_res_auto(radius_m: float, density_rows_per_deg2: float, max_k: int = 6) -> int:
    """Density-aware resolution choice: per probe, cost ~ disk_size(k) *
    (1 + rho * cell_area) — probe fan-out rows plus expected candidate
    pairs.  Finer cells shrink the pair term by 7x per res while the
    disk term grows ~quadratically in k; the optimum shifts finer as
    density rises.  One number (rho = build rows / bbox area) drives the
    closed-form argmin — at cluster scale that's a single tiny agg over
    the build side, not a planning loop."""
    base = hex_res_for_radius(radius_m)
    best_res, best_cost = base, None
    for res in range(base, min(base + 6, hexgrid.MAX_RES) + 1):
        k = hex_disk_k_for(radius_m, res)
        if k > max_k:
            break
        R = hexgrid.S0 / (7.0**0.5) ** res
        disk = 1 + 3 * k * (k + 1)
        cell_area = 2.598076211353316 * R * R  # (3*sqrt(3)/2) R^2
        cost = disk * (1.0 + density_rows_per_deg2 * cell_area)
        if best_cost is None or cost < best_cost:
            best_res, best_cost = res, cost
    return best_res


def s2_level_for_radius(radius_m: float) -> int:
    """Finest S2 level whose minimum cell ground width still covers the
    radius (published kMinWidth metric, quadratic projection): pairs
    within the radius then sit in 3x3-adjacent cells — the same segment
    argument as square tiles, but valid across face edges because S2
    cell edges align between faces at every level."""
    radius_rad = math.radians(radius_m / DEG_TO_M)
    if K_MIN_WIDTH_RAD < radius_rad:
        # even level-0 cells are narrower than the radius: the fixed
        # 9-cell neighborhood cannot be complete — refuse loudly rather
        # than silently dropping pairs (TILE/HEX, whose ring/disk widths
        # scale, serve continental radii)
        raise ValueError(
            f"radius {radius_m} m exceeds the level-0 S2 min cell width; "
            "the S2 3x3 neighborhood cannot be complete"
        )
    level = 0
    while level < S2_MAX_LEVEL and K_MIN_WIDTH_RAD / (1 << (level + 1)) >= radius_rad:
        level += 1
    return level


# --------------------------------------------------------------------------
# Cell schemes: how one scheme keys the build side and explodes the probe
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class CellScheme:
    """One cell space for the bucketed radius join.

    * ``resolve(radius_m, res, build)`` -> the resolution to join at:
      ``res`` if given (validated), else the finest one whose candidate
      neighborhood is provably complete for ``radius_m``.  ``build`` is
      the keyed build side (``r_lon``/``r_lat``), read only by data-
      driven choices (HEX ``res="auto"``).
    * ``build_cell(lon, lat, res)`` -> the single cell id of a point.
    * ``explode_probe(l, res, radius_m)`` -> the keyed probe side
      (``l_key``/``l_lon``/``l_lat``), one row per candidate ``cell``.
    """

    name: str
    resolve: Callable[[float, "int | str | None", DataFrame], int]
    build_cell: Callable[[Column, Column, int], Column]
    explode_probe: Callable[[DataFrame, int, float], DataFrame]

    def __repr__(self) -> str:
        return f"CellScheme({self.name})"


def _tile_resolve(radius_m: float, z: int | None, build: DataFrame) -> int:
    return join_res_for_radius(radius_m) if z is None else z


_RING1 = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]


def _tile_probe(l: DataFrame, z: int, radius_m: float) -> DataFrame:
    """Ring-1 (3x3) neighborhood, 9 rows per probe point.  x wraps modulo
    2^z so probes in the first/last tile column still see build rows
    across the antimeridian; y never wraps (the poles are not adjacent —
    out-of-range y cells simply match nothing)."""
    neigh = F.array(
        *[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")) for dx, dy in _RING1]
    )
    tx = tile_x_col(F.col("l_lon"), z)
    ty = tile_y_col(F.col("l_lat"), z)
    x = F.pmod(tx + F.col("__o.dx"), F.lit(2**z).cast("long"))
    y = ty + F.col("__o.dy")
    cell = F.lit(z * _Z_MULT).cast("long") + x * F.lit(_X_MULT).cast("long") + y
    return l.withColumn("__o", F.explode(neigh)).withColumn("cell", cell).drop("__o")


def _hex_resolve(radius_m: float, res: int | str | None, build: DataFrame) -> int:
    """``None`` keeps the base res with the provable gridDisk(1) bound;
    an int forces a finer res (the disk widens via hex_disk_k_for);
    ``"auto"`` picks the cost-optimal res from a one-row density agg
    over the build side (hex_res_auto) — it pays off where density is
    high and a finer res with a wider disk passes fewer candidate pairs
    than the base res (measured ~1.35x the tile join's pair volume at
    sf0.1 uniform density)."""
    if res == "auto":
        # one tiny planning agg (count + bbox of the build side) -> rho;
        # the collect is a single row, the scale analog of AQE statistics
        stats = build.agg(
            F.count("*").alias("n"),
            F.min("r_lon").alias("lo1"), F.max("r_lon").alias("lo2"),
            F.min("r_lat").alias("la1"), F.max("r_lat").alias("la2"),
        ).first()
        if stats.n == 0 or stats.lo1 is None:
            res = None  # empty build side: any complete res joins to nothing
        else:
            area = max((stats.lo2 - stats.lo1) * (stats.la2 - stats.la1), 1e-9)
            res = hex_res_auto(radius_m, stats.n / area)
    return hex_res_for_radius(radius_m) if res is None else res


def _hex_probe(l: DataFrame, res: int, radius_m: float) -> DataFrame:
    """gridDisk(k) around the probe's cell (7 cells at k = 1).  Probes
    within 2x the radius of the +-180 seam also emit their disk in the
    lon-+360-shifted frame (array_union keeps ids distinct, so no pair
    can double-match)."""
    k = hex_disk_k_for(radius_m, res)
    radius_deg = radius_m / DEG_TO_M
    # materialize the probe's axial coords ONCE per frame: inlining them
    # into the disk array would duplicate the whole rounding expression
    # tree (6 rounds + conditionals) per candidate cell — measured 10.4s
    # -> ~4.5s at sf0.1 with this projection + floor-based rounding
    lq, lr = hexgrid.hex_axial_cols(F.col("l_lon"), F.col("l_lat"), res)
    shifted_lon = F.when(F.col("l_lon") > 0, F.col("l_lon") - 360.0).otherwise(
        F.col("l_lon") + 360.0
    )
    near_seam = F.abs(F.col("l_lon")) > F.lit(180.0 - 2.0 * radius_deg)
    sq, sr = hexgrid.hex_axial_cols(shifted_lon, F.col("l_lat"), res)
    l = l.withColumns(
        {"__q": lq, "__r": lr, "__sq": F.when(near_seam, sq), "__sr": F.when(near_seam, sr)}
    )
    base = hexgrid.hex_disk_col(F.col("__q"), F.col("__r"), res, k)
    cells = F.when(
        F.col("__sq").isNotNull(),
        F.array_union(base, hexgrid.hex_disk_col(F.col("__sq"), F.col("__sr"), res, k)),
    ).otherwise(base)
    return l.withColumn("cell", F.explode(cells)).drop("__q", "__r", "__sq", "__sr")


def _s2_resolve(radius_m: float, level: int | None, build: DataFrame) -> int:
    max_level = s2_level_for_radius(radius_m)
    if level is None:
        return max_level
    if level > max_level:
        # the S2 neighborhood is fixed at 3x3 by design, so a level finer
        # than the kMinWidth bound cannot be covered — refuse instead of
        # silently dropping pairs (HEX widens its disk instead)
        raise ValueError(
            f"level {level} is finer than the completeness bound "
            f"{max_level} for radius {radius_m} m"
        )
    return level


def _s2_probe(l: DataFrame, level: int, radius_m: float) -> DataFrame:
    """Own cell + 8 cross-face-wrapped neighbors from the Arrow kernel;
    array_distinct drops the duplicates cube corners produce.  Sphere-
    native: no antimeridian frame and no polar case."""
    disk = u_s2_disk_at(level)(F.col("l_lon"), F.col("l_lat"))
    return l.withColumn("cell", F.explode(F.array_distinct(disk)))


TILE = CellScheme("tile", _tile_resolve, cell_id_col, _tile_probe)
HEX = CellScheme("hex", _hex_resolve, hexgrid.hex_cell_col, _hex_probe)
S2 = CellScheme("s2", _s2_resolve, lambda lon, lat, level: u_s2_cell_at(level)(lon, lat), _s2_probe)


# --------------------------------------------------------------------------
# The radius join
# --------------------------------------------------------------------------


def _keyed(df: DataFrame, cols: tuple[str, str, str], side: str) -> DataFrame:
    key, lon, lat = cols
    return df.select(
        F.col(key).alias(f"{side}_key"),
        F.col(lon).alias(f"{side}_lon"),
        F.col(lat).alias(f"{side}_lat"),
    )


def _refine_and_select(joined: DataFrame, radius_m: float) -> DataFrame:
    """Exact-distance refine + output projection shared by every scheme:
    planar-degree metric x DEG_TO_M, <= radius filter, canonical output
    columns.  The lon delta wraps at the antimeridian (|dlon| <= 180);
    identical to the reference's planar formula everywhere away from the
    seam, where the reference (degree-space FILTER) finds nothing."""
    dlon_abs = F.abs(F.col("l_lon") - F.col("r_lon"))
    dlon = F.least(dlon_abs, F.lit(360.0) - dlon_abs)
    dist_deg = F.sqrt(
        dlon * dlon
        + (F.col("l_lat") - F.col("r_lat")) * (F.col("l_lat") - F.col("r_lat"))
    )
    return (
        joined.withColumn("dist_m", dist_deg * F.lit(DEG_TO_M))
        .filter(F.col("dist_m") <= F.lit(radius_m))
        .select("l_key", "r_key", "dist_m", "l_lon", "l_lat", "r_lon", "r_lat")
    )


def radius_join(
    left: DataFrame,
    right: DataFrame,
    radius_m: float,
    cells: CellScheme = TILE,
    res: int | str | None = None,
    left_cols: tuple[str, str, str] = ("subject", "lon", "lat"),
    right_cols: tuple[str, str, str] = ("subject", "lon", "lat"),
) -> DataFrame:
    """J5 as one distributed join. Output: left keys + right keys + dist_m
    (planar degree distance x 111195 — identical numbers to the reference).

    ``cells`` picks the cell space (TILE / HEX / S2) and ``res`` its
    resolution (default: the scheme's completeness bound for
    ``radius_m``; see ``CellScheme``).  Hot build cells are salted by
    the one rule in ``_hot_cells`` — see ``_salted_cell_join``."""
    r = _keyed(right, right_cols, "r")
    res = cells.resolve(radius_m, res, r)
    r = r.withColumn("cell", cells.build_cell(F.col("r_lon"), F.col("r_lat"), res))
    l = cells.explode_probe(_keyed(left, left_cols, "l"), res, radius_m)
    return _refine_and_select(_salted_cell_join(l, r), radius_m)


def radius_join_bucketed(
    probe: DataFrame,
    build_table: DataFrame,
    radius_m: float,
    left_cols: tuple[str, str, str] = ("subject", "lon", "lat"),
) -> DataFrame:
    """J5 against a PRE-BUCKETED build table — the 100 TB storage-aware
    variant: ``build_table`` must already carry
    (r_key, r_lon, r_lat, cell) with ``cell`` the tile id at
    ``join_res_for_radius(radius_m)`` (written with
    ``sources.layers.write_bucketed(df, path, ["cell"], sort=True)`` and
    read back with ``read_bucketed``).
    Joining on the STORED cell column lets Spark use the bucket
    HashPartitioning directly: the build side reads shuffle-free
    (SelectedBucketsCount in the plan, zero build-side Exchange); only
    the exploded probe side shuffles to align.  No salting here: the
    bucket layout fixes build-side placement, so hot cells are handled
    at WRITE time (finer z or more buckets)."""
    z = join_res_for_radius(radius_m)
    l = TILE.explode_probe(_keyed(probe, left_cols, "l"), z, radius_m)
    joined = l.join(build_table, ["cell"], "inner")
    return _refine_and_select(joined, radius_m)


def _hot_cells(r: DataFrame) -> tuple[int, ...]:
    """The one hot-cell rule: the ids of the build cells holding more than
    max(256, 8 x mean) rows of ``r``, the keyed build side tagged with its
    ``cell``; empty when the layer is uniform.

    A uniform layer costs one action over ``groupBy(cell).count()``; a
    skewed one costs a second to collect the ids.  Nothing is persisted.  The ids
    are memoized for the session under ``r``'s semantic plan hash, which
    covers the scan, the cell scheme and the resolution, so every later
    join over the same build layer and cell space reads them without a
    job.  Salting only steers placement: a stale entry or a hash
    collision can change where rows go, never which rows come out."""

    def detect() -> tuple[int, ...]:
        counts = r.groupBy("cell").count()
        stats = counts.agg(F.avg("count").alias("mean"), F.max("count").alias("top")).first()
        if stats.top is None:
            return ()
        thr = max(256.0, 8.0 * stats.mean)
        if stats.top <= thr:
            return ()
        hot = counts.filter((F.col("count") > thr) & F.col("cell").isNotNull()).select("cell")
        return tuple(sorted(row.cell for row in hot.collect()))

    return session_memo(r.sparkSession, ("hot_cells", r.semanticHash()), detect)


def _prefer_build_side(r: DataFrame) -> DataFrame:
    """Deliberate join-strategy choice for the cell equi-join (guide
    §3.1): the hash/broadcast side must be the BUILD side ``r``, never
    the exploded probe side.  Catalyst's size estimate for the probe
    side does not account for the ring/disk explode, so left to itself
    the planner has been observed broadcasting the 9x-exploded probe
    frame — collecting millions of generated rows through the driver
    (measured 9.6 s -> 2.0 s at sf1.0 for the 150 m join when the build
    side is hinted instead).  ``r`` is pre-explode with a clean lineage,
    so its estimate is trustworthy: broadcast it while it fits the
    session's auto-broadcast threshold, otherwise pin a shuffled-hash
    build on it (bounded per-partition hash tables; hot cells are
    already split by salting, and AQE skew-join covers the rest) so the
    planner can never fall back to broadcasting the probe side."""
    try:
        est = int(str(r._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
        thr = int(
            r.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        )
    except Exception:  # pragma: no cover — estimate unavailable: stay safe
        return r.hint("shuffle_hash")
    if 0 < est <= thr:
        return F.broadcast(r)
    return r.hint("shuffle_hash")


def _salted_cell_join(l: DataFrame, r: DataFrame) -> DataFrame:
    """Hot-cell salting for the cell-equi-join step of every scheme:
    ``l`` is the probe side already exploded to its candidate ``cell``
    ids, ``r`` the build side keyed by its single ``cell``.

    Build cells in ``_hot_cells(r)`` split into ``N_SALT`` sub-keys by
    a hash of the build key; probe rows replicate only for those cells.
    An empty hot set gives the plain cell join.  Salting never changes
    OUTPUT, only placement."""
    hot_ids = _hot_cells(r)
    if not hot_ids:
        return l.join(_prefer_build_side(r), ["cell"], "inner")
    hot = r.sparkSession.createDataFrame(
        [(c, True) for c in hot_ids], "cell long, __hot boolean"
    )
    r = (
        r.join(F.broadcast(hot), "cell", "left")
        .withColumn(
            "salt",
            F.when(F.col("__hot"), F.pmod(F.crc32(F.col("r_key").cast("string")), N_SALT))
            .otherwise(F.lit(0))
            .cast("int"),
        )
        .drop("__hot")
    )
    l = (
        l.join(F.broadcast(hot), "cell", "left")
        .withColumn(
            "salt",
            F.explode(
                F.when(
                    F.col("__hot"), F.sequence(F.lit(0), F.lit(N_SALT - 1))
                ).otherwise(F.array(F.lit(0)))
            ),
        )
        .drop("__hot")
    )
    return l.join(_prefer_build_side(r), ["cell", "salt"], "inner")


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    radius_m: float,
    exclude_self: bool = False,
    cells: CellScheme = TILE,
    **kwargs,
) -> DataFrame:
    """kNN conflation (bounded by a search radius, like the reference's
    discovery loop): radius join -> per-probe top-k by distance. Ties are
    broken by the neighbor key for determinism. ``exclude_self`` drops
    same-key pairs for self-joins (kNN of a layer against itself).
    ``cells`` and ``**kwargs`` go to ``radius_join``."""
    cand = radius_join(left, right, radius_m, cells=cells, **kwargs)
    if exclude_self:
        cand = cand.filter(F.col("l_key") != F.col("r_key"))
    w = Window.partitionBy("l_key").orderBy(F.col("dist_m").asc(), F.col("r_key").asc())
    return (
        cand.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select("l_key", "r_key", "dist_m", "knn_rank")
    )


def _polygon_index(polygons_pdf: pd.DataFrame) -> PolygonIndex:
    return PolygonIndex(
        polygons_pdf["polygon_id"].tolist(),
        [parse_wkt(w) for w in polygons_pdf["geom_wkt"]],
    )


def pip_join(
    points: DataFrame,
    polygons_pdf: pd.DataFrame,
    point_cols: tuple[str, str, str] = ("subject", "lon", "lat"),
) -> DataFrame:
    """Point-in-polygon join. ``polygons_pdf`` (polygon_id, geom_wkt) is
    the small dimension: parsed once on the driver, wrapped in a grid
    index that ships in the UDF closure (``sideinput``'s rule for bounded
    small side inputs); points are probed per Arrow batch (vectorized ray
    casting) and never shuffle. Emits one row per (point, containing
    polygon) — overlaps produce several rows.
    """
    pk, plon, plat = point_cols
    index = _polygon_index(polygons_pdf)

    def probe(batches):
        ids = np.asarray(index.ids, dtype=object)
        for pdf in batches:
            px = pdf["__lon"].to_numpy("float64")
            py = pdf["__lat"].to_numpy("float64")
            pi, ki = index.query_batch_flat(px, py)
            keys = pdf["__key"].to_numpy(dtype=object)
            yield pd.DataFrame({"subject": keys[pi], "polygon_id": ids[ki]})

    prepared = points.select(
        F.col(pk).alias("__key"), F.col(plon).alias("__lon"), F.col(plat).alias("__lat")
    )
    return prepared.mapInPandas(probe, schema="subject string, polygon_id string")


def zonal_stats(
    points: DataFrame,
    polygons_pdf: pd.DataFrame,
    point_cols: tuple[str, str, str] = ("subject", "lon", "lat"),
    value_col: str | None = None,
) -> DataFrame:
    """Zonal statistics — the classic vector overlay aggregation (per
    polygon zone: point count + integer value sum/min/max), the engine's
    analog of PostGIS ``ST_Contains`` + GROUP BY over an admin layer.

    Same closure-shipped index as :func:`pip_join`, but the Arrow batch
    emits PER-BATCH PARTIAL aggregates (one row per polygon touched by
    the batch) instead of one row per contained point — the shuffle is
    bounded by #polygons x #batches no matter how many points fall in a
    zone, which is the map-side-combine property that keeps the hot
    zone (a city-center polygon at 100 TB) from becoming a hot key.
    ``value_col`` must be integer-valued (quantize floats first — the
    repo's standard exact-sum parity rule); ``None`` counts only.

    Output: (polygon_id, n_points, sum_w, min_w, max_w); points in no
    zone drop out, overlapping zones each aggregate the point.
    """
    pk, plon, plat = point_cols
    index = _polygon_index(polygons_pdf)

    def probe(batches):
        ids = np.asarray(index.ids, dtype=object)
        for pdf in batches:
            px = pdf["__lon"].to_numpy("float64")
            py = pdf["__lat"].to_numpy("float64")
            pi, ki = index.query_batch_flat(px, py)
            vals = (
                pdf["__val"].to_numpy("int64")[pi]
                if "__val" in pdf.columns
                else np.ones(len(pi), dtype="int64")
            )
            part = (
                pd.DataFrame({"polygon_id": ids[ki], "v": vals})
                .groupby("polygon_id", sort=False)["v"]
                .agg(n="count", s="sum", mn="min", mx="max")
                .reset_index()
            )
            yield pd.DataFrame(
                {
                    "polygon_id": part["polygon_id"],
                    "n": part["n"].astype("int64"),
                    "s": part["s"].astype("int64"),
                    "mn": part["mn"].astype("int64"),
                    "mx": part["mx"].astype("int64"),
                }
            )

    # NOTE: unlike pip_join, the point key never ships through Arrow —
    # partials only need (lon, lat[, value])
    cols = [
        F.col(plon).alias("__lon"),
        F.col(plat).alias("__lat"),
    ]
    if value_col is not None:
        cols.append(F.col(value_col).cast("long").alias("__val"))
    partials = points.select(*cols).mapInPandas(
        probe, schema="polygon_id string, n long, s long, mn long, mx long"
    )
    return partials.groupBy("polygon_id").agg(
        F.sum("n").cast("long").alias("n_points"),
        F.sum("s").cast("long").alias("sum_w"),
        F.min("mn").cast("long").alias("min_w"),
        F.max("mx").cast("long").alias("max_w"),
    )


def unlinked_anti_join(poi: DataFrame, links: DataFrame, side: str) -> DataFrame:
    """J10: entities with no link (FetchUnlinkedServlet.java:219-338)."""
    key = f"node_{side}"
    return poi.join(links.select(F.col(key).alias("subject")), "subject", "left_anti")


def linked_semi_join(poi: DataFrame, links: DataFrame, side: str) -> DataFrame:
    """J9: linked-only import (Importer.java:222-287)."""
    key = f"node_{side}"
    return poi.join(links.select(F.col(key).alias("subject")), "subject", "left_semi")


def knn_join_adaptive(
    left: DataFrame,
    right: DataFrame,
    k: int,
    init_radius_m: float = 150.0,
    max_doublings: int = 5,
    left_cols: tuple[str, str, str] = ("subject", "lon", "lat"),
    right_cols: tuple[str, str, str] = ("subject", "lon", "lat"),
    **kwargs,
) -> DataFrame:
    """True kNN without a fixed radius bound: iterative ring doubling.

    Round i probes the not-yet-finished points at radius 2^i * init; a
    probe is FINAL once k neighbors are found within the current radius
    (the radius join is complete inside r, so its k-th hit is the global
    k-th). Finished probes leave the frontier, so each round joins a
    shrinking probe set at a coarser cell resolution — the standard
    adaptive expansion that replaces the reference's per-entity retry
    loop (BatchFindLinkServlet's widening SPARQL probes) with log(r_max /
    r_0) shrinking distributed joins. Probes still unfinished after
    ``max_doublings`` return their best-effort (< k) neighbors with
    ``knn_exhausted = true`` so callers can distinguish a genuine < k
    neighborhood bound from an exhausted search radius.

    Each round's inner ``knn_join`` inherits ``**kwargs``.  Its hot-cell
    detection runs once per round resolution and build layer in a
    session (``_hot_cells``); later calls read the memo.
    """
    if max_doublings < 1:
        raise ValueError("knn_join_adaptive requires max_doublings >= 1")
    lk = left_cols[0]

    # localCheckpoint (eager) truncates lineage every round: the frontier
    # would otherwise accumulate one anti-join + one knn plan per round
    # and Catalyst re-optimizes the whole stack each iteration
    remaining = left.select(*left_cols).localCheckpoint()
    finished_parts: list[DataFrame] = []
    radius = init_radius_m
    last = None
    for _ in range(max_doublings):
        cand = knn_join(
            remaining, right, k, radius, left_cols=left_cols,
            right_cols=right_cols, **kwargs
        ).localCheckpoint()
        last = cand
        # complete iff the k-th neighbor exists within this radius
        done_keys = (
            cand.groupBy("l_key").count().filter(F.col("count") >= k).select("l_key")
        )
        finished_parts.append(cand.join(done_keys, "l_key", "left_semi"))
        remaining = remaining.join(
            done_keys.withColumnRenamed("l_key", lk), lk, "left_anti"
        ).localCheckpoint()
        if remaining.isEmpty():
            last = None
            break
        radius *= 2.0
    finished_parts = [p.withColumn("knn_exhausted", F.lit(False)) for p in finished_parts]
    if last is not None:
        # best-effort rows for probes that never reached k neighbors
        # within init * 2^(max_doublings-1): flagged so callers can tell
        # an exhausted search apart from a genuinely < k neighborhood
        finished_parts.append(
            last.join(
                last.groupBy("l_key").count().filter(F.col("count") >= k).select("l_key"),
                "l_key",
                "left_anti",
            ).withColumn("knn_exhausted", F.lit(True))
        )
    out = finished_parts[0]
    for part in finished_parts[1:]:
        out = out.unionByName(part)
    return out
