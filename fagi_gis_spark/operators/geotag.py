"""Geotag: pHash-seeded synthetic lon/lat for image records (north rule:
"geotag each image record by pHash-seeded synthetic lon/lat").

Pure JVM column math over the int64 phash — at 10^12-image scale this is
the first derived column after the scan and must never enter Python. The
window defaults to the engine's 2°x2° test world; production would map
into real extents the same way.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fagi_gis_spark.index import tiles


def geotag_cols(phash: Column) -> tuple[Column, Column]:
    """(lon, lat) on the micro-degree lattice derived from phash bits.
    pmod keeps negatives well-defined for signed int64 hashes; inner pmods
    shrink operands so products never overflow int64 (ANSI mode throws on
    overflow in Spark 4)."""
    lon = (F.pmod(phash, F.lit(2000000)) - F.lit(1000000)) / F.lit(1e6)
    mixed = F.pmod(F.pmod(phash, F.lit(2147483647)) * F.lit(2654435761), F.lit(2000000))
    lat = F.lit(50.0) + mixed / F.lit(1e6)
    return lon, lat


def geotag_microdeg_sql(phash: str) -> tuple[str, str]:
    """SQL twin of ``geotag_cols`` for the DuckDB oracles: the integer
    micro-degree expressions (lon, lat above 50°) of the same lattice
    point.  DuckDB's ``%`` follows the dividend's sign, so each pmod is
    spelled ``((x % m) + m) % m``.  Callers keep their own float step
    (``50.0 + lat / 1e6`` is not always the same double as
    ``(50000000 + lat) / 1e6``)."""
    lon = f"(((({phash} % 2000000) + 2000000) % 2000000) - 1000000)"
    lat = (
        f"(((((({phash} % 2147483647) + 2147483647) % 2147483647) * 2654435761) "
        "% 2000000) + 2000000) % 2000000"
    )
    return lon, lat


def geotag_images(
    images: DataFrame, cell_res: int = 9, cell_indexes: tuple[str, ...] = ()
) -> DataFrame:
    """images(input_hint schema) -> + (lon, lat, cell) columns.

    ``cell_indexes`` optionally adds the north star's named encodings
    alongside the z-tile cell: ``"s2"`` -> ``cell_s2`` (level-12 S2 id,
    Arrow-batched index/s2.py kernel), ``"hex"`` -> ``cell_hex7`` (res-9
    aperture-7 hex id, pure JVM column math — the same half-up rule as
    every other hex surface, see hexgrid.hex_round_np)."""
    lon, lat = geotag_cols(F.col("phash"))
    out = images.withColumn("lon", lon).withColumn("lat", lat)
    out = out.withColumn("cell", tiles.cell_id_col(F.col("lon"), F.col("lat"), cell_res))
    if "s2" in cell_indexes:
        from fagi_gis_spark.functions.geo_udfs import u_s2_cell12

        out = out.withColumn("cell_s2", u_s2_cell12(F.col("lon"), F.col("lat")))
    if "hex" in cell_indexes:
        from fagi_gis_spark.index.hexgrid import hex_cell_col

        out = out.withColumn("cell_hex7", hex_cell_col(F.col("lon"), F.col("lat"), 9))
    return out


def image_poi_layers(images: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Derive the two POI-image layers of the conflation flow: layer A at
    the geotag, layer B displaced <= ~150 m (deterministic from phash) —
    the image-table equivalent of sources/layers poi_a/poi_b."""
    g = geotag_images(images)
    a = g.select(
        F.concat(F.lit("a:"), F.col("image_id")).alias("subject"),
        "lon",
        "lat",
        "caption",
        "phash",
    )
    ph_small = F.pmod(F.col("phash"), F.lit(2**40))
    dx = (F.pmod(ph_small * F.lit(97) + F.lit(13), F.lit(2001)) - F.lit(1000)) / F.lit(1e6)
    dy = (F.pmod(ph_small * F.lit(57) + F.lit(7), F.lit(2001)) - F.lit(1000)) / F.lit(1e6)
    b = g.select(
        F.concat(F.lit("b:"), F.col("image_id")).alias("subject"),
        (F.col("lon") + dx).alias("lon"),
        (F.col("lat") + dy).alias("lat"),
        "caption",
        "phash",
    )
    return a, b


def exif_time_key(dt: Column) -> Column:
    """Monotone integer key for EXIF DateTime strings
    ("yyyy:MM:dd HH:mm:ss"): a calendar-free fixed-radix encoding
    (year, month, 31-slot day, then base-24/60/60) — pure substring +
    cast column math, identical in any SQL engine, no timezone/calendar
    semantics to diverge on.  Ordering matches chronological order for
    same-format strings (the radix includes the YEAR — frames a year
    apart must never key near each other).  Gap arithmetic is
    conservative at month boundaries: the 31-slot day radix makes a
    cross-boundary gap read LARGER than real, which can split (never
    merge) a burst spanning midnight on the 30th/31st — burst dedup
    errs toward keeping frames.  Real-world data wanting exact gaps
    would use to_timestamp; this key exists for engine-exact parity."""
    # long from the first term: the radix product tops int32 at the
    # minutes stage (ANSI mode raises on int overflow, never wraps)
    year = F.substring(dt, 1, 4).cast("long")
    month = F.substring(dt, 6, 2).cast("int")
    day = F.substring(dt, 9, 2).cast("int")
    hour = F.substring(dt, 12, 2).cast("int")
    minute = F.substring(dt, 15, 2).cast("int")
    sec = F.substring(dt, 18, 2).cast("int")
    return (
        (
            (
                ((year * F.lit(12) + month - F.lit(1)) * F.lit(31) + day - F.lit(1))
                * F.lit(24)
                + hour
            )
            * F.lit(60)
            + minute
        )
        * F.lit(60)
        + sec
    ).cast("long")


def burst_groups(parsed: DataFrame, res: int = 9, gap_s: int = 300) -> DataFrame:
    """Photo-burst grouping over EXIF geotag + time: images in the SAME
    hex7 cell whose capture times are within ``gap_s`` seconds chain
    into one burst; the chronologically-first frame of each burst is the
    keeper (burst dedup — a phone shoots 10 near-identical frames, the
    corpus wants one).

    Input: exif_geotags output (lat/lon micro-degrees + exif_datetime).
    Output: every image with (cell_hex7, burst_id, is_keeper, ts_key) —
    burst_id is a running count of gap-breaks per cell, keeper = first
    row of its burst under the deterministic (ts_key, image_id) order.

    Scale: one window per cell partition — cells are bounded and small
    (a burst is a handful of frames), so the sort never sees skew the
    hot-cell salting joins worry about; everything is JVM window/lag
    arithmetic after the one header-parse pass."""
    from pyspark.sql import Window as W

    from fagi_gis_spark.index.hexgrid import hex_cell_col

    lon = F.col("lon_microdeg") / F.lit(1e6)
    lat = F.col("lat_microdeg") / F.lit(1e6)
    g = parsed.withColumn("cell_hex7", hex_cell_col(lon, lat, res)).withColumn(
        "ts_key", exif_time_key(F.col("exif_datetime"))
    )
    w = W.partitionBy("cell_hex7").orderBy("ts_key", "image_id")
    is_break = (
        F.when(
            F.lag("ts_key").over(w).isNull()
            | (F.col("ts_key") - F.lag("ts_key").over(w) > F.lit(gap_s)),
            F.lit(1),
        )
        .otherwise(F.lit(0))
    )
    g = g.withColumn("burst_id", F.sum(is_break).over(w).cast("long"))
    wb = W.partitionBy("cell_hex7", "burst_id").orderBy("ts_key", "image_id")
    return g.select(
        "image_id",
        "cell_hex7",
        "burst_id",
        "ts_key",
        (F.row_number().over(wb) == F.lit(1)).alias("is_keeper"),
    )


def spatial_split(
    df: DataFrame,
    z: int = 11,
    block_shift: int = 2,
    lon_col: str = "lon",
    lat_col: str = "lat",
    n_buckets: int = 10,
    test_buckets: int = 2,
    val_buckets: int = 1,
) -> DataFrame:
    """Leakage-safe spatial train/val/test split with a buffer band —
    the geospatial-ML evaluation protocol (spatial block cross-validation,
    Roberts et al. 2017, Ecography 40): whole BLOCKS (z-tile cells at
    ``z - block_shift``) are assigned to folds, never individual rows, so
    spatially-autocorrelated neighbors of a test point can't land in
    training; and the one-fine-cell-wide band of train rows hugging any
    test block's border (Chebyshev ring 1 at the FINE ``z`` resolution,
    antimeridian x-wrap) is demoted to ``buffer`` — excluded from
    training, the standard guard against leakage across the block edge.
    The band is fine-grained on purpose: demoting whole neighbor BLOCKS
    would throw away interior training data that never touches the
    boundary (at scattered 20% test density, ring-1 at block granularity
    swallows most of the corpus).

    Fold bucket = ``pmod((bx*4096 + by) * 2654435761, n_buckets)`` on the
    packed block key — multiplicative hashing, exact int64 in both Spark
    and a SQL replay (requires ``z <= 11`` so the product stays < 2^55).
    Buckets [0, test) -> test, [test, test+val) -> val, rest train (or
    buffer).  Val blocks adjacent to test keep their fold: the buffer
    protects what the MODEL SEES (training data), not other eval folds.

    Scale shape: two derived integer columns on the main table plus ONE
    broadcast left join against the ids-only border-band cell set
    (#test-blocks x (2^block_shift + 2)^2 - 4^block_shift rows); the main
    table never shuffles.  Deterministic: same world -> same folds, so
    day-2 ingests extend the same split.
    """
    if z > 11:
        raise ValueError("spatial_split requires z <= 11 (packed-key overflow)")
    if block_shift < 1 or z - block_shift < tiles.MIN_NEIGHBOR_RES:
        raise ValueError("block resolution below the alias-free minimum")
    n = 1 << z
    side = 1 << block_shift
    d = df.withColumn("tx", tiles.tile_x_col(F.col(lon_col), z)).withColumn(
        "ty", tiles.tile_y_col(F.col(lat_col), z)
    )
    bucket = F.pmod(
        (F.shiftright(F.col("tx"), block_shift) * F.lit(4096)
         + F.shiftright(F.col("ty"), block_shift)) * F.lit(2654435761),
        F.lit(n_buckets),
    )
    d = d.withColumn(
        "split",
        F.when(bucket < test_buckets, F.lit("test"))
        .when(bucket < test_buckets + val_buckets, F.lit("val"))
        .otherwise(F.lit("train")),
    )
    # ids-only border band: for each test block, the exterior ring of
    # FINE cells at Chebyshev distance exactly 1 from its footprint
    span = list(range(-1, side + 1))
    edge = {-1, side}
    offs = [(i, j) for i in span for j in span if i in edge or j in edge]
    off_arr = F.array(
        *[F.struct(F.lit(i).alias("i"), F.lit(j).alias("j")) for i, j in offs]
    )
    band = (
        d.filter(F.col("split") == "test")
        .select(
            F.shiftright(F.col("tx"), block_shift).alias("bx"),
            F.shiftright(F.col("ty"), block_shift).alias("by"),
        )
        .distinct()
        .select(F.explode(off_arr).alias("o"), "bx", "by")
        .select(
            F.pmod(F.col("bx") * side + F.col("o.i"), F.lit(n)).alias("nx"),
            (F.col("by") * side + F.col("o.j")).alias("ny"),
        )
        .distinct()
        .withColumn("in_band", F.lit(1))
    )
    out = d.join(F.broadcast(band), (d.tx == band.nx) & (d.ty == band.ny), "left")
    return out.select(
        *[c for c in df.columns if c not in (lon_col, lat_col)],
        "tx",
        "ty",
        F.when(
            (F.col("split") == "train") & F.col("in_band").isNotNull(),
            F.lit("buffer"),
        )
        .otherwise(F.col("split"))
        .alias("split"),
    )
