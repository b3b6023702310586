"""Raster<->vector tile assignment + tile-partitioned sink — SURVEY.md §7 M6.

Assigns every record its WebMercator z/x/y tiles (res 7..11, pure JVM
column math — see index.tiles) and writes a (z, x)-partitioned parquet
dataset so downstream map/raster consumers read one directory per tile
column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fagi_gis_spark.index import tiles


def assign_tiles(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    min_res: int = tiles.MIN_RES,
    max_res: int = tiles.MAX_RES,
) -> DataFrame:
    """One output row per (record, z) with (z, x, y) columns."""
    parts = [
        F.struct(
            F.lit(z).alias("z"),
            tiles.tile_x_col(F.col(lon_col), z).alias("x"),
            tiles.tile_y_col(F.col(lat_col), z).alias("y"),
        )
        for z in range(min_res, max_res + 1)
    ]
    return df.withColumn("t", F.explode(F.array(*parts))).select(
        "*", F.col("t.z").alias("z"), F.col("t.x").alias("x"), F.col("t.y").alias("y")
    ).drop("t")


def write_tiles(
    tiled: DataFrame,
    path: str,
    mode: str = "overwrite",
    sort_within: bool = True,
) -> None:
    """Tile-partitioned write. Partition by (z, x) — partitioning by full
    (z, x, y) would create one directory per tile (too many small files at
    scale); sorting within partitions by y keeps each tile contiguous, the
    cheap stand-in for the reference's CLUSTER-on-GiST physical ordering
    (schema.sql:38-39)."""
    out = tiled
    if sort_within:
        out = out.repartition("z", "x").sortWithinPartitions("z", "x", "y")
    out.write.mode(mode).partitionBy("z", "x").parquet(path)
