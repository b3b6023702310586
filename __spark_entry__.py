"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All implementations live in ``fagi_gis_spark`` (see SURVEY.md §2 for the
operator inventory and ``fagi_gis_spark/registry.py`` for the per-query
oracle-parity conventions).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship pipeline on sf0.001: the north-rule spatial-join +
    tile-assignment flow — derived POI layers -> precedence dedup ->
    cell-bucketed radius join (conflation) -> Keep-A geometry fusion ->
    WebMercator tile assignment of the fused pair."""
    from pyspark.sql import functions as F

    from fagi_gis_spark.index import tiles
    from fagi_gis_spark.operators.fusion import fuse_all
    from fagi_gis_spark.operators.spatial_join import radius_join
    from fagi_gis_spark.registry import layers

    sf_dir = "/root/testdata/sf0.001"
    L = layers(spark, sf_dir)
    conflated = radius_join(L["poi_a"], L["poi_b"], 150.0)
    links = conflated.select(
        F.col("l_key").alias("node_a"),
        F.col("r_key").alias("node_b"),
        "dist_m",
        "l_lon",
        "l_lat",
    )
    fused = fuse_all(
        links.select("node_a", "node_b"), L["poi_a"], L["poi_b"], "keep_a"
    )
    out = fused.join(
        links.select("node_a", "node_b", "dist_m", "l_lon", "l_lat"),
        (fused.subject_a == F.col("node_a")) & (fused.subject_b == F.col("node_b")),
        "inner",
    )
    z = 9
    return out.select(
        "subject_a",
        "subject_b",
        F.round("dist_m", 4).alias("dist_m"),
        F.lit(z).alias("z"),
        tiles.tile_x_col(F.col("l_lon"), z).alias("x"),
        tiles.tile_y_col(F.col("l_lat"), z).alias("y"),
        "geom_wkt",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (see §8
    coverage map; 132 queries / 106 DuckDB oracles)."""
    from fagi_gis_spark import registry

    return registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query (omitted only for hash-based
    signature ops — minhash/simhash/LSH/fuzzy-JW — which the pytest
    differential oracles cover instead)."""
    from fagi_gis_spark import registry

    return registry.oracle_sql()
