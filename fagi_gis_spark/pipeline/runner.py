"""End-to-end pipeline runner — the CLI-equivalent flow (SURVEY.md §3.1)
with per-stage lineage + resume.

Stage graph (each stage durable + resumable, lineage.run_stage):
  1. ingest_a / ingest_b  — derived POI layers, precedence dedup at ingest
  2. conflate             — cell-bucketed radius join -> links
  3. fuse                 — selected geometry fusion transformation
  4. tiles                — WebMercator tile assignment of fused output

Run twice with the same config -> stages 1-4 all resume (byte-identical
manifests); kill between stages -> next run redoes only missing stages.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fagi_gis_spark.operators.dedup_precedence import precedence_dedup
from fagi_gis_spark.operators.fusion import FusionParams, fuse_all
from fagi_gis_spark.operators.spatial_join import radius_join
from fagi_gis_spark.operators.tiling import assign_tiles
from fagi_gis_spark.pipeline.lineage import input_fingerprint, run_stage
from fagi_gis_spark.sources.layers import spark_layers


@dataclass
class PipelineConfig:
    sf_dir: str
    out_dir: str
    transformation: str = "keep_a"
    radius_m: float = 150.0
    params: FusionParams = field(default_factory=FusionParams)


def run_pipeline(spark: SparkSession, cfg: PipelineConfig) -> dict[str, DataFrame]:
    os.makedirs(cfg.out_dir, exist_ok=True)
    base_fp = input_fingerprint(cfg.sf_dir, str(cfg.radius_m))

    L = spark_layers(spark, cfg.sf_dir)

    poi_a = run_stage(
        spark, cfg.out_dir, "ingest_a",
        lambda: precedence_dedup(L["poi_a_raw"]),
        input_fingerprint(base_fp, "ingest_a"),
    )
    poi_b = run_stage(
        spark, cfg.out_dir, "ingest_b",
        lambda: L["poi_b"],
        input_fingerprint(base_fp, "ingest_b"),
    )
    links = run_stage(
        spark, cfg.out_dir, "conflate",
        lambda: radius_join(poi_a, poi_b, cfg.radius_m).select(
            F.col("l_key").alias("node_a"),
            F.col("r_key").alias("node_b"),
            "dist_m", "l_lon", "l_lat",
        ),
        input_fingerprint(base_fp, "conflate"),
    )
    fuse_fp = input_fingerprint(base_fp, "fuse", cfg.transformation, repr(cfg.params))
    fused = run_stage(
        spark, cfg.out_dir, "fuse",
        lambda: fuse_all(
            links.select("node_a", "node_b"), poi_a, poi_b, cfg.transformation, cfg.params
        ),
        fuse_fp,
    )
    tiled = run_stage(
        spark, cfg.out_dir, "tiles",
        lambda: assign_tiles(
            fused.join(
                links.select(
                    F.col("node_a").alias("subject_a"),
                    F.col("node_b").alias("subject_b"),
                    F.col("l_lon").alias("lon"),
                    F.col("l_lat").alias("lat"),
                ),
                ["subject_a", "subject_b"],
                "inner",
            )
        ),
        input_fingerprint(fuse_fp, "tiles"),
        partition_by=["z"],
    )
    return {"poi_a": poi_a, "poi_b": poi_b, "links": links, "fused": fused, "tiles": tiled}


def main():  # CLI-equivalent entry (reference §3.1: java -jar fagi-gis -c fusion.conf)
    import argparse

    from fagi_gis_spark.session import get_spark

    ap = argparse.ArgumentParser(description="fagi_gis_spark end-to-end pipeline")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--transformation", default="keep_a")
    ap.add_argument("--radius-m", type=float, default=150.0)
    ap.add_argument("--shift-pct", type=float, default=25.0)
    ap.add_argument("--cores", default=None)
    args = ap.parse_args()

    spark = get_spark("fagi-pipeline", cores=args.cores)
    cfg = PipelineConfig(
        sf_dir=args.sf_dir,
        out_dir=args.out_dir,
        transformation=args.transformation,
        radius_m=args.radius_m,
        params=FusionParams(shift_pct=args.shift_pct),
    )
    result = run_pipeline(spark, cfg)
    for stage, df in result.items():
        print(f"{stage}: {df.count()} rows")


if __name__ == "__main__":
    main()
