"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...},
 "sf": ..., "throughput_rows_per_sec": ...}

Each query is forced end-to-end with the noop sink (so UDF/projection
columns are actually computed, not pruned by count()), executed
$SPARK_GRAFT_REPEATS times (default 5) in ROTATED-INTERLEAVED sweeps
(the whole suite repeats, order rotated per sweep, so one host
contention window can't poison every repeat of the same query), and
reported as the per-query MINIMUM — the steady-state time, robust to
transient contention spikes on the shared sandbox (observed: the same
unchanged query varying 2.5s <-> 23s across adjacent runs). The
max/min spread per query is recorded (``noise_spread_max_over_min``)
so a reader can tell a real regression (min moved) from noise (only
max moved). Aggregation details are in the JSON (``repeats``/``agg``/
``schedule``).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "radius_join_150m",
    "hex_radius_join_150m",
    "s2_radius_join_150m",
    "s2_cells",
    "knn_conflation",
    "tile_assign",
    "pip_assign",
    "fuse_keep_a",
    "fuse_most_points",
    "fuse_shift_a_to_b",
    "discover_links_exact",
    "dedup_minhash_lsh",
    "dedup_exact",
    "ann_cosine_topk",
    "doc_quality",
    "events_windowed_agg",
    "events_sessionize",
    "multimodal_decode_stats",
]


def run(sf_dir: str | None = None, cores: str | None = None, names=None) -> dict:
    from fagi_gis_spark import registry
    from fagi_gis_spark.session import get_spark

    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
    spark = get_spark("bench", cores=cores)

    qs = registry.queries()
    names = names or [n for n in HEADLINE if n in qs]
    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    total_rows_in = spark.read.parquet(f"{sf_dir}/orders.parquet").count()

    # warmup: spawn python workers + JIT codegen so the first measured
    # query doesn't absorb one-time session costs
    from pyspark.sql import functions as F

    spark.range(0, 500_000, 1, 8).select((F.col("id") * 7 % 13).alias("x")).groupBy(
        "x"
    ).count().collect()
    qs["fuse_keep_a"](spark, sf_dir).limit(1000).write.format("noop").mode("overwrite").save()

    # Noise-robust schedule (shared-host contention spikes showed the
    # same unchanged query swinging 2.5s <-> 23s between adjacent runs,
    # and r4's driver record inflated 1.6x on pure noise): run the whole
    # suite `repeats` times with the query ORDER ROTATED each sweep —
    # back-to-back repeats of one query all land inside the same
    # contention window, interleaved sweeps don't — and report the
    # per-query MINIMUM (steady-state time) plus the spread so a real
    # regression (min shifts) is distinguishable from noise (max-only).
    repeats = int(os.environ.get("SPARK_GRAFT_REPEATS", "5"))
    best: dict[str, float] = {}
    worst: dict[str, float] = {}
    for sweep in range(repeats):
        order = names[sweep % len(names):] + names[: sweep % len(names)]
        for name in order:
            # construction is timed too: query functions may run planning
            # work (e.g. fitting a quantizer), and excluding it would
            # under-report such queries
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best[name] = min(best.get(name, dt), dt)
            worst[name] = max(worst.get(name, dt), dt)
    for name in names:
        timings[name] = round(best[name], 3)
    noise_spread = {
        n: round(worst[n] / best[n], 2) for n in names if best[n] > 0
    }

    total = round(sum(timings.values()), 3)

    # Scale probe: the flagship spatial join at ~27x the sf0.1 row count on
    # a deterministic synthetic layer (same (subject, lon, lat) shape as
    # the parquet layers; range-based, seed-free). One long measurement is
    # far more noise-robust on this shared host than any min-of-k over
    # ~3s queries, and it is the round-over-round comparable the per-query
    # numbers can't give. Disable with SPARK_GRAFT_SCALE_PROBE=0.
    scale_probe = None
    if os.environ.get("SPARK_GRAFT_SCALE_PROBE", "1") != "0":
        from fagi_gis_spark.index import tiles as tiling
        from fagi_gis_spark.operators.spatial_join import radius_join

        # drop suite residue (cached layers, checkpoint blocks) so the
        # probe measures the join, not the suite's memory pressure —
        # standalone the same probe ran 2.2x faster than straight after
        # the 5-sweep suite (130.8k vs 58.4k rows/s, same code)
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()

        # 20M rows (r3 ask #8: push past the 4M probe): the flagship
        # salted radius join PLUS the z/x/y tile assignment on its
        # output — the headline join+tile path end to end
        n_probe = int(os.environ.get("SPARK_GRAFT_SCALE_PROBE_N", "20000000"))

        def layer(n):
            return spark.range(0, n, 1, int(cores)).select(
                F.col("id").cast("string").alias("subject"),
                # hash-scattered over a ~333x166 km window at lat 50-51.5
                # (a multiplicative lattice would leave points collinear
                # and ~10x the true neighbour count): ~3-5 neighbours per
                # probe at 150 m, so output stays O(input) and the probe
                # measures join machinery, not pair materialization volume
                (F.lit(-1.5) + F.pmod(F.xxhash64(F.col("id")), F.lit(3000000)) / 1e6).alias("lon"),
                (F.lit(50.0) + F.pmod(F.xxhash64(F.col("id"), F.lit(1)), F.lit(1500000)) / 1e6).alias("lat"),
            )

        pts = layer(n_probe)
        other = pts.withColumn("lon", F.col("lon") + 0.0005).withColumn(
            "subject", F.concat(F.lit("b"), F.col("subject"))
        )
        t0 = time.time()
        joined = radius_join(pts, other, 150.0)
        joined.withColumn(
            "tile", tiling.cell_id_col((F.col("l_lon") + F.col("r_lon")) / 2,
                                       (F.col("l_lat") + F.col("r_lat")) / 2, 15)
        ).write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        scale_probe = {
            "rows": n_probe,
            "sec": round(dt, 3),
            "rows_per_sec": round(n_probe / dt, 1),
            "path": "salted radius_join + z15 tile assignment",
        }

        # bucketed-build variant: build side persisted bucketed by cell
        # (the 100 TB storage layout), probe join reads it with no
        # build-side exchange; write cost reported separately from join
        n_b = int(os.environ.get("SPARK_GRAFT_SCALE_PROBE_BUCKETED_N", "4000000"))
        if n_b > 0:
            from fagi_gis_spark.index.tiles import cell_id_col
            from fagi_gis_spark.operators.spatial_join import (
                join_res_for_radius,
                radius_join_bucketed,
            )

            z = join_res_for_radius(150.0)
            tbl = "bench_bucketed_build"
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            try:
                t_write = time.time()
                (
                    layer(n_b)
                    .withColumn("lon", F.col("lon") + 0.0005)
                    .select(
                        F.col("subject").alias("r_key"),
                        F.col("lon").alias("r_lon"),
                        F.col("lat").alias("r_lat"),
                    )
                    .withColumn("cell", cell_id_col(F.col("r_lon"), F.col("r_lat"), z))
                    .write.bucketBy(64, "cell")
                    .sortBy("cell")
                    .mode("overwrite")
                    .saveAsTable(tbl)
                )
                write_sec = time.time() - t_write
                t_join = time.time()
                radius_join_bucketed(layer(n_b), spark.table(tbl), 150.0).write.format(
                    "noop"
                ).mode("overwrite").save()
                join_sec = time.time() - t_join
                scale_probe["bucketed"] = {
                    "rows": n_b,
                    "build_write_sec": round(write_sec, 3),
                    "join_sec": round(join_sec, 3),
                    "join_rows_per_sec": round(n_b / join_sec, 1),
                }
            finally:
                spark.sql(f"DROP TABLE IF EXISTS {tbl}")

        # co-location probe: the contact-tracing join shape (same-cell
        # |dt|<=900s distinct-user pairs via the exploded time-bucket
        # equi-join) at scale-probe volume — one composite-key shuffle,
        # never a theta join
        n_c = int(os.environ.get("SPARK_GRAFT_SCALE_PROBE_COLOC_N", str(n_probe)))
        if n_c > 0:
            from fagi_gis_spark.operators.trajectory import colocation

            ev = spark.range(0, n_c, 1, int(cores)).select(
                F.col("id").alias("event_id"),
                F.timestamp_seconds(
                    F.lit(1704067200) + F.pmod(F.xxhash64(F.col("id"), F.lit(2)), F.lit(2592000))
                ).alias("ts"),
                F.pmod(F.xxhash64(F.col("id"), F.lit(3)), F.lit(200000)).alias("user_id"),
                F.lit("e").alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit("").alias("props"),
            )
            # z12 keeps expected partners-per-event < 1 at this density,
            # so the probe measures the join machinery rather than pair
            # materialization volume (same reasoning as the radius probe)
            t_c = time.time()
            colocation(ev, z=12, win_s=900).write.format("noop").mode("overwrite").save()
            dt_c = time.time() - t_c
            scale_probe["colocation"] = {
                "rows": n_c,
                "sec": round(dt_c, 3),
                "rows_per_sec": round(n_c / dt_c, 1),
                "path": "colocation z12 / 900s (cell x time-bucket equi-join)",
            }

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return {
        "metric": "headline suite wall time (spatial join + tiling + fusion + dedup + ann)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "cores": cores,
        "repeats": repeats,
        "agg": "min",
        "schedule": "rotated-interleaved sweeps",
        "noise_spread_max_over_min": noise_spread,
        "input_rows": total_rows_in,
        "throughput_rows_per_sec": round(total_rows_in * len(names) / total, 1) if total else None,
        "scale_probe": scale_probe,
    }


if __name__ == "__main__":
    result = run()
    print(json.dumps(result))
