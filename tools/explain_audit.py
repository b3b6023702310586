"""Dump formatted physical plans of the flagship queries to PLANS.md —
the plan-quality audit: scan pruning (ReadSchema), predicate pushdown
(PushedFilters), broadcast vs sort-merge choices, WholeStageCodegen spans,
AQE nodes. Run at sf0.01 (plans, not timings).

Usage: python tools/explain_audit.py [sf_dir] [out_md] [query ...]

Named queries restrict (or extend) the audit: an ``AUDIT`` entry keeps its
description, any other registry query uses its own name as the heading.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

AUDIT = [
    ("radius_join_150m", "cell-bucketed radius join (ring-1 + hot-cell salting)"),
    ("hex_radius_join_150m", "hex-bucketed radius join (7-cell gridDisk, all-JVM assignment)"),
    ("s2_radius_join_150m", "S2-bucketed radius join (9-cell wrap neighborhood, Arrow encode)"),
    ("s2_cells", "S2 cell encode (Arrow batch) + level-7 ancestor (JVM bit ops)"),
    ("knn_conflation", "kNN conflation (radius join + per-probe window)"),
    ("fuse_keep_a", "Keep-A fusion (links ⋈ A, J1)"),
    ("fuse_most_points", "most-points fusion (JVM CASE over layer-level summaries)"),
    ("tile_assign", "WebMercator tile assignment (pure column math)"),
    ("pip_assign", "point-in-polygon join (closure-shipped index, mapInPandas)"),
    ("dedup_exact", "exact dedup (partial agg -> exchange -> final agg)"),
    ("ann_cosine_topk", "exact ANN (SparkFiles reference side input, one mapInPandas query scan)"),
    ("dedup_embedding_cosine", "embedding near-dup pairs (same blocked cogroup kernel)"),
    ("events_topk_users", "top-k per group (agg + window)"),
    ("dedup_incremental_minhash", "day-2 dedup vs stored bucketed LSH index (corpus side exchange-free)"),
    ("doc_pack_sequences", "sequence packing (per-group Arrow reset-scan)"),
    ("ann_pq_topk", "PQ/ADC blocked scan + exact shortlist re-rank"),
    ("learning_pair_features", "BooleanVector features (layer primitives + numpy bins)"),
    ("tag_pair_features", "TagFeatures (primitives only — no per-pair Python parse)"),
    ("dedup_substring", "exact substring dedup (codegen shingles, hash-pair group-by, broadcast dup set)"),
    ("corpus_stratified_sample", "stratified sampling (tiny-key agg, broadcast rates, codegen gate)"),
    ("image_exif_geotag", "EXIF parse from bytes (one header-only Arrow pass) + JVM hex assignment"),
    ("image_burst_dedup", "EXIF geo-temporal burst windows (lag + running sum, all JVM after parse)"),
    ("image_exif_poi_join", "EXIF probe side of the salted cell-bucketed radius join vs poi_a"),
    ("dedup_incremental_cosine", "day-2 cosine: bucketed index probe + exchange-free exact verify"),
    ("doc_repetition", "Gopher repetition signals (codegen gram explode, partial-agg groupBy)"),
    ("doc_decontaminate", "benchmark decontamination (broadcast gram set, corpus never shuffles)"),
    ("tile_heatmap_pyramid", "heatmap + zoom pyramid (one raw scan, per-level integer box-sums)"),
    ("doc_filter_funnel", "filter-funnel audit (four narrow gate frames equi-joined on id)"),
    ("events_colocation", "co-location join (exploded time-bucket equi-join, no theta join)"),
    ("events_grid_dbscan", "grid DBSCAN (dense cells, 9-offset equi-join, star-contraction CC)"),
    ("events_hotspot_gi", "Getis-Ord Gi* (neighborhood equi-join + broadcast global moments)"),
    ("events_cell_trend", "Mann-Kendall trend (calendar-bounded per-cell pairwise join)"),
    ("events_stay_points", "stay points (sessionize window shape, one user_id shuffle)"),
    ("doc_pii_scrub", "PII redaction (pure JVM regexp, one scan, no shuffle)"),
    ("zonal_stats", "zonal statistics (closure-shipped PIP index, per-Arrow-batch partial combine)"),
    ("ripleys_k", "Ripley's K (one salted self-join, per-radius conditional counts)"),
    ("events_local_morans_i", "Local Moran's I (neighbor equi-join + broadcast moments)"),
    ("kde_sites_150m", "quartic KDE at sites (radius-join pair stream + int-quantized agg)"),
    ("idw_sites_150m", "IDW interpolation (same pair stream + weighted integer sums)"),
    ("audio_fp_neardup", "audio fingerprint near-dup (banded hamming over stored fp)"),
    ("image_consensus_stored", "stored-feature consensus dedup (two banded channels, full join)"),
    ("video_fp_neardup", "video fingerprint near-dup (banded hamming over stored majority-fold fp)"),
    ("overlay_area_join", "polygon overlay area join (broadcast zones, Arrow convex clip, int shoelace)"),
    ("icetable_lifecycle", "IceTable lifecycle (manifest-pruned scans, time travel, CoW merge reads)"),
    ("events_trajectory_hausdorff", "trajectory Hausdorff (one user_id shuffle, per-key Arrow matrix)"),
    ("image_shard_pack", "webdataset shard planning (hex-cell groups, one Arrow batch per cell)"),
    ("image_shard_pack_incremental", "day-2 shard repack (bucketed carry-over + touched-cell union)"),
    ("image_spatial_split", "leakage-safe spatial split (block hash + broadcast border-band join)"),
    ("quadkey_cells", "quadkey encode (shared SQL text, whole-stage codegen)"),
]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_md = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, "PLANS.md")
    named = sys.argv[3:]
    descs = dict(AUDIT)
    audit = [(n, descs.get(n)) for n in named] if named else AUDIT

    from fagi_gis_spark import registry
    from fagi_gis_spark.session import get_spark

    cores = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
    spark = get_spark("plan-audit", cores=cores, shuffle_partitions=8)
    qs = registry.queries()
    sections = [
        "# PLANS — physical plan audit of flagship queries\n",
        f"Formatted plans at `{sf_dir}` ({cores} cores). What to check per plan:",
        "`ReadSchema` is pruned to used columns; filters show under",
        "`PushedFilters`; small sides broadcast; Python appears only as",
        "`ArrowEvalPython`/`MapInPandas` refine/transform stages;",
        "`WholeStageCodegen` spans cover the relational pipeline; AQE",
        "(`AdaptiveSparkPlan`) is active everywhere.\n",
    ]
    for name, desc in audit:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        heading = f"{name} — {desc}" if desc else name
        sections.append(f"## {heading}\n\n```\n{buf.getvalue().strip()}\n```\n")
    with open(out_md, "w") as f:
        f.write("\n".join(sections))
    print(f"wrote {out_md}")


if __name__ == "__main__":
    main()
