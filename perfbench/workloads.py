"""Workload definitions and the metric catalogue the benchmark emits.

Each op is one public registry query (``registry.queries()[query]``),
named ``<layer>.<op>`` after the module that does its work.  The
per-layer metric names below are the ones ``BENCHMARK.json`` declares.
"""

from __future__ import annotations

from dataclasses import dataclass

#: end-to-end metrics: name -> unit
END_TO_END = {
    "setup_s": "s",
    "import_s": "s",
    "pass_s": "s",
    "rows_per_s": "rows/s",
}


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    #: (op, registry query) in pass order
    ops: tuple[tuple[str, str], ...]
    #: rows per generated table at workload size
    sizes: dict
    #: rows per table of the companion correctness input; None: the
    #: workload input is small enough for the DuckDB oracles itself
    companion: dict | None
    #: table whose rows are the workload's stated input rows
    rows_table: str
    #: True: the input is imported as POI layers (sources.layers)
    imports_layers: bool
    #: queries the traced run also checks against their oracles
    check_only: tuple[str, ...] = ()


CONFLATE = Workload(
    name="conflate",
    why=(
        "FAGI conflation on imported POI layers: fusion, metadata and tiling "
        "equi-joins on subject keys plus a cell-keyed radius join and link "
        "discovery; no text kernel runs; 5000 orders"
    ),
    ops=(
        ("fusion.scores", "fusion_scores"),
        ("metadata.concatenation", "metadata_concatenation"),
        ("tiling.tile_assign", "tile_assign"),
        ("spatial_join.radius_tile", "radius_join_150m"),
        ("discovery.exact", "discover_links_exact"),
    ),
    sizes={"orders": 5000},
    companion=None,
    rows_table="orders",
    imports_layers=True,
    # the tile strategy is timed; all three must match the same oracle
    check_only=("hex_radius_join_150m", "s2_radius_join_150m"),
)

CORPUS = Workload(
    name="corpus",
    why=(
        "Arrow/pandas-UDF bound: MinHash-LSH, exact dedup, cosine top-k, doc "
        "quality; never imports POI layers, so import or spatial changes should "
        "leave it flat; 6000 docs, 2000 embeddings"
    ),
    ops=(
        ("dedup.minhash_lsh", "dedup_minhash_lsh"),
        ("dedup.exact", "dedup_exact"),
        ("ann.cosine_topk", "ann_cosine_topk"),
        ("text.doc_quality", "doc_quality"),
    ),
    sizes={"documents": 6000, "embeddings": 2000},
    companion={"documents": 60, "embeddings": 200},
    rows_table="documents",
    imports_layers=False,
)

WORKLOADS = {w.name: w for w in (CONFLATE, CORPUS)}

#: ops whose plans run Python workers (ArrowEvalPython, MapInPandas, ...)
PYTHON_OPS = {
    "layers.import",
    "dedup.minhash_lsh",
    "ann.cosine_topk",
}
#: ops whose plans shuffle nothing at these sizes (broadcast joins,
#: map-only): their shuffle_bytes is always 0 and is not reported
NO_SHUFFLE_OPS = {"tiling.tile_assign", "spatial_join.radius_tile"}
#: useful-outcome / attempt ratios (refined output rows per candidate)
RATIOS = {
    "spatial_join.radius_tile": "pairs_per_candidate",
    "discovery.exact": "pairs_per_candidate",
    "dedup.minhash_lsh": "verified_per_candidate",
}
SESSION_METRICS = {
    "session.start_s": "s",
    "session.leaked_rdds": "count",
    "session.trace_overhead_s": "s",
}


def per_layer_metrics() -> dict[str, str]:
    """Every per-layer metric name -> unit, in a stable order."""
    out = {}
    for op in ["layers.import"] + [op for w in WORKLOADS.values() for op, _ in w.ops]:
        out[f"{op}.wall_s"] = "s"
        out[f"{op}.rows_out"] = "rows"
        if op not in NO_SHUFFLE_OPS:
            out[f"{op}.shuffle_bytes"] = "bytes"
        if op in PYTHON_OPS:
            out[f"{op}.py_s"] = "s"
            out[f"{op}.py_bytes_sent"] = "bytes"
            out[f"{op}.py_boot_s"] = "s"
        if op in RATIOS:
            out[f"{op}.{RATIOS[op]}"] = "1"
    out.update(SESSION_METRICS)
    return out
