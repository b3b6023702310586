"""Guard: every top-level name in ``fagi_gis_spark/`` is reached from
code outside the tests — a registry query, the runner, a tool or the
benchmark.  A def that only tests call is dead weight that every later
change still has to read; it goes, with the tests that only exercise
it, unless the keep-list below names it with its reason.

A name counts as reached when code outside the tests mentions it: as
an identifier, an attribute, an imported name, or a word inside a
non-docstring string (tools embed job scripts in strings).  Docstrings
and comments never count, and neither does a def's mention of itself.
Registry queries are reached through their ``@register`` decorator.
"""

from __future__ import annotations

import ast
import fnmatch
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "fagi_gis_spark"

#: "<module path under fagi_gis_spark>.<name>" glob -> why it stays
#: although only tests reach it.  Every entry must still match an
#: unreached name, so the list cannot go stale.
KEEP = {
    # reference twins: the tests check the JVM / SQL paths against them
    "index.*.*_np": "numpy twin of a JVM cell expression",
    "index.geohash.geohash_bits_sql": "SQL twin checked on DuckDB and Spark against numpy",
    "index.s2.s2_cell_slow": "scalar S2 reference for the vectorized cell ids",
    "index.quadkey.quadkey_decode": "inverse the quadkey round-trip tests decode with",
    "index.tiles.unpack_cell": "inverse the tile-cell round-trip tests decode with",
    "geometry.topology.touches": "JTS predicate twin pinning relate_flags",
    "geometry.topology.crosses": "JTS predicate twin pinning relate_flags",
    "geometry.projection.EPSG_3035_SPHERICAL": "spherical LAEA the ellipsoidal 3035 is compared with",
    "operators.learning.u_pair_features": "Arrow UDF twin of the JVM pair features",
    "operators.learning.owl_feature_slice": "scalar twin of the vectorized OWL features",
    "operators.tag_features.tag_feature_vector": "scalar twin of tag_feature_matrix",
    "operators.fusion.with_scores": "float scoring twin scores_quantized is checked against",
    # SURVEY-mapped APIs of the reference system
    "sources.nt.*": "N-Triples link/triple I/O (SURVEY-mapped)",
    "operators.learning.train_action_classifier": "reference action learner (SURVEY-mapped)",
    "operators.learning.predict_actions": "reference action learner (SURVEY-mapped)",
    "operators.tiling.write_tiles": "tile-partitioned sink (SURVEY-mapped)",
    "operators.pruning.*": "cell-partitioned write + pruned bbox scan (SURVEY-mapped)",
    "operators.chain_config.*": "metadata chain config parsing (SURVEY-mapped)",
    "functions.semantic.load_wordnet_dict": "WordNet wndb loader (SURVEY-mapped)",
    # north-rule codec checks and fixtures
    "sources.png.psnr": "codec fidelity metric",
    "sources.*.encode_*": "fixture encoder for a decoder test",
    "sources.images.generate_images_pdf": "PDF payload fixture",
    "pipeline.lineage.manifest_of": "lineage manifest reader for resume checks",
    "__init__.__version__": "package version",
}


def _docstrings(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                out.add(id(body[0].value))
    return out


def _mentions(tree: ast.AST) -> Counter:
    skip = _docstrings(tree)
    c: Counter = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            c[node.id] += 1
        elif isinstance(node, ast.Attribute):
            c[node.attr] += 1
        elif isinstance(node, ast.alias):
            c[node.name.split(".")[-1]] += 1
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in skip
        ):
            c.update(re.findall(r"[A-Za-z_]\w*", node.value))
        elif isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            # __all__ lists exports, it does not use them
            for s in ast.walk(node.value):
                if isinstance(s, ast.Constant):
                    skip.add(id(s))
    return c


def _is_test_file(rel: Path) -> bool:
    return rel.parts[0] == "tests" or rel.name.startswith("test_") or rel.name == "conftest.py"


def _sources():
    for p in sorted(ROOT.rglob("*.py")):
        rel = p.relative_to(ROOT)
        if any(part.startswith(".") for part in rel.parts):
            continue
        yield rel, ast.parse(p.read_text())


def _top_level_names(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if any(
                isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
                for d in node.decorator_list
            ):
                continue
            yield node.name, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name) and n.id != "__all__":
                        yield n.id, node


def _unreached_names() -> list[str]:
    """Qualified package top-level names that no code outside the tests
    mentions."""
    trees = list(_sources())
    outside: Counter = Counter()
    for rel, tree in trees:
        if not _is_test_file(rel):
            outside.update(_mentions(tree))
    found = []
    for rel, tree in trees:
        if rel.parts[0] != PKG.name:
            continue
        module = ".".join(rel.with_suffix("").parts[1:])
        for name, node in _top_level_names(tree):
            if outside[name] - _mentions(node)[name] <= 0:
                found.append(f"{module}.{name}")
    return found


def test_no_def_is_reached_only_from_tests():
    found = _unreached_names()
    unexplained = sorted(q for q in found if not any(fnmatch.fnmatchcase(q, k) for k in KEEP))
    assert not unexplained, (
        "only tests reach these package names; delete them with the tests "
        f"that only exercise them, or add a keep-list entry with its reason: {unexplained}"
    )
    stale = sorted(k for k in KEEP if not any(fnmatch.fnmatchcase(q, k) for q in found))
    assert not stale, f"keep-list entries that match no unreached name: {stale}"


def test_no_spark_broadcast_variables():
    """Driver-built side inputs ship through ``sideinput`` (large arrays)
    or the UDF closure (small ones).  A ``sparkContext.broadcast`` value
    outlives the query that made it unless someone destroys it, and
    nothing in the package does."""
    hits = [
        f"{p.relative_to(ROOT)}:{n}"
        for p in sorted(PKG.rglob("*.py"))
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if "sparkContext.broadcast(" in line
    ]
    assert not hits, f"explicit Spark broadcast variables: {hits}"
