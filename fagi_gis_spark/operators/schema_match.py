"""Schema matching (property alignment) — SURVEY.md §2.7 M1/M2.

Reference: VirtuosoImporter.scanMatches
(/root/reference/fagi-gis/src/main/java/gr/athenainnovation/imis/fusion/gis/virtuoso/VirtuosoImporter.java:846-1050):
for every A-chain x B-chain over a SAMPLE_SIZE=5 link sample
(utils/Constants.java:61), score = mean Jaro-Winkler over tokenized local
names + regex type compatibility (+ optional WordNet semantic distance,
behind a flag here — heavy external dict, SURVEY.md §7 risk 4).

The property universe is tiny (schemas, not data), so the cross join of
chains is a small broadcast job; the link SAMPLE is the only data-sized
input: the SAMPLE_SIZE lowest-keyed links, so the sample (and every score
built on it) does not depend on how the stored layers are partitioned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fagi_gis_spark.functions.similarity import jaro_winkler, tokenize
from fagi_gis_spark.functions.typing import infer_type_py
from fagi_gis_spark.operators.metadata import expand_chains

SAMPLE_SIZE = 5  # Constants.java:61


def _local_words(chain: str) -> list[str]:
    """Tokenized local names of every predicate in the chain."""
    words: list[str] = []
    for pred in chain.split(","):
        local = pred.rsplit("/", 1)[-1].rsplit("#", 1)[-1]
        words.extend(tokenize(local))
    return words


def chain_profiles(links: DataFrame, triples: DataFrame, side: str) -> list[dict]:
    """M1: property chains present on a 5-link sample, with an inferred
    value type per chain (driver-side tiny result)."""
    key = "node_a" if side == "a" else "node_b"
    sample = links.select(F.col(key).alias("subject")).orderBy("subject").limit(SAMPLE_SIZE)
    chains = (
        expand_chains(triples)
        .join(sample, "subject", "left_semi")
        .groupBy("chain")
        .agg(F.min("object").alias("sample_value"), F.count("*").alias("n"))
    )
    return [
        {
            "chain": r["chain"],
            "words": _local_words(r["chain"]),
            "vtype": infer_type_py(r["sample_value"]),
            "n": int(r["n"]),
        }
        for r in chains.collect()
    ]


def _mean_jw(words_a: list[str], words_b: list[str]) -> float:
    if not words_a or not words_b:
        return 0.0
    best = [max(jaro_winkler(w, v) for v in words_b) for w in words_a]
    return sum(best) / len(best)


def score_matches(
    profiles_a: list[dict],
    profiles_b: list[dict],
    text_weight: float = 0.5,
    type_weight: float = 0.5,
    wordnet=None,
    max_parent_depth: int = 4,
    power: float = 1.0,
) -> list[dict]:
    """M2: pairwise chain scores.

    Default (``wordnet=None``): text (mean JW) + type compatibility — the
    engine's documented JW+type scoring.

    With a ``functions.semantic.MiniWordNet`` supplied, the reference's
    full combined score is used instead:
    ``(semantic + jaro + 0.5*same_type) / 3``
    (VirtuosoImporter.java:950; semantic term :1971-2050 — hypernym
    common-parent distance, ``(1 - min/(maxParentDepth+1))^power``)."""
    from fagi_gis_spark.functions.semantic import semantic_chain_score

    out = []
    for pa in profiles_a:
        for pb in profiles_b:
            text = _mean_jw(pa["words"], pb["words"])
            type_ok = 1.0 if pa["vtype"] == pb["vtype"] else 0.0
            row = {
                "chain_a": pa["chain"],
                "chain_b": pb["chain"],
                "text_score": text,
                "type_score": type_ok,
            }
            if wordnet is None:
                row["score"] = text_weight * text + type_weight * type_ok
            else:
                sem = semantic_chain_score(
                    pa["words"], pb["words"], wordnet, max_parent_depth, power
                )
                row["sem_score"] = sem
                row["score"] = (sem + text + 0.5 * type_ok) / 3.0
            out.append(row)
    return out


def best_matches(scored: list[dict], min_score: float = 0.5) -> list[dict]:
    """Greedy 1:1 assignment by descending score (the UI suggestion list,
    SchemaMatchServlet)."""
    used_a: set = set()
    used_b: set = set()
    picks = []
    for s in sorted(scored, key=lambda x: (-x["score"], x["chain_a"], x["chain_b"])):
        if s["score"] < min_score or s["chain_a"] in used_a or s["chain_b"] in used_b:
            continue
        used_a.add(s["chain_a"])
        used_b.add(s["chain_b"])
        picks.append(s)
    return picks


def schema_match(
    links: DataFrame,
    triples_a: DataFrame,
    triples_b: DataFrame,
    wordnet=None,
    max_parent_depth: int = 4,
    power: float = 1.0,
) -> list[dict]:
    """End-to-end M1+M2+M3. ``wordnet`` (a ``functions.semantic.
    MiniWordNet``, e.g. from ``load_wordnet_dict`` over Princeton wndb
    files) switches scoring to the reference's full combined formula
    ``(semantic + jaro + 0.5*same_type) / 3`` (VirtuosoImporter.java:950);
    the default stays JW+type."""
    pa = chain_profiles(links, triples_a, "a")
    pb = chain_profiles(links, triples_b, "b")
    return best_matches(
        score_matches(pa, pb, wordnet=wordnet, max_parent_depth=max_parent_depth, power=power)
    )
