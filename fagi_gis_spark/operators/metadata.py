"""Metadata (attribute) fusion actions — SURVEY.md §2.5.

Reference: servlet-side SPARQL templates
(/root/reference/fagi-gis-service/src/main/java/gr/athenainnovation/imis/fusion/gis/servlets/BatchFusionServlet.java,
dispatch handleMetadataFusion:1622-1658). Actions re-root a linked
subject's property values onto the dominant subject under a renamed
predicate ``<domOnto><newPred>``:

* keep A / keep B      (metadataKeepLeft:2889-2996 / KeepRight:2997-3108)
* keep both            (both inserts, :1630-1634)
* keep concatenated    (collect leaf literals per subject, string-join;
                        metadataKeepConcatLeft:2669-2888)
* concatenation        (both sides' literals into one value,
                        metadataConcatenation:2107-2450)
* flattened            (re-emit chain leaves under <pred>_<leafLocal>,
                        metadataKeepFlatLeft:1778-1931)
* rest-properties      (unmatched predicates copied or dropped,
                        insertRemaining:656-709)

The reference's concat value order is SPARQL result order
(nondeterministic); this engine sorts values lexicographically —
documented determinism fix (SURVEY.md §2.5 ordering caveat).

Property chains (subject -> blank node -> leaf) are expanded the way the
reference queries them (VirtuosoImporter.expandChain:1052-1165): a fixed
run of optional hops up to depth 6 (Constants.java:76 MAX_METADATA_DEPTH),
here blank-node left joins. Building the plan runs no Spark action.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

GEO_PREDICATE_RX = r"(asWKT|hasGeometry|wgs84_pos#lat|wgs84_pos#long)"
MAX_METADATA_DEPTH = 6


def expand_chains(triples: DataFrame) -> DataFrame:
    """M1: property-chain expansion. Returns
    (subject, chain, object, depth) where chain = 'p1,p2,...' — the
    reference's comma-joined chain notation (BatchFusionServlet.java:1793-1822).
    Blank-node intermediates ('_:...') are traversed, literals terminate.

    The plan mirrors the reference's nested OPTIONALs: the blank-object
    hops are left-joined to the blank-node subjects once per depth
    2..MAX_METADATA_DEPTH. A matched row extends its chain; an unmatched
    row passes through unchanged, so each depth costs one join and no
    depth repeats an earlier one. Rows still ending on a blank node after
    the last hop (dangling or deeper than the limit) are dropped, as are
    null objects. The depth is fixed, so nothing is probed before the
    action: building the frame launches no job.
    """
    hop1 = triples.select(
        "subject",
        F.col("predicate").alias("chain"),
        "object",
        F.lit(1).alias("depth"),
    )
    bn = triples.filter(F.col("subject").startswith("_:")).alias("t")
    blank = F.col("object").startswith("_:")
    hit = F.col("t.subject").isNotNull()
    frontier = hop1.filter(blank)
    for depth in range(2, MAX_METADATA_DEPTH + 1):
        frontier = (
            frontier.alias("f")
            .join(bn, F.col("f.object") == F.col("t.subject"), "left")
            .select(
                F.col("f.subject").alias("subject"),
                F.when(hit, F.concat(F.col("f.chain"), F.lit(","), F.col("t.predicate")))
                .otherwise(F.col("f.chain"))
                .alias("chain"),
                F.when(hit, F.col("t.object")).otherwise(F.col("f.object")).alias("object"),
                F.when(hit, F.lit(depth)).otherwise(F.col("f.depth")).alias("depth"),
            )
        )
    return hop1.filter(~blank).unionByName(frontier.filter(~blank))


def _local_name(pred_col):
    """Local name of a URI (text after the last '/' or '#')."""
    return F.element_at(F.split(pred_col, r"[/#]"), -1)


def _reroot(
    links: DataFrame, rows: DataFrame, side: str, dominant: str, predicate_col: Column
) -> DataFrame:
    """Move ``side``'s rows of linked subjects onto the dominant subject:
    (subject, predicate, object) with ``predicate_col`` evaluated over
    ``rows``."""
    dom = links.select(
        F.col("node_a" if dominant == "a" else "node_b").alias("dom_subject"),
        F.col("node_a" if side == "a" else "node_b").alias("linked_subject"),
    )
    return dom.join(rows, dom.linked_subject == rows.subject, "inner").select(
        F.col("dom_subject").alias("subject"), predicate_col.alias("predicate"), "object"
    )


def _concat_values(rows: DataFrame, sep: str) -> DataFrame:
    """One value per (subject, predicate): the objects sorted
    lexicographically (determinism fix) and joined with ``sep``."""
    return rows.groupBy("subject", "predicate").agg(
        F.array_join(F.array_sort(F.collect_list("object")), sep).alias("object")
    )


def metadata_keep(
    links: DataFrame,
    triples: DataFrame,
    side: str,
    chain: str | list[str],
    dom_onto: str,
    new_pred: str,
    dominant: str = "a",
) -> DataFrame:
    """Keep A / Keep B for one matched property chain (or a list of
    alternative chains): copy the chain's leaf values for linked
    subjects, re-rooted on the dominant subject, predicate renamed to
    <dom_onto><new_pred>."""
    chains = expand_chains(triples).filter(F.col("chain").isin(chain))
    return _reroot(links, chains, side, dominant, F.lit(dom_onto + new_pred))


def metadata_keep_both(
    links, triples_a, triples_b, chain_a, chain_b, dom_onto, new_pred, dominant="a"
) -> DataFrame:
    a = metadata_keep(links, triples_a, "a", chain_a, dom_onto, new_pred, dominant)
    b = metadata_keep(links, triples_b, "b", chain_b, dom_onto, new_pred, dominant)
    return a.unionByName(b)


def metadata_keep_concat(
    links: DataFrame,
    triples: DataFrame,
    side: str,
    chain: str,
    dom_onto: str,
    new_pred: str,
    dominant: str = "a",
    sep: str = " ",
) -> DataFrame:
    """Keep Concatenated: leaf literals per dominant subject, sorted
    lexicographically (determinism fix) and joined with ``sep``."""
    return _concat_values(
        metadata_keep(links, triples, side, chain, dom_onto, new_pred, dominant), sep
    )


def metadata_concatenation(
    links, triples_a, triples_b, chain_a, chain_b, dom_onto, new_pred, dominant="a", sep=" "
) -> DataFrame:
    """Concatenation: both sides' leaf literals gathered per dominant
    subject into one value (metadataConcatenation:2107-2450)."""
    both = metadata_keep_both(
        links, triples_a, triples_b, chain_a, chain_b, dom_onto, new_pred, dominant
    )
    return _concat_values(both, sep)


def metadata_keep_flattened(
    links: DataFrame,
    triples: DataFrame,
    side: str,
    chain_prefix: str,
    dom_onto: str,
    new_pred: str,
    dominant: str = "a",
) -> DataFrame:
    """Keep Flattened: every chain sharing the matched prefix re-emits its
    leaf under ``<dom_onto><new_pred>_<leafLocalName>``
    (metadataKeepFlatLeft:1778-1931, simplified-suffix :1880-1889)."""
    chains = expand_chains(triples).filter(
        (F.col("chain") == chain_prefix) | F.col("chain").startswith(chain_prefix + ",")
    )
    leaf_pred = F.element_at(F.split(F.col("chain"), ","), -1)
    predicate = F.when(F.col("chain") == chain_prefix, F.lit(dom_onto + new_pred)).otherwise(
        F.concat(F.lit(dom_onto + new_pred + "_"), _local_name(leaf_pred))
    )
    return _reroot(links, chains, side, dominant, predicate)


def rest_properties(
    links: DataFrame,
    triples: DataFrame,
    side: str,
    fused_predicates: list[str],
    dominant: str = "a",
) -> DataFrame:
    """restAction Keep: copy unmatched (not-yet-fused) predicates of linked
    subjects to the dominant subject (insertRemaining:656-709); geo
    predicates always excluded (VirtuosoImporter.java:1330-1340)."""
    t = triples.filter(
        ~F.col("predicate").isin(fused_predicates)
        & ~F.col("predicate").rlike(GEO_PREDICATE_RX)
    )
    return _reroot(links, t, side, dominant, F.col("predicate"))
