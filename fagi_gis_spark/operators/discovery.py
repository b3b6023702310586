"""Link discovery (kNN/radius conflation) — SURVEY.md §2.4 D1-D6.

Reference flow (/root/reference/fagi-gis-service/.../BatchFindLinkServlet.java:310-730):
bbox candidate fetch -> per-entity radius SPARQL probe (N+1 loop) ->
literal filters -> term-frequency==1 filter -> fuzzy-token Jaccard
(JW > 0.8 per token pair) -> accept when score > 0.2 (batch) / 0.8
(single). Thresholds preserved verbatim; the N+1 probe loop becomes ONE
cell-bucketed radius join.

Two scoring modes:
* ``exact``  — exact-token Jaccard, pure JVM column algebra
               (oracle-checkable in SQL);
* ``fuzzy``  — the reference's Jaro-Winkler token matching
               (Arrow-batched pandas UDF; verified by the pytest
               differential oracle instead of SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fagi_gis_spark.functions.similarity import u_fuzzy_jaccard
from fagi_gis_spark.operators.spatial_join import bbox_filter, radius_join

#: reference batch accept threshold (BatchFindLinkServlet.java:712-713)
JACCARD_ACCEPT_BATCH = 0.2


def _literal_ok(col):
    """Literal-shape filters (FindLinkServlet.java:254-264): drop URLs,
    pure integers, and non-text values."""
    return (
        col.isNotNull()
        & ~col.rlike(r"^https?://")
        & ~col.rlike(r"^_:")
        & ~col.rlike(r"^-?\d+$")
        & col.rlike(r"[A-Za-z]")
    )


def discover_links(
    poi_a: DataFrame,
    poi_b: DataFrame,
    triples_a: DataFrame,
    triples_b: DataFrame,
    radius_m: float = 200.0,
    name_pred_a: str = "http://a.example/name",
    name_pred_b: str = "http://b.example/label",
    mode: str = "exact",
    accept: float = JACCARD_ACCEPT_BATCH,
    bbox: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """D1-D6 as one pipeline. Returns
    (node_a, node_b, dist_m, jaccard) for accepted candidate links."""
    a = poi_a
    b = poi_b
    if bbox is not None:
        a = bbox_filter(a, *bbox)  # D1 viewport fetch
        b = bbox_filter(b, *bbox)

    # D2: radius probe — one distributed join instead of the N+1 loop.
    # Project to (keys, dist_m) straight away: the literal joins and the
    # freq window below shuffle these rows, and the four coordinate
    # doubles (32 B/row over ~10M candidates at sf1.0) are never read
    # again (guide §2.3 — project before the exchange).
    cand = radius_join(a, b, radius_m).select("l_key", "r_key", "dist_m")

    # candidate literals (B side), literal-shape filtered.  In exact
    # mode each side's tokens are computed HERE, once per subject, not
    # per candidate pair (~7 neighbours at sf1.0 would re-split the same
    # literal 7x); the join attaches the ready array.  The literal
    # tables are orders of magnitude smaller than the candidate set, so
    # they are the hash side: broadcast while they fit the session
    # threshold, pinned shuffled-hash build otherwise — never a sort of
    # the candidate stream (guide §3.1).
    from fagi_gis_spark.operators.spatial_join import _prefer_build_side

    _toks = lambda c: F.array_distinct(F.split(F.trim(c), r"\s+"))  # noqa: E731
    lits_b = triples_b.filter(
        (F.col("predicate") == name_pred_b) & _literal_ok(F.col("object"))
    ).select(F.col("subject").alias("r_key"), F.col("object").alias("lit_b"))
    if mode == "exact":
        lits_b = lits_b.select("r_key", "lit_b", _toks(F.col("lit_b")).alias("__tb"))
    cand = cand.join(_prefer_build_side(lits_b), "r_key", "inner")

    # D3: term-frequency filter — a literal value must be unique within
    # the probe entity's neighborhood (freq == 1). A window count does it
    # in ONE pass over the candidates (a groupBy + semi-join would
    # recompute the whole radius join for the second branch).
    from pyspark.sql import Window

    w = Window.partitionBy("l_key", "lit_b")
    cand = (
        cand.withColumn("__freq", F.count("*").over(w))
        .filter(F.col("__freq") == 1)
        .drop("__freq")
    )

    # probe entity's own literal
    lits_a = triples_a.filter(
        (F.col("predicate") == name_pred_a) & _literal_ok(F.col("object"))
    ).select(F.col("subject").alias("l_key"), F.col("object").alias("lit_a"))
    if mode == "exact":
        lits_a = lits_a.select("l_key", _toks(F.col("lit_a")).alias("__ta"))
    cand = cand.join(_prefer_build_side(lits_a), "l_key", "inner")

    # D4: Jaccard scoring — in exact mode over the array_distinct(split(...))
    # token arrays pre-split on the literal tables above
    if mode == "exact":
        inter = F.size(F.array_intersect(F.col("__ta"), F.col("__tb"))).cast("double")
        union = F.size(F.array_union(F.col("__ta"), F.col("__tb"))).cast("double")
        jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    elif mode == "fuzzy":
        jac = u_fuzzy_jaccard(F.col("lit_a"), F.col("lit_b"))
    else:
        raise ValueError(mode)

    return (
        cand.withColumn("jaccard", jac)
        .filter(F.col("jaccard") > accept)  # threshold semantics: strict >
        .select(
            F.col("l_key").alias("node_a"),
            F.col("r_key").alias("node_b"),
            "dist_m",  # D5: distance annotation (deg x 111195)
            "jaccard",
        )
    )


def materialize_links(existing_links: DataFrame, discovered: DataFrame) -> DataFrame:
    """D6: accepted pairs appended to the links relation
    (CreateLinkServlet.java:277-340), deduplicated."""
    new = discovered.select("node_a", "node_b")
    return existing_links.unionByName(new).dropDuplicates(["node_a", "node_b"])
