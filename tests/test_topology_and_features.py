"""Differential tests for the topology predicates and the BooleanVector
pair features — hand-built geometry set with hand-derived JTS truths
(BooleanVector.java:476-530 uses JTS crosses/touches/intersects/within/
contains on exactly these kinds of shapes)."""

import math

import numpy as np
import pytest

from fagi_gis_spark.geometry.topology import (
    contains,
    crosses,
    intersects,
    touches,
    within,
)
from fagi_gis_spark.geometry.wkt import parse_wkt

SQ = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"                 # unit-ish square
SQ_INNER = "POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))"           # strictly inside SQ
SQ_EDGE = "POLYGON ((4 0, 8 0, 8 4, 4 4, 4 0))"            # shares edge x=4
SQ_OVER = "POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))"            # overlaps SQ corner
SQ_FAR = "POLYGON ((10 10, 11 10, 11 11, 10 11, 10 10))"   # disjoint
L_CROSS = "LINESTRING (-1 2, 5 2)"                          # crosses SQ
L_INSIDE = "LINESTRING (1 1, 3 3)"                          # within SQ
L_EDGE = "LINESTRING (4 1, 4 3)"                            # along SQ boundary
L_TOUCH = "LINESTRING (4 2, 6 2)"                           # starts on SQ edge, exits
L_X1 = "LINESTRING (0 0, 4 4)"
L_X2 = "LINESTRING (0 4, 4 0)"                              # proper X crossing
L_COLL = "LINESTRING (2 2, 6 6)"                            # collinear overlap w/ L_X1
L_END = "LINESTRING (4 4, 8 4)"                             # endpoint touch w/ L_X1
P_IN = "POINT (2 2)"
P_EDGE = "POINT (4 2)"
P_OUT = "POINT (9 9)"
MP_SPLIT = "MULTIPOINT ((2 2), (9 9))"                      # one in, one out


def g(w):
    return parse_wkt(w)


# (A, B, crosses, touches, intersects, A within B, A contains B)
CASES = [
    (P_IN, SQ, False, False, True, True, False),
    (P_EDGE, SQ, False, True, True, False, False),
    (P_OUT, SQ, False, False, False, False, False),
    (MP_SPLIT, SQ, True, False, True, False, False),     # JTS: P/A crosses
    (L_CROSS, SQ, True, False, True, False, False),
    (L_INSIDE, SQ, False, False, True, True, False),
    (L_EDGE, SQ, False, True, True, False, False),       # on boundary only
    (L_TOUCH, SQ, False, True, True, False, False),      # endpoint on boundary
    (L_X1, L_X2, True, False, True, False, False),
    (L_X1, L_COLL, False, False, True, False, False),    # dim-1 overlap: no cross
    (L_X1, L_END, False, True, True, False, False),
    (SQ_INNER, SQ, False, False, True, True, False),
    (SQ, SQ_INNER, False, False, True, False, True),
    (SQ, SQ_EDGE, False, True, True, False, False),
    (SQ, SQ_OVER, False, False, True, False, False),     # A/A overlap: not cross
    (SQ, SQ_FAR, False, False, False, False, False),
    (SQ, SQ, False, False, True, True, True),            # equal: within & contains
]


@pytest.mark.parametrize("a,b,xc,xt,xi,xw,xcon", CASES)
def test_relate_predicates(a, b, xc, xt, xi, xw, xcon):
    ga, gb = g(a), g(b)
    assert intersects(ga, gb) == xi, f"intersects({a},{b})"
    assert touches(ga, gb) == xt, f"touches({a},{b})"
    assert crosses(ga, gb) == xc, f"crosses({a},{b})"
    assert within(ga, gb) == xw, f"within({a},{b})"
    assert contains(ga, gb) == xcon, f"contains({a},{b})"


def test_relate_symmetric_predicates():
    """intersects/touches/crosses are symmetric in JTS."""
    for a, b, *_ in CASES:
        ga, gb = g(a), g(b)
        assert intersects(ga, gb) == intersects(gb, ga)
        assert touches(ga, gb) == touches(gb, ga)
        assert crosses(ga, gb) == crosses(gb, ga)


# ---------------------------------------------------------------------------
# BooleanVector fidelity
# ---------------------------------------------------------------------------


def test_pair_feature_vector_layout_and_bins():
    from fagi_gis_spark.operators.learning import N_FEATURES, pair_feature_vector

    assert N_FEATURES == 175  # 8+20+21+21+32+21+7+11+5+4+25

    v = pair_feature_vector(g(P_IN), g(SQ))
    # any-side type bits: Polygon (slot 1) and Point (slot 3)
    assert v[1] == 1.0 and v[3] == 1.0
    assert v[0] == 0.0 and v[4:8].sum() == 0.0
    # area pct: (0 - 16)/16 = -1 -> first step -0.9 at i=0
    assert v[8] == 1.0 and v[9:28].sum() == 0.0
    # points pct (int division): (1-5)/5 -> Java int div 0 -> first step > 0
    # is -1.0 + 0.1*11 = 0.1 -> i=11
    assert v[28 + 11] == 1.0
    # mean edge: point mean 0, square mean 4 -> (0-4)/4 = -1 -> i=0? -1 < -1.0
    # is false; first step with -1 < -1.0+0.1*i is i=1
    assert v[49 + 1] == 1.0
    # means average = (0+4)/2 = 2 -> first edge with 2 < e is 2.5 (index 4)
    assert v[70 + 4] == 1.0
    # variance pct: var(point)=0, var(square edges)=0 -> 0/0 NaN -> NO bit
    assert v[102:123].sum() == 0.0
    # topology: point within polygon -> intersects + AwithinB + BcontainsA
    assert list(v[123:130]) == [0.0, 0.0, 1.0, 1.0, 0.0, 0.0, 1.0]
    # sum points = 1 + 5 = 6 -> first edge (<10) bin 0
    assert v[130] == 1.0
    # centroid distance: both centroids (2,2) -> 0*1e6 = 0 -> bin 0 (<4)
    assert v[141] == 1.0
    # angle: same centroid -> NaN -> final else bin
    assert v[146 + 3] == 1.0
    # sum area = 0 + 16 = 16 -> bin 0 (<50)
    assert v[150] == 1.0
    # exactly one bit per binned family
    assert v.sum() == 2 + 1 + 1 + 1 + 1 + 0 + 3 + 1 + 1 + 1 + 1


def test_pct_bin_final_accumulated_step():
    """Java's ``for(step=-1; step<1; step+=0.1)`` runs one MORE comparison
    than the closed form suggests: step accumulates to 0.9999999999999998
    (< 1), so pct in [0.9, ~1.0) lands in a final slot instead of falling
    through. Regression for the round-2 off-by-one (ADVICE r2 item 1)."""
    from fagi_gis_spark.operators.learning import _pct_bin, owl_feature_slice, pair_feature_vector

    # replay Java's accumulating loop independently for both starts
    for start, n in ((-1.0, 21), (-0.9, 20)):
        step, java_bins = start, []
        while step < 1:
            java_bins.append(step)
            step += 0.1
        assert len(java_bins) == n  # the loop body really runs n times
        for pct in (0.85, 0.9, 0.95, 0.9999999999999997):
            java = next((i for i, e in enumerate(java_bins) if pct < e), None)
            assert _pct_bin(pct, start, n) == java
        assert _pct_bin(1.0, start, n) is None  # 1.0 still falls through
        assert _pct_bin(float("nan"), start, n) is None

    # end-to-end: area pct 0.95 ((1000-50)/1000) -> final area slot 8+19
    a = "POLYGON ((0 0, 40 0, 40 25, 0 25, 0 0))"      # area 1000
    b = "POLYGON ((100 0, 110 0, 110 5, 100 5, 100 0))"  # area 50
    va = pair_feature_vector(g(a), g(b))
    assert va[8 + 19] == 1.0 and va[8:27].sum() == 0.0

    # OWL: 20 vs 1 classes -> pct 0.95 -> final slot 19
    v = owl_feature_slice(",".join(f"C{i}" for i in range(20)), "T")
    assert v[19] == 1.0 and v.sum() == 1.0


def test_pair_feature_vector_matches_reference_formulas():
    """Replay the reference's formulas independently for a random-ish pair
    and check every binned family lands where the formulas say."""
    from fagi_gis_spark.operators.learning import (
        _MEANS_AVG_EDGES,
        _SUM_AREA_EDGES,
        _SUM_POINTS_EDGES,
        pair_feature_vector,
    )

    a = "POLYGON ((0 0, 10 0, 10 6, 0 6, 0 0))"    # area 60, edges 10,6,10,6
    b = "LINESTRING (20 0, 23 4, 26 0)"            # len edges 5,5
    va = pair_feature_vector(g(a), g(b))

    area_a, area_b = 60.0, 0.0
    pct = (area_a - area_b) / 60.0  # 1.0 -> falls through all 20 steps
    assert va[8:28].sum() == 0.0 and pct == 1.0

    # points: (5 - 3)/5 int div = 0 -> i=11 (first step 0.1 > 0)
    assert va[28 + 11] == 1.0

    mean_a = (10 + 6 + 10 + 6) / 4.0  # 8
    mean_b = (5 + 5) / 2.0            # 5
    pm = (mean_a - mean_b) / 8.0      # 0.375 -> first step 0.4 -> i=14
    assert 0.3 < pm < 0.4
    assert va[49 + 14] == 1.0

    avg = (mean_a + mean_b) / 2.0     # 6.5 -> first edge 7.0 -> index 13
    assert _MEANS_AVG_EDGES[13] == 7.0 and va[70 + 13] == 1.0

    var_a = 4.0   # edges 10,6,10,6: mean 8, dev ±2 -> var 4
    var_b = 0.0
    pv = (var_a - var_b) / 4.0        # 1.0 -> falls through
    assert pv == 1.0 and va[102:123].sum() == 0.0

    # disjoint -> all topology bits 0
    assert va[123:130].sum() == 0.0

    # sum points 8 -> bin 0; sum area 60 -> second edge (100) -> bin 1
    assert va[130] == 1.0
    assert _SUM_POINTS_EDGES[0] == 10
    assert _SUM_AREA_EDGES[1] == 100 and va[150 + 1] == 1.0

    # centroid distance: a centroid (5,3), b centroid on the line
    # (dist >> 15/1e6) -> last distance bin
    assert va[141 + 4] == 1.0

    # angle: a centroid (5,3), b centroid (23,2) -> atan(-1/18) in
    # (-π/4, 0) -> bin 1
    assert va[146 + 1] == 1.0


# ---------------------------------------------------------------------------
# Chain-pair config parser (BatchFusionServlet.java:1793-1822)
# ---------------------------------------------------------------------------


def test_parse_chain_pair_reference_format():
    from fagi_gis_spark.operators.chain_config import (
        PROPERTY_SEPARATOR,
        fused_predicate_name,
        parse_chain_pair,
    )

    assert PROPERTY_SEPARATOR == "=>"  # Constants.java:64
    spec = "http://a.example/addr,http://a.example/street|http://a.example/name|=>http://b.example/address,http://b.example/street"
    p = parse_chain_pair(spec)
    assert p.left == (
        ("http://a.example/addr", "http://a.example/street"),
        ("http://a.example/name",),
    )  # trailing '|' stripped like StringUtils.removeEnd
    assert p.right == (("http://b.example/address", "http://b.example/street"),)
    assert p.left_chain_keys() == [
        "http://a.example/addr,http://a.example/street",
        "http://a.example/name",
    ]

    # servlet quirk: &gt; unescaped before splitting
    assert parse_chain_pair("a=&gt;b").left == (("a",),)

    # fused predicate local name: left short token, ','/' ' -> '_'
    assert fused_predicate_name("addr,street=>address") == "addr_street"


_A_ADDR_STREET = "http://a.example/addr,http://a.example/street"
_A_NAME = "http://a.example/name"


@pytest.mark.parametrize(
    "left",
    [[_A_ADDR_STREET], [_A_ADDR_STREET, _A_NAME]],
    ids=["one_chain", "two_chains"],
)
def test_metadata_keep_from_spec_roundtrip(spark, left):
    """A spec side with alternatives keeps the union of the single-chain
    metadata_keep results."""
    from fagi_gis_spark.operators.chain_config import metadata_keep_from_spec
    from fagi_gis_spark.operators.metadata import metadata_keep
    from fagi_gis_spark.registry import layers

    L = layers(spark, "/root/testdata/sf0.001")
    spec = "|".join(left) + "=>http://b.example/address,http://b.example/street"
    via_spec = metadata_keep_from_spec(
        L["links"], L["triples_a"], "a", spec, "http://a.example/", "addr"
    ).collect()
    per_chain = [
        metadata_keep(
            L["links"], L["triples_a"], "a", chain, "http://a.example/", "addr"
        ).collect()
        for chain in left
    ]
    assert all(per_chain)
    direct = [r for rows in per_chain for r in rows]
    assert sorted(map(tuple, via_spec)) == sorted(map(tuple, direct))


# subject -> blank-node chains exercising every expand_chains edge case
_CHAIN_TRIPLES = [
    # s1: depth-6 leaf (kept) and, via _:e -> _:f, a depth-7 leaf (cut)
    ("s1", "p", "_:a"), ("_:a", "q", "_:b"), ("_:b", "r", "_:c"),
    ("_:c", "s", "_:d"), ("_:d", "t", "_:e"), ("_:e", "u", "leaf6"),
    ("_:e", "u2", "_:f"), ("_:f", "g", "leaf7"),
    ("_:a", "q", None),  # null object under a blank node
    ("s3", "p", "_:dangle"),  # dangling blank node: dropped
    ("s4", "loop", "_:L"), ("_:L", "self", "_:L"), ("_:L", "v", "lv"),  # self-loop
    ("s5", "two", "_:T"), ("_:T", "x", "1"), ("_:T", "y", "2"),  # two predicates
    ("s6", "n", None),  # null object
    ("s7", "uri", "http://u"), ("http://u", "k", "notme"),  # URI is not traversed
]


def _walk_chains(triples):
    """Pure-Python reference for expand_chains: follow blank nodes from
    every triple up to MAX_METADATA_DEPTH hops, keep non-blank leaves."""
    from fagi_gis_spark.operators.metadata import MAX_METADATA_DEPTH

    out = {}
    for s, p, o in triples:
        out.setdefault(s, []).append((p, o))
    rows = []

    def walk(root, chain, o, depth):
        if o is not None and not o.startswith("_:"):
            rows.append((root, ",".join(chain), o, depth))
        elif o is not None and depth < MAX_METADATA_DEPTH:
            for p2, o2 in out.get(o, []):
                walk(root, chain + [p2], o2, depth + 1)

    for s, p, o in triples:
        walk(s, [p], o, 1)
    return sorted(rows)


def _chain_frame(spark):
    return spark.createDataFrame(
        _CHAIN_TRIPLES, "subject string, predicate string, object string"
    )


def test_expand_chains_matches_python_walker(spark):
    from fagi_gis_spark.operators.metadata import expand_chains

    got = sorted(map(tuple, expand_chains(_chain_frame(spark)).collect()))
    want = _walk_chains(_CHAIN_TRIPLES)
    assert got == want
    assert ("s1", "p,q,r,s,t,u", "leaf6", 6) in got
    assert not any(r[2] == "leaf7" and r[0] == "s1" for r in got)
    assert not any(r[0] in ("s3", "s6") for r in got)
    assert ("s7", "uri", "http://u", 1) in got
    assert {r[1] for r in got if r[0] == "s5"} == {"two,x", "two,y"}


def test_metadata_family_builds_without_jobs(spark):
    """Operators build lazy plans: constructing the metadata frames (and
    expand_chains itself) must not launch a Spark job."""
    import uuid

    from fagi_gis_spark.operators.metadata import expand_chains
    from fagi_gis_spark.registry import layers, queries
    from tests.conftest import SF_TINY as sf

    layers(spark, sf)  # warm the stored-layer import and its memo
    chains = _chain_frame(spark)
    q = queries()
    sc = spark.sparkContext
    group = f"metadata-build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "metadata build")
    try:
        for name in (
            "metadata_keep_a",
            "metadata_keep_both",
            "metadata_keep_concat_a",
            "metadata_concatenation",
            "metadata_flattened",
        ):
            q[name](spark, sf)
        expand_chains(chains)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


# ---------------------------------------------------------------------------
# WordNet-optional semantic term (VirtuosoImporter.java:1936-2050, :950)
# ---------------------------------------------------------------------------


def _mini_wn():
    from fagi_gis_spark.functions.semantic import MiniWordNet

    # cafe -> restaurant -> building -> structure -> entity
    # museum ----------------^
    # park -> area -> entity
    return MiniWordNet(
        senses={
            "cafe": ["s.cafe"],
            "museum": ["s.museum"],
            "park": ["s.park"],
            "name": ["s.name"],
            "label": ["s.label"],
        },
        hypernyms={
            "s.cafe": ["s.restaurant"],
            "s.restaurant": ["s.building"],
            "s.museum": ["s.building"],
            "s.building": ["s.structure"],
            "s.structure": ["s.entity"],
            "s.park": ["s.area"],
            "s.area": ["s.entity"],
            "s.name": ["s.designation"],
            "s.label": ["s.designation"],
        },
    )


def test_semantic_word_score_reference_formula():
    from fagi_gis_spark.functions.semantic import semantic_word_score

    wn = _mini_wn()
    # equal lemma -> 1.0 (before any synset lookup)
    assert semantic_word_score("cafe", "cafe", wn) == 1.0
    # cafe vs museum: common parent 'building' at 2 hops from cafe
    # -> (1 - 2/5)^1 = 0.6
    assert semantic_word_score("cafe", "museum", wn) == pytest.approx(0.6)
    # name vs label: common parent at 1 hop -> (1 - 1/5) = 0.8
    assert semantic_word_score("name", "label", wn) == pytest.approx(0.8)
    # cafe vs park: common ancestor 'entity' at 4 hops -> (1 - 4/5) = 0.2
    assert semantic_word_score("cafe", "park", wn) == pytest.approx(0.2)
    # above maxParentDepth -> 0
    assert semantic_word_score("cafe", "park", wn, max_parent_depth=3) == 0.0
    # unknown word -> 0
    assert semantic_word_score("cafe", "zzz", wn) == 0.0
    # raiseToPower applied
    assert semantic_word_score("cafe", "museum", wn, power=2.0) == pytest.approx(0.36)


def test_schema_match_semantic_flag_off_is_unchanged_and_on_uses_combine():
    from fagi_gis_spark.operators.schema_match import score_matches

    pa = [{"chain": "http://a.example/name", "words": ["name"], "vtype": "string", "n": 5}]
    pb = [{"chain": "http://b.example/label", "words": ["label"], "vtype": "string", "n": 5}]

    off = score_matches(pa, pb)[0]
    assert "sem_score" not in off  # default path untouched
    assert off["score"] == pytest.approx(0.5 * off["text_score"] + 0.5)

    on = score_matches(pa, pb, wordnet=_mini_wn())[0]
    assert on["sem_score"] == pytest.approx(0.8)
    # reference combine: (sem + jaro + 0.5*type)/3  (VirtuosoImporter:950)
    assert on["score"] == pytest.approx((0.8 + on["text_score"] + 0.5) / 3.0)


def test_schema_match_wndb_end_to_end(spark):
    """The semantic term exercised END-TO-END: taxonomy loaded from the
    bundled Princeton-wndb-format fixture (tests/data/wndb — an original
    public-domain miniature, NOT a hand-built dict), fed through
    ``schema_match`` over the real sf0.001 layers, and the reference
    combine ``(sem + jaro + 0.5*type)/3`` (VirtuosoImporter.java:950)
    demonstrably REORDERS the suggestions: with JW+type only, the
    addr/street<->address/street chain pair outranks name<->label
    (text 0.957 vs 0.633); with hypernym distance in the mix,
    name<->label (designation siblings, sem 0.8) overtakes it
    (addr is not a dictionary word, so that chain's sem is only 0.3)."""
    import os

    from fagi_gis_spark.functions.semantic import load_wordnet_dict, semantic_chain_score
    from fagi_gis_spark.operators.schema_match import (
        chain_profiles,
        schema_match,
        score_matches,
    )
    from fagi_gis_spark.registry import layers

    d = os.path.join(os.path.dirname(__file__), "data", "wndb")
    wn = load_wordnet_dict(os.path.join(d, "index.noun"), os.path.join(d, "data.noun"))

    # loader fidelity on the shipped files: multi-word synsets, roots
    assert wn.senses["coffeehouse"] == wn.senses["cafe"] == ["00000007"]
    assert wn.hypernyms["00000014"] == ["00000013"]  # street -> road

    L = layers(spark, "/root/testdata/sf0.001")
    name_a = "http://a.example/name"
    label_b = "http://b.example/label"
    addr_a = "http://a.example/addr,http://a.example/street"
    addr_b = "http://b.example/address,http://b.example/street"

    pa = chain_profiles(L["links"], L["triples_a"], "a")
    pb = chain_profiles(L["links"], L["triples_b"], "b")
    off = {(r["chain_a"], r["chain_b"]): r for r in score_matches(pa, pb)}
    on = {(r["chain_a"], r["chain_b"]): r for r in score_matches(pa, pb, wordnet=wn)}

    # hand-derived hypernym scores out of the wndb taxonomy:
    # name<->label share parent 'designation' at 1 hop -> 1 - 1/5 = 0.8;
    # [addr,street]<->[address,street]: street==street (1.0) +
    # street<->address common ancestor 'entity' at 4 hops (0.2), addr
    # unknown -> (1.0 + 0.2) / 4 = 0.3
    assert on[(name_a, label_b)]["sem_score"] == pytest.approx(0.8)
    assert on[(addr_a, addr_b)]["sem_score"] == pytest.approx(0.3)
    for k, r in on.items():
        assert r["sem_score"] == pytest.approx(
            semantic_chain_score(
                next(p["words"] for p in pa if p["chain"] == k[0]),
                next(p["words"] for p in pb if p["chain"] == k[1]),
                wn,
            )
        )
        assert r["score"] == pytest.approx(
            (r["sem_score"] + r["text_score"] + 0.5 * r["type_score"]) / 3.0
        )

    # the ranking effect: the semantic term flips the order of the two
    # non-trivial suggestions
    assert off[(addr_a, addr_b)]["score"] > off[(name_a, label_b)]["score"]
    assert on[(name_a, label_b)]["score"] > on[(addr_a, addr_b)]["score"]

    # and the full operator threads the taxonomy through to the greedy
    # 1:1 picks unchanged in membership (both vocabularies still align)
    picks = schema_match(L["links"], L["triples_a"], L["triples_b"], wordnet=wn)
    assert {(p["chain_a"], p["chain_b"]) for p in picks} >= {
        (name_a, label_b),
        (addr_a, addr_b),
    }
    assert all("sem_score" in p for p in picks)


# ---------------------------------------------------------------------------
# TagFeatures fidelity (learning/tagprediction/TagFeatures.java)
# ---------------------------------------------------------------------------


def test_tag_feature_vector_reference_bins():
    from fagi_gis_spark.operators.tag_features import (
        N_TAG_FEATURES,
        tag_feature_vector,
    )

    assert N_TAG_FEATURES == 105  # 4+1+13+25+1+23+38

    # axis-aligned 10x6 rectangle polygon
    vp = tag_feature_vector(g("POLYGON ((0 0, 10 0, 10 6, 0 6, 0 0))"))
    assert vp[1] == 1.0 and vp[0] == 0.0 and vp[3] == 0.0   # Polygon slot
    assert vp[4] == 1.0                                      # isRectangle
    assert vp[5] == 1.0                                      # 5 points < 10
    assert vp[18 + 1] == 1.0                                 # area 60 -> <100
    assert vp[43] == 0.0                                     # circle always 0
    # mean edge (10+6+10+6)/4 = 8 -> first edge 10 -> bin 4
    assert vp[44 + 4] == 1.0
    # variance 4, normalized 4/64 = 0.0625 -> first edge 0.07 -> bin idx 7
    # -> slot 67+1+7
    assert vp[67 + 1 + 7] == 1.0
    assert vp.sum() == 6.0

    # POINT: type slot 3; npoints 1 -> bin 0; no area; mean 0 -> bin 0;
    # variance 0/0 = NaN -> final else slot 104 (Java NaN semantics)
    vpt = tag_feature_vector(g("POINT (1 2)"))
    assert vpt[3] == 1.0 and vpt[5] == 1.0 and vpt[44] == 1.0
    assert vpt[18:43].sum() == 0.0
    assert vpt[104] == 1.0
    assert vpt.sum() == 4.0

    # non-rectangle polygon: rectangle bit off
    vtri = tag_feature_vector(g("POLYGON ((0 0, 8 0, 4 6, 0 0))"))
    assert vtri[4] == 0.0

    # equal-length edges -> normalizedVariance == 0 -> slot 67
    vsq = tag_feature_vector(g("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"))
    assert vsq[67] == 1.0


def test_pair_tag_features_concat(spark):
    from fagi_gis_spark.operators.fusion import linked_pairs
    from fagi_gis_spark.operators.tag_features import N_TAG_FEATURES, pair_tag_features
    from fagi_gis_spark.registry import layers

    L = layers(spark, "/root/testdata/sf0.001")
    out = pair_tag_features(
        linked_pairs(L["links"], L["poi_a"], L["poi_b"], feature_primitives=True)
    ).limit(50).toPandas()
    assert len(out) == 50
    assert all(len(fv) == 2 * N_TAG_FEATURES for fv in out.fv)


# ---------------------------------------------------------------------------
# LCC projection (EPSG 2249) + metric-frame rotation (GeomRotate fidelity)
# ---------------------------------------------------------------------------


def test_epsg2249_known_point_and_roundtrip():
    import numpy as np

    from fagi_gis_spark.geometry.projection import EPSG_2249

    # Boston State House area: published EPSG-2249 coordinates are
    # ~774,000 E / 2,956,000 N (US survey feet)
    x, y = EPSG_2249.forward(np.array([-71.0636]), np.array([42.3581]))
    assert abs(x[0] - 774117.0) < 5.0
    assert abs(y[0] - 2955822.0) < 5.0

    lons = np.linspace(-73.0, -69.0, 9)
    lats = np.linspace(41.0, 43.0, 9)
    X, Y = EPSG_2249.forward(lons, lats)
    lo, la = EPSG_2249.inverse(X, Y)
    assert np.abs(lo - lons).max() < 1e-11
    assert np.abs(la - lats).max() < 1e-11


def test_metric_rotation_preserves_ground_shape():
    """Rotating a ground square 90° in the 2249 frame must return a
    ground square (side lengths preserved within projection distortion);
    degree-space rotation distorts it by ~1/cos(lat) ≈ 1.35 at 42.4°N."""
    import math

    import numpy as np

    from fagi_gis_spark.geometry.affine import rotate_about, rotate_metric
    from fagi_gis_spark.geometry.wkt import parse_wkt

    # ~100 m ground square near Boston: dlat = 9e-4, dlon = 9e-4/cos(lat)
    lat0, lon0 = 42.3581, -71.0636
    dlat = 9e-4
    dlon = dlat / math.cos(math.radians(lat0))
    wkt = (
        f"POLYGON (({lon0} {lat0}, {lon0 + dlon} {lat0}, "
        f"{lon0 + dlon} {lat0 + dlat}, {lon0} {lat0 + dlat}, {lon0} {lat0}))"
    )
    g = parse_wkt(wkt)

    def ground_edges(geom):
        c = np.asarray(geom.data[0], dtype=float)
        dx = np.diff(c[:, 0]) * math.cos(math.radians(lat0)) * 111195.0
        dy = np.diff(c[:, 1]) * 111195.0
        return np.sqrt(dx * dx + dy * dy)

    e0 = ground_edges(g)
    em = ground_edges(rotate_metric(g, math.radians(90.0)))
    ed = ground_edges(rotate_about(g, math.radians(90.0)))

    # metric rotation: all edges stay ~100 m (LCC scale distortion at
    # Boston's latitude is ~0.4%)
    assert np.allclose(sorted(em), sorted(e0), rtol=6e-3)
    # degree rotation: the horizontal edges blow up by ~1/cos²? no —
    # 1/cos(lat) ≈ 1.353; assert it visibly distorts
    assert abs(ed.max() / ed.min() - 1.0) > 0.2


def test_shift_with_metric_rotation_keeps_oracle_centroid(spark):
    """With metric_rotation on, the fused centroid must still be exactly
    c_src + s*(c_dst - c_src), and the output WKT's parsed centroid must
    agree with the emitted fused_cx/cy to formatting precision."""
    import numpy as np

    from fagi_gis_spark.geometry.measures import centroid
    from fagi_gis_spark.geometry.wkt import parse_wkt
    from fagi_gis_spark.operators.fusion import FusionParams, fuse_all
    from fagi_gis_spark.registry import layers

    L = layers(spark, "/root/testdata/sf0.001")
    out = fuse_all(
        L["links"], L["poi_a"], L["poi_b"], "shift_a_to_b",
        FusionParams(shift_pct=25.0, rotate_deg=30.0, metric_rotation=True),
    ).limit(200).toPandas()
    assert len(out) == 200
    for _, row in out.iterrows():
        c = centroid(parse_wkt(row.geom_wkt))
        assert abs(c[0] - row.fused_cx) < 2e-9   # 9-decimal WKT rounding
        assert abs(c[1] - row.fused_cy) < 2e-9


def test_owl_feature_slice_reference_bins():
    from fagi_gis_spark.operators.learning import N_OWL_FEATURES, owl_feature_slice

    assert N_OWL_FEATURES == 20
    # equal counts -> pct 0 -> first step 0.1 -> bin 10
    v = owl_feature_slice("Poi,Cafe", "Thing,Place")
    assert v[10] == 1.0 and v.sum() == 1.0
    # 1 vs 2 -> (1-2)/2 = -0.5 -> first step -0.4 -> bin 5
    assert owl_feature_slice("Poi", "Thing,Place")[5] == 1.0
    # Java ''.split(',') length 1: empty == one class
    assert owl_feature_slice("", "")[10] == 1.0
    # 2 vs 1 -> 0.5 -> first step 0.6 -> bin 15
    assert owl_feature_slice("A,B", "C")[15] == 1.0


def test_pair_features_with_owl_slice(spark):
    from fagi_gis_spark.operators.fusion import linked_pairs
    from fagi_gis_spark.operators.learning import N_FEATURES, N_OWL_FEATURES, pair_features
    from fagi_gis_spark.registry import layers

    L = layers(spark, "/root/testdata/sf0.001")
    out = pair_features(
        linked_pairs(L["links"], L["poi_a"], L["poi_b"], feature_primitives=True),
        L["triples_a"], L["triples_b"],
    ).limit(30).toPandas()
    assert all(len(fv) == N_FEATURES + N_OWL_FEATURES for fv in out.fv)
    # both sides have exactly one rdf:type ({onto}Poi) -> pct 0 -> bin 10
    assert all(fv[175 + 10] == 1.0 for fv in out.fv)


# ---------------------------------------------------------------------------
# Vectorized feature path ≡ scalar kernels (round 3)
# ---------------------------------------------------------------------------

_VEC_FIXTURE = [
    None,
    "POINT EMPTY",                                         # parses to None
    "POINT (2 2)",
    "POINT (2.0000001 2)",                                 # near-coincident
    "LINESTRING (0 0, 3 4)",
    "LINESTRING (20 0, 23 4, 26 0)",
    "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",                 # rectangle, contains POINT(2 2)
    "POLYGON ((0 0, 10 0, 10 6, 0 6, 0 0))",
    "POLYGON ((1 1, 3 1, 2 3, 1 1))",                      # triangle inside the square
    "POLYGON ((4 0, 8 0, 8 4, 4 4, 4 0))",                 # touches the square at x=4
    "POLYGON ((0 0, 40 0, 40 25, 0 25, 0 0))",             # area 1000 (pct 0.95 vs 50)
    "POLYGON ((100 0, 110 0, 110 5, 100 5, 100 0))",       # area 50, disjoint
    "POLYGON ((0 0, 6 0, 6 6, 0 6, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))",  # hole
    "MULTIPOINT ((0 0), (5 5))",
    "MULTILINESTRING ((0 0, 1 1), (2 2, 4 4))",
    "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), ((5 5, 7 5, 7 7, 5 7, 5 5)))",
    "GEOMETRYCOLLECTION (POINT (1 1), LINESTRING (0 0, 2 2))",
]


def test_vectorized_pair_features_match_scalar_kernel():
    """pair_feature_matrix (numpy, envelope-gated relate) must be
    bit-identical to the per-row pair_feature_vector oracle kernel over a
    fixture covering every type, nulls, unparseable WKT, touching /
    containing / disjoint envelopes and the 0.95-pct boundary."""
    import pandas as pd

    from fagi_gis_spark.operators.learning import (
        pair_feature_matrix,
        pair_feature_vector,
        primitives_of,
    )
    from fagi_gis_spark.geometry.wkt import parse_wkt

    wa = [a for a in _VEC_FIXTURE for _ in _VEC_FIXTURE]
    wb = [b for _ in _VEC_FIXTURE for b in _VEC_FIXTURE]
    pa = pd.DataFrame([primitives_of(w) for w in wa])
    pb = pd.DataFrame([primitives_of(w) for w in wb])
    got = pair_feature_matrix(pa, pb, pd.Series(wa), pd.Series(wb))
    want = np.stack(
        [pair_feature_vector(parse_wkt(a) if a else None, parse_wkt(b) if b else None)
         for a, b in zip(wa, wb)]
    )
    mism = np.nonzero((got != want).any(axis=1))[0]
    assert mism.size == 0, f"first mismatch pair: {wa[mism[0]]!r} vs {wb[mism[0]]!r}"


def test_vectorized_owl_and_tag_features_match_scalar_kernels():
    import pandas as pd

    from fagi_gis_spark.operators.learning import (
        owl_feature_matrix,
        owl_feature_slice,
        primitives_of,
    )
    from fagi_gis_spark.operators.tag_features import tag_feature_matrix, tag_feature_vector
    from fagi_gis_spark.geometry.wkt import parse_wkt

    owls = [None, "", "A", "A,B", "A,B,C", ",".join(f"C{i}" for i in range(20))]
    oa = [a for a in owls for _ in owls]
    ob = [b for _ in owls for b in owls]
    got = owl_feature_matrix(pd.Series(oa), pd.Series(ob))
    want = np.stack([owl_feature_slice(a, b) for a, b in zip(oa, ob)])
    assert (got == want).all()

    p = pd.DataFrame([primitives_of(w) for w in _VEC_FIXTURE])
    got_t = tag_feature_matrix(p)
    want_t = np.stack(
        [tag_feature_vector(parse_wkt(w) if w else None) for w in _VEC_FIXTURE]
    )
    mism = np.nonzero((got_t != want_t).any(axis=1))[0]
    assert mism.size == 0, f"first mismatch geom: {_VEC_FIXTURE[mism[0]]!r}"


def test_pair_features_spark_fast_path_matches_slow_udf(spark):
    """End-to-end: the production pair_features (primitives join + numpy
    kernel) emits the same vectors as the per-pair parse UDF on real
    sf0.001 pairs."""
    from pyspark.sql import functions as F

    from fagi_gis_spark.operators.fusion import linked_pairs
    from fagi_gis_spark.operators.learning import pair_features, u_pair_features
    from fagi_gis_spark.registry import layers

    L = layers(spark, "/root/testdata/sf0.001")
    pairs = linked_pairs(L["links"], L["poi_a"], L["poi_b"], feature_primitives=True)
    fast = pair_features(pairs).toPandas().set_index(["subject_a", "subject_b"])
    slow = (
        pairs.select(
            "subject_a", "subject_b",
            u_pair_features(F.col("wkt_a"), F.col("wkt_b")).alias("fv"),
        )
        .toPandas()
        .set_index(["subject_a", "subject_b"])
    )
    assert len(fast) == len(slow) and len(fast) > 0
    joined = fast.join(slow, lsuffix="_f", rsuffix="_s")
    for fv_f, fv_s in zip(joined["fv_f"], joined["fv_s"]):
        assert list(fv_f) == list(fv_s)
