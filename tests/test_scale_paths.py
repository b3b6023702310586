"""Scale-path tests: salted skew join equivalence, bucketed co-located
join (no Exchange), persisted day-2 dedup indexes."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _skewed(spark, n_hot=2000, n_tail=500):
    """A hot pile of ``n_hot`` points in one cell plus a spread tail of
    ``n_tail``: the pile exceeds the max(256, 8 x mean) hot-cell rule at
    a 50 m join."""
    hot = spark.range(n_hot).select(
        F.concat(F.lit("h"), F.col("id")).alias("subject"),
        (F.lit(0.1) + (F.col("id") % 50).cast("double") / 1e6).alias("lon"),
        (F.lit(50.5) + ((F.col("id") * 7) % 50).cast("double") / 1e6).alias("lat"),
    )
    tail = spark.range(n_tail).select(
        F.concat(F.lit("t"), F.col("id")).alias("subject"),
        (F.lit(-0.9) + F.col("id").cast("double") * 31 / 1e6).alias("lon"),
        (F.lit(51.0) + F.col("id").cast("double") * 17 / 1e6).alias("lat"),
    )
    return hot.unionByName(tail)


def _brute_pairs(left, right, radius_m):
    """Every (left key, right key) pair within ``radius_m`` by the
    engine's planar-degree metric, computed on the driver."""
    import numpy as np

    a, b = left.toPandas(), right.toPandas()
    dx = a["lon"].to_numpy()[:, None] - b["lon"].to_numpy()[None, :]
    dy = a["lat"].to_numpy()[:, None] - b["lat"].to_numpy()[None, :]
    ii, jj = np.nonzero(np.sqrt(dx * dx + dy * dy) * 111195.0 <= radius_m)
    ka, kb = a["subject"].to_numpy(), b["subject"].to_numpy()
    return set(zip(ka[ii], kb[jj]))


def test_salted_radius_join_equals_unsalted(spark):
    """Explicit hot-cell salting must be a pure physical optimization —
    on heavily skewed input the salted join returns exactly the
    brute-force pair set."""
    from fagi_gis_spark.operators.spatial_join import radius_join

    left = _skewed(spark)
    right = left.withColumn("lon", F.col("lon") + 0.00002)
    salted = radius_join(left, right, 50.0)
    assert "salt" in salted._jdf.queryExecution().executedPlan().toString()
    got = set(map(tuple, salted.select("l_key", "r_key").toPandas().itertuples(index=False)))
    assert len(got) > 2000  # the hot cell really collides
    assert got == _brute_pairs(left, right, 50.0)


def test_auto_salting_is_adaptive(spark):
    """The hot-cell rule must engage the salted two-key join ONLY when a
    hot cell exists: uniform input short-circuits to the plain cell join
    (no salt column in the executed plan), skewed input salts."""
    from fagi_gis_spark.operators.spatial_join import radius_join

    uniform = spark.range(2000).select(
        F.concat(F.lit("u"), F.col("id")).alias("subject"),
        (F.lit(-0.9) + F.col("id").cast("double") * 31 / 1e6).alias("lon"),
        (F.lit(51.0) + F.col("id").cast("double") * 17 / 1e6).alias("lat"),
    )
    # hot pile + spread tail: the rule's threshold is 8x the MEAN cell count,
    # so a tail of singleton cells is needed for the pile to register as hot
    skewed = spark.range(3000).select(
        F.concat(F.lit("s"), F.col("id")).alias("subject"),
        (F.lit(0.1) + (F.col("id") % 50).cast("double") / 1e6).alias("lon"),
        (F.lit(50.5) + ((F.col("id") * 7) % 50).cast("double") / 1e6).alias("lat"),
    ).unionByName(
        spark.range(2000).select(
            F.concat(F.lit("t"), F.col("id")).alias("subject"),
            (F.lit(-0.9) + F.col("id").cast("double") * 97 / 1e6).alias("lon"),
            (F.lit(51.0) + F.col("id").cast("double") * 53 / 1e6).alias("lat"),
        )
    )

    def join_plan(df):
        out = radius_join(df, df.withColumn("lon", F.col("lon") + 0.00001), 50.0)
        return out._jdf.queryExecution().executedPlan().toString()

    assert "salt" not in join_plan(uniform)
    assert "salt" in join_plan(skewed)


@pytest.mark.parametrize("strategy", ["tile", "hex", "s2"])
def test_salting_shared_across_strategies(spark, strategy):
    """Hot-cell salting is wired into ALL three cell schemes: on a
    skewed fixture (one cell >10x the mean) each scheme's salted join
    returns exactly the brute-force pair set, and the executed plan
    really contains the salt key."""
    from fagi_gis_spark.operators import spatial_join
    from fagi_gis_spark.operators.spatial_join import radius_join

    cells = getattr(spatial_join, strategy.upper())
    left = _skewed(spark)
    right = left.withColumn("lon", F.col("lon") + 0.00002)

    salted = radius_join(left, right, 50.0, cells=cells)
    assert "salt" in salted._jdf.queryExecution().executedPlan().toString()
    got = set(map(tuple, salted.select("l_key", "r_key").toPandas().itertuples(index=False)))
    assert len(got) > 2000  # the hot cell really collides
    assert got == _brute_pairs(left, right, 50.0)


def _build_jobs(spark, build):
    """Spark job ids launched while ``build()`` constructs a frame."""
    import uuid

    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "frame build")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("fixture", ["uniform", "skewed"])
def test_radius_join_second_build_over_same_path_runs_no_jobs(spark, tmp_path, fixture):
    """Hot-cell detection runs once per build layer and cell space: a
    second radius_join over a separately built read of the same stored
    build side finds the hot set in the session memo and launches no
    Spark job while its frame is built."""
    from fagi_gis_spark.operators.spatial_join import radius_join

    df = _skewed(spark)
    if fixture == "uniform":
        df = df.filter(F.col("subject").startswith("t"))
    path = str(tmp_path / "build")
    df.write.parquet(path)
    probe = df.withColumn("lon", F.col("lon") + 0.00001)

    first = radius_join(probe, spark.read.parquet(path), 50.0)
    second_read = spark.read.parquet(path)
    assert _build_jobs(spark, lambda: radius_join(probe, second_read, 50.0)) == []
    second = radius_join(probe, second_read, 50.0)
    plan = second._jdf.queryExecution().executedPlan().toString()
    assert ("salt" in plan) == (fixture == "skewed")
    assert sorted(first.collect()) == sorted(second.collect())


@pytest.mark.parametrize("fixture", ["uniform", "skewed"])
def test_radius_join_leaves_no_persistent_rdds(spark, fixture):
    """Building and running a radius join caches nothing: hot-cell
    detection persists and checkpoints no frame, on a uniform layer
    (empty hot set) and on a skewed one."""
    from fagi_gis_spark.operators.spatial_join import radius_join

    df = _skewed(spark)
    if fixture == "uniform":
        df = df.filter(F.col("subject").startswith("t"))
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    out = radius_join(df, df.withColumn("lon", F.col("lon") + 0.00001), 50.0)
    assert jsc.getPersistentRDDs().size() == before
    assert out.count() > 0
    assert jsc.getPersistentRDDs().size() == before


def test_spatial_queries_warm_build_without_jobs(spark):
    """Every registry query over the radius join builds its frame
    without a Spark job once the layers and the hot-cell memo are
    warm (the rule test_metadata_family_builds_without_jobs guards for
    the metadata family)."""
    from fagi_gis_spark.registry import queries

    names = (
        "radius_join_150m",
        "hex_radius_join_150m",
        "s2_radius_join_150m",
        "knn_conflation",
        "discover_links_exact",
        "image_exif_poi_join",
        "kde_sites_150m",
        "idw_sites_150m",
        "ripleys_k",
    )
    q = queries()
    for name in names:
        q[name](spark, SF)  # cold build: imports the layers, detects hot cells
    jobs = {name: _build_jobs(spark, lambda name=name: q[name](spark, SF)) for name in names}
    assert jobs == {name: [] for name in names}


def test_knn_join_strategy_kwarg_routing(spark):
    """knn_join forwards ``cells`` and its kwargs to radius_join: the S2
    scheme returns the tile result, and a kwarg radius_join does not
    accept still raises."""
    from fagi_gis_spark.operators.spatial_join import S2, knn_join

    pts = spark.range(50).select(
        F.concat(F.lit("p"), F.col("id")).alias("subject"),
        (F.lit(0.1) + F.col("id").cast("double") * 13 / 1e6).alias("lon"),
        (F.lit(50.5) + F.col("id").cast("double") * 7 / 1e6).alias("lat"),
    )
    base = knn_join(pts, pts, k=2, radius_m=100.0, exclude_self=True)
    routed = knn_join(
        pts, pts, k=2, radius_m=100.0, exclude_self=True, cells=S2,
        right_cols=("subject", "lon", "lat"),
    )
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, routed.collect()))
    with pytest.raises(TypeError, match="bogus_knob"):
        knn_join(pts, pts, k=2, radius_m=100.0, bogus_knob=1)


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Bucketing by the join key co-locates both sides: the join plan must
    contain no Exchange — the storage-level answer to the reference's
    GiST+CLUSTER physical ordering (SURVEY.md §4)."""
    from fagi_gis_spark.registry import layers
    from fagi_gis_spark.sources.layers import read_bucketed, write_bucketed

    L = layers(spark, SF)
    write_bucketed(
        L["poi_a"].select("subject", "geom_wkt"), str(tmp_path / "poi_a"), ["subject"], sort=True
    )
    write_bucketed(
        L["links"].withColumnRenamed("node_a", "subject"),
        str(tmp_path / "links"),
        ["subject"],
        sort=True,
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = read_bucketed(spark, str(tmp_path / "links")).join(
            read_bucketed(spark, str(tmp_path / "poi_a")), "subject"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


@pytest.mark.parametrize("scheme", ["tile", "hex", "s2"])
def test_radius_join_antimeridian_and_polar(spark, scheme):
    """Points straddling lon ±180 (and near the WebMercator lat clamp)
    must round-trip the cell-bucketed radius join against a brute-force
    wrapped-distance oracle in every cell scheme — the tile ring-1 x
    offset wraps modulo 2^z and tile_y is clamped, the hex probe adds
    its lon-shifted frame near the seam, and the S2 cube has no seam,
    so the seam behaves like any other meridian."""
    from fagi_gis_spark.geometry.measures import DEG_TO_M
    from fagi_gis_spark.operators import spatial_join
    from fagi_gis_spark.operators.spatial_join import radius_join

    rows = []
    # pairs across the antimeridian at several latitudes incl. near-polar
    for i, lat in enumerate([0.0, 45.0, 60.0, 84.9, 85.3, -85.3]):
        rows.append((f"w{i}", 179.99995, lat))      # west of the seam
        rows.append((f"e{i}", -179.99995, lat))     # east of the seam
    # a control pair away from the seam + an isolated point
    rows += [("c1", 10.0, 10.0), ("c2", 10.00005, 10.0), ("far", 90.0, 0.0)]
    df = spark.createDataFrame(rows, "subject string, lon double, lat double")

    cells = getattr(spatial_join, scheme.upper())
    got = radius_join(df, df, 50.0, cells=cells).select("l_key", "r_key").toPandas()
    got_pairs = {(a, b) for a, b in got.itertuples(index=False) if a != b}

    import math

    def wdist(p, q):
        dl = abs(p[1] - q[1])
        dl = min(dl, 360.0 - dl)
        return math.sqrt(dl * dl + (p[2] - q[2]) ** 2) * DEG_TO_M

    expect = {
        (p[0], q[0])
        for p in rows
        for q in rows
        if p[0] != q[0] and wdist(p, q) <= 50.0
    }
    assert ("w0", "e0") in expect  # the seam pair is a real candidate
    assert got_pairs == expect


def test_owl_class_triples(spark):
    """OWL class insertion (FuseLinkServlet.java:225-270): one typing
    triple per accepted row, one owl:Class + rdfs:label pair per distinct
    class."""
    from fagi_gis_spark.operators.owl import OWL_CLASS, RDF_TYPE, RDFS_LABEL, owl_class_triples

    acc = spark.createDataFrame(
        [("a:1", "cafe"), ("a:2", "cafe"), ("a:3", "park")], "node string, cls string"
    )
    out = owl_class_triples(acc, "http://a.example/").toPandas()
    triples = set(map(tuple, out.itertuples(index=False)))
    assert triples == {
        ("a:1", RDF_TYPE, "http://a.example/cafe"),
        ("a:2", RDF_TYPE, "http://a.example/cafe"),
        ("a:3", RDF_TYPE, "http://a.example/park"),
        ("http://a.example/cafe", RDF_TYPE, OWL_CLASS),
        ("http://a.example/park", RDF_TYPE, OWL_CLASS),
        ("http://a.example/cafe", RDFS_LABEL, "cafe"),
        ("http://a.example/park", RDFS_LABEL, "park"),
    }


def test_broadcast_pois_uses_broadcast_join_and_matches(spark):
    """J7 (smaller-side probe choice): broadcast_pois must put a
    BroadcastHashJoin in the physical plan and return the identical
    result set as the default (sort-merge / AQE) strategy."""
    from fagi_gis_spark.operators.fusion import fuse, linked_pairs
    from fagi_gis_spark.registry import layers

    L = layers(spark, SF)
    default_pairs = linked_pairs(L["links"], L["poi_a"], L["poi_b"])
    bcast_pairs = linked_pairs(L["links"], L["poi_a"], L["poi_b"], broadcast_pois=True)

    plan = bcast_pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan

    a = fuse(default_pairs, "most_points").toPandas()
    b = fuse(bcast_pairs, "most_points").toPandas()
    key = lambda df: sorted(map(tuple, df.itertuples(index=False)))
    assert key(a) == key(b)
    assert len(a) > 0


def test_connected_components_chains_cycles_isolated(spark):
    """Connected components must handle multi-hop chains, cycles and
    separate components; survivors keep exactly one doc per component."""
    from fagi_gis_spark.functions.dedup import connected_components_star, dedup_survivors

    edges = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4), (4, 5),        # 5-chain -> comp 1
            (10, 11), (11, 12), (12, 10),           # cycle -> comp 10
            (20, 21),                               # pair -> comp 20
        ],
        "doc_a long, doc_b long",
    )
    comp = connected_components_star(edges).toPandas()
    got = dict(zip(comp.doc_id, comp.component_id))
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in [1, 2, 3, 4, 5, 10, 11, 12, 20, 21, 99]],
        "doc_id long, text string",
    )
    kept = dedup_survivors(docs, connected_components_star(edges)).toPandas()
    assert sorted(kept.doc_id) == [1, 10, 20, 99]  # min per comp + untouched 99


def test_connected_components_star_contraction(spark):
    """Star contraction (large-star/small-star) is diameter-robust: a
    10k-node path graph — the adversarial topology where min-label
    propagation needs 10k rounds — converges in O(log n) rounds with
    the correct single component."""
    from fagi_gis_spark.functions.dedup import connected_components_star

    n = 10_000
    path = spark.range(n - 1).selectExpr("id AS doc_a", "id + 1 AS doc_b")
    labels, rounds = connected_components_star(path, return_rounds=True)
    out = labels.toPandas()
    assert len(out) == n
    assert (out.component_id == 0).all()
    # diameter 10k, rounds logarithmic (log2(10k) ~ 13.3; alternating
    # stars need a small multiple of that)
    assert rounds <= 30, f"star contraction took {rounds} rounds"


def test_knn_adaptive_equals_bruteforce(spark):
    """Adaptive ring-doubling kNN must equal the unbounded brute-force
    top-k wherever probes reach k neighbors — including probes whose k-th
    neighbor lies beyond the initial radius."""
    import numpy as np

    from fagi_gis_spark.operators.spatial_join import knn_join_adaptive

    rng = np.random.default_rng(5)
    # dense blob + sparse outliers (outliers need several doublings)
    pts = [(f"d{i}", -0.5 + rng.uniform(0, 0.01), 50.5 + rng.uniform(0, 0.01)) for i in range(150)]
    pts += [(f"s{i}", -0.2 + i * 0.05, 51.5 + i * 0.03) for i in range(6)]
    left = spark.createDataFrame(pts, "subject string, lon double, lat double")
    right = left

    got = knn_join_adaptive(
        left, right, k=3, init_radius_m=50.0, max_doublings=12, exclude_self=True
    ).toPandas()

    import math

    def brute(k=3):
        out = {}
        for s, x, y in pts:
            d = sorted(
                (math.hypot(x - x2, y - y2) * 111195.0, s2)
                for s2, x2, y2 in pts if s2 != s
            )[:k]
            out[s] = [s2 for _, s2 in d]
        return out

    expect = brute()
    got_sorted = got.sort_values(["l_key", "knn_rank"]).groupby("l_key")["r_key"].apply(list)
    for key, exp in expect.items():
        assert list(got_sorted[key]) == exp, key


def test_radius_join_randomized_completeness(spark):
    """Randomized differential check: the cell-bucketed radius join must
    return exactly the brute-force pair set for random point clouds and
    radii (ring-1 completeness depends on the z choice — this guards
    join_res_for_radius)."""
    import numpy as np

    rng = np.random.default_rng(123)
    for trial in range(5):
        n = 120
        lon0, lat0 = rng.uniform(-170, 170), rng.uniform(-55, 55)
        lons = lon0 + rng.uniform(0, 0.02, n)
        lats = lat0 + rng.uniform(0, 0.02, n)
        radius = float(rng.uniform(50, 800))
        rows = [(f"p{i}", float(lons[i]), float(lats[i])) for i in range(n)]
        df = spark.createDataFrame(rows, "subject string, lon double, lat double")

        from fagi_gis_spark.operators.spatial_join import radius_join

        got = {
            (a, b)
            for a, b in radius_join(df, df, radius)
            .select("l_key", "r_key")
            .toPandas()
            .itertuples(index=False)
        }
        dx = lons[:, None] - lons[None, :]
        dy = lats[:, None] - lats[None, :]
        d = np.sqrt(dx * dx + dy * dy) * 111195.0
        ii, jj = np.nonzero(d <= radius)
        expect = {(f"p{i}", f"p{j}") for i, j in zip(ii, jj)}
        assert got == expect, f"trial {trial}: lon0={lon0} lat0={lat0} r={radius}"


def test_hex_radius_join_randomized_equals_bruteforce(spark):
    """The aperture-7 hex-bucketed radius join returns exactly the
    brute-force pair set (gridDisk(1) completeness holds whenever
    radius <= hex circumradius — guards hex_res_for_radius), including
    across the antimeridian seam and at high latitude."""
    import numpy as np

    from fagi_gis_spark.operators.spatial_join import HEX, radius_join

    rng = np.random.default_rng(77)
    windows = [(rng.uniform(-170, 170), rng.uniform(-55, 55)) for _ in range(3)]
    windows += [(179.985, 10.0), (-179.995, -62.0)]  # seam straddles
    for trial, (lon0, lat0) in enumerate(windows):
        n = 120
        lons = lon0 + rng.uniform(0, 0.02, n)
        lons = (lons + 180.0) % 360.0 - 180.0  # wrap into [-180, 180)
        lats = lat0 + rng.uniform(0, 0.02, n)
        radius = float(rng.uniform(50, 800))
        rows = [(f"p{i}", float(lons[i]), float(lats[i])) for i in range(n)]
        df = spark.createDataFrame(rows, "subject string, lon double, lat double")
        got = {
            (a, b)
            for a, b in radius_join(df, df, radius, cells=HEX)
            .select("l_key", "r_key")
            .toPandas()
            .itertuples(index=False)
        }
        dx = np.abs(lons[:, None] - lons[None, :])
        dx = np.minimum(dx, 360.0 - dx)
        dy = lats[:, None] - lats[None, :]
        d = np.sqrt(dx * dx + dy * dy) * 111195.0
        ii, jj = np.nonzero(d <= radius)
        expect = {(f"p{i}", f"p{j}") for i, j in zip(ii, jj)}
        assert got == expect, f"trial {trial}: lon0={lon0} lat0={lat0} r={radius}"


def test_hex_radius_join_equals_square_cell_join(spark):
    """Same logical op, two physical strategies: hex gridDisk(1) and
    square ring-1 produce identical (pair, dist) outputs."""
    import numpy as np

    from fagi_gis_spark.operators.spatial_join import HEX, radius_join

    rng = np.random.default_rng(5150)
    n = 250
    lons = 23.0 + rng.uniform(0, 0.05, n)
    lats = 37.9 + rng.uniform(0, 0.05, n)
    rows = [(f"p{i}", float(lons[i]), float(lats[i])) for i in range(n)]
    df = spark.createDataFrame(rows, "subject string, lon double, lat double")
    hexed = radius_join(df, df, 150.0, cells=HEX).select("l_key", "r_key", "dist_m").toPandas()
    squared = radius_join(df, df, 150.0).select("l_key", "r_key", "dist_m").toPandas()
    key = lambda t: (t.l_key, t.r_key, round(t.dist_m, 9))  # noqa: E731
    assert {key(t) for t in hexed.itertuples()} == {key(t) for t in squared.itertuples()}


def test_hex_radius_join_wider_disk_still_complete(spark):
    """Forcing a finer res than the base (so gridDisk(k >= 2) kicks in
    via hex_disk_k_for) must still return exactly the brute-force pair
    set — guards the 1.5*R*m center-spacing completeness bound."""
    import numpy as np

    from fagi_gis_spark.operators.spatial_join import (
        HEX,
        hex_disk_k_for,
        hex_res_for_radius,
        radius_join,
    )

    rng = np.random.default_rng(99)
    n = 150
    lons = -0.9 + rng.uniform(0, 0.03, n)
    lats = 50.4 + rng.uniform(0, 0.03, n)
    radius = 400.0
    base = hex_res_for_radius(radius)
    rows = [(f"p{i}", float(lons[i]), float(lats[i])) for i in range(n)]
    df = spark.createDataFrame(rows, "subject string, lon double, lat double")
    dx = np.abs(lons[:, None] - lons[None, :])
    dy = lats[:, None] - lats[None, :]
    d = np.sqrt(dx * dx + dy * dy) * 111195.0
    ii, jj = np.nonzero(d <= radius)
    expect = {(f"p{i}", f"p{j}") for i, j in zip(ii, jj)}
    for res in (base + 1, base + 2):
        assert hex_disk_k_for(radius, res) >= 2
        got = {
            (a, b)
            for a, b in radius_join(df, df, radius, cells=HEX, res=res)
            .select("l_key", "r_key")
            .toPandas()
            .itertuples(index=False)
        }
        assert got == expect, f"res {res}"


def test_hex_res_auto_scales_with_density(spark):
    """The cost model picks the base res at low density and a finer res
    (wider disk) once expected per-cell occupancy dominates; res=auto
    end-to-end equals brute force."""
    import numpy as np

    from fagi_gis_spark.operators.spatial_join import (
        HEX,
        hex_res_auto,
        hex_res_for_radius,
        radius_join,
    )

    base = hex_res_for_radius(150.0)
    assert hex_res_auto(150.0, 10.0) == base  # ~sparse: fan-out dominates
    assert hex_res_auto(150.0, 1e9) > base  # dense: pair volume dominates
    rng = np.random.default_rng(11)
    n = 200
    rows = [
        (f"p{i}", float(-0.5 + rng.uniform(0, 0.01)), float(50.2 + rng.uniform(0, 0.01)))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "subject string, lon double, lat double")
    lon = np.array([r[1] for r in rows]); lat = np.array([r[2] for r in rows])
    d = np.sqrt((lon[:, None] - lon[None, :]) ** 2 + (lat[:, None] - lat[None, :]) ** 2) * 111195.0
    expect = {(f"p{i}", f"p{j}") for i, j in zip(*np.nonzero(d <= 150.0))}
    got = {
        (a, b)
        for a, b in radius_join(df, df, 150.0, cells=HEX, res="auto")
        .select("l_key", "r_key")
        .toPandas()
        .itertuples(index=False)
    }
    assert got == expect


def test_s2_radius_join_randomized_completeness(spark):
    """The S2-bucketed radius join returns exactly the brute-force pair
    set for random windows INCLUDING cube-face edges (lon 45), the
    antimeridian, and high latitude — the cross-face neighbor wrap and
    the kMinWidth level bound carry the completeness proof."""
    import numpy as np

    from fagi_gis_spark.operators.spatial_join import S2, radius_join

    rng = np.random.default_rng(31)
    windows = [
        (rng.uniform(-170, 170), rng.uniform(-55, 55)),
        (44.995, 10.0),     # face 0/1 edge
        (179.99, -20.0),    # antimeridian (face 3 interior — no seam)
        (-0.005, 83.0),     # near-polar, face 2 vicinity
    ]
    for trial, (lon0, lat0) in enumerate(windows):
        n = 120
        lons = lon0 + rng.uniform(0, 0.02, n)
        lons = (lons + 180.0) % 360.0 - 180.0
        lats = lat0 + rng.uniform(0, 0.02, n)
        radius = float(rng.uniform(50, 800))
        rows = [(f"p{i}", float(lons[i]), float(lats[i])) for i in range(n)]
        df = spark.createDataFrame(rows, "subject string, lon double, lat double")
        got = {
            (a, b)
            for a, b in radius_join(df, df, radius, cells=S2)
            .select("l_key", "r_key")
            .toPandas()
            .itertuples(index=False)
        }
        dx = np.abs(lons[:, None] - lons[None, :])
        dx = np.minimum(dx, 360.0 - dx)
        dy = lats[:, None] - lats[None, :]
        d = np.sqrt(dx * dx + dy * dy) * 111195.0
        ii, jj = np.nonzero(d <= radius)
        expect = {(f"p{i}", f"p{j}") for i, j in zip(ii, jj)}
        assert got == expect, f"trial {trial}: lon0={lon0} lat0={lat0} r={radius}"


def test_bbox_partition_pruning(spark, tmp_path):
    """Viewport queries over a cell-partitioned layer must read ONLY the
    covering partitions (planning-time pruning: inputFiles shrinks and
    the scan shows PartitionFilters) and return exactly the plain bbox
    filter's rows."""
    from fagi_gis_spark.operators.pruning import (
        bbox_scan_pruned,
        covering_tiles,
        write_cell_partitioned,
    )
    from fagi_gis_spark.registry import layers

    L = layers(spark, SF)
    path = str(tmp_path / "poi_a_cells")
    write_cell_partitioned(L["poi_a"].select("subject", "lon", "lat"), path, z=7)

    bbox = (-0.6, 50.2, -0.1, 50.9)
    pruned = bbox_scan_pruned(spark, path, *bbox, z=7)
    all_files = spark.read.parquet(path).inputFiles()
    # inputFiles() lists the base relation pre-pruning; the files the
    # pruned scan ACTUALLY touches come from input_file_name()
    pruned_files = {
        r[0] for r in pruned.select(F.input_file_name()).distinct().collect()
    }
    assert len(pruned_files) < len(all_files)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell_part" in plan

    expect = (
        L["poi_a"]
        .filter(
            (F.col("lon") >= bbox[0]) & (F.col("lon") <= bbox[2])
            & (F.col("lat") >= bbox[1]) & (F.col("lat") <= bbox[3])
        )
        .select("subject")
    )
    got = {r.subject for r in pruned.select("subject").collect()}
    assert got == {r.subject for r in expect.collect()} and len(got) > 0
    # the covering is exact: every selected row's cell is in the list
    cells = set(covering_tiles(*bbox, z=7))
    in_cells = {r.cell_part for r in pruned.select("cell_part").distinct().collect()}
    assert in_cells <= cells


def test_cell_bucketed_radius_join_build_side_no_exchange(spark, tmp_path):
    """With the build layer bucketed BY CELL at the join resolution, the
    radius join's build side reads shuffle-free (bucketing provides the
    HashPartitioning): exactly one Exchange remains (probe side) in the
    sort-merge plan — the storage layout a 100TB deployment would use."""
    from fagi_gis_spark.index.tiles import cell_id_col
    from fagi_gis_spark.operators.spatial_join import join_res_for_radius
    from fagi_gis_spark.registry import layers
    from fagi_gis_spark.sources.layers import read_bucketed, write_bucketed

    L = layers(spark, SF)
    z = join_res_for_radius(150.0)
    write_bucketed(
        L["poi_b"]
        .select(
            F.col("subject").alias("r_key"),
            F.col("lon").alias("r_lon"),
            F.col("lat").alias("r_lat"),
        )
        .withColumn("cell", cell_id_col(F.col("r_lon"), F.col("r_lat"), z)),
        str(tmp_path / "poi_b"),
        ["cell"],
        sort=True,
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        from fagi_gis_spark.operators.spatial_join import radius_join, radius_join_bucketed

        j = radius_join_bucketed(
            L["poi_a"], read_bucketed(spark, str(tmp_path / "poi_b")), 150.0
        ).select("l_key", "r_key")
        rows = j.collect()
        assert len(rows) > 0  # executes THIS queryExecution (AQE final)
        # and the storage-aware variant is output-identical to the
        # in-memory strategy
        plain = radius_join(L["poi_a"], L["poi_b"], 150.0).select("l_key", "r_key")
        assert set(map(tuple, rows)) == set(map(tuple, plain.collect()))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SelectedBucketsCount" in plan  # build side read via buckets
        # exactly ONE shuffle keyed on cell: the probe side aligning to
        # the bucket partitioning. The bucketed build side contributes
        # none (a second cell exchange would mean bucketing was ignored).
        # (The probe chain also holds the layer-dedup window exchange on
        # subject — unrelated to the join key.)
        final = plan.split("== Initial Plan ==")[0]  # AQE prints both
        assert final.count("Exchange hashpartitioning(cell") == 1, final[:3000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_knn_join_strategy_equivalence(spark):
    """kNN over any of the three candidate strategies (tile / hex / S2)
    returns identical (probe, neighbor, rank) sets — the strategies'
    output-identical contract carried through the top-k consumer."""
    import numpy as np

    from fagi_gis_spark.operators import spatial_join
    from fagi_gis_spark.operators.spatial_join import knn_join

    rng = np.random.default_rng(41)
    n = 200
    rows = [
        (f"p{i}", float(12.0 + rng.uniform(0, 0.04)), float(47.0 + rng.uniform(0, 0.04)))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "subject string, lon double, lat double")
    results = {}
    for strat in ("tile", "hex", "s2"):
        cells = getattr(spatial_join, strat.upper())
        out = knn_join(df, df, k=3, radius_m=400.0, exclude_self=True, cells=cells)
        results[strat] = {
            (r.l_key, r.r_key, r.knn_rank) for r in out.collect()
        }
    assert results["tile"] == results["hex"] == results["s2"]
    assert len(results["tile"]) > 0


def test_knn_adaptive_salted_matches_bruteforce(spark):
    """knn_join_adaptive on a skewed fixture (every round salts its hot
    pile) returns the brute-force top-k within the last round's radius:
    the global top-k for finished probes, the best effort for exhausted
    ones."""
    import numpy as np

    from fagi_gis_spark.operators.spatial_join import knn_join, knn_join_adaptive

    left = spark.range(1200).select(
        F.concat(F.lit("h"), F.col("id")).alias("subject"),
        (F.lit(0.1) + (F.col("id") % 40).cast("double") / 1e6).alias("lon"),
        (F.lit(50.5) + ((F.col("id") * 7) % 40).cast("double") / 1e6).alias("lat"),
    ).unionByName(
        spark.range(400).select(
            F.concat(F.lit("t"), F.col("id")).alias("subject"),
            (F.lit(-0.9) + F.col("id").cast("double") * 9000 / 1e6).alias("lon"),
            (F.lit(51.0) + F.col("id").cast("double") * 5000 / 1e6).alias("lat"),
        )
    )
    right = left.withColumn("lon", F.col("lon") + 0.00002)
    plan = knn_join(left, right, k=2, radius_m=50.0)._jdf.queryExecution().executedPlan()
    assert "salt" in plan.toString()
    got = knn_join_adaptive(left, right, k=2, init_radius_m=50.0, max_doublings=4)
    got = {(r.l_key, r.r_key, r.knn_rank) for r in got.collect()}

    a, b = left.toPandas(), right.toPandas()
    dx = a["lon"].to_numpy()[:, None] - b["lon"].to_numpy()[None, :]
    dy = a["lat"].to_numpy()[:, None] - b["lat"].to_numpy()[None, :]
    d = np.sqrt(dx * dx + dy * dy) * 111195.0
    kb = b["subject"].to_numpy()
    expect = set()
    for i, key in enumerate(a["subject"]):
        near = np.nonzero(d[i] <= 400.0)[0]  # 50 m doubled three times
        ranked = sorted(near, key=lambda j: (d[i, j], kb[j]))[:2]
        expect |= {(key, kb[j], rank) for rank, j in enumerate(ranked, 1)}
    assert len(got) > 1000
    assert got == expect


def test_materialized_layers_equal_fresh_derivation(spark, tmp_path):
    """The bootstrap-once import (S4 materialization) must be row-identical
    to deriving the layers in-plan, including the precedence dedup baked
    into the stored poi_a, and a second call must reuse the written tables
    (memo hit — same DataFrame content, no rewrite)."""
    import os

    from fagi_gis_spark.operators.dedup_precedence import precedence_dedup
    from fagi_gis_spark.sources.layers import (
        MATERIALIZED_LAYER_KEYS,
        materialized_layers,
        spark_layers,
    )

    root = str(tmp_path / "layer_cache")
    mat = materialized_layers(spark, SF, cache_root=root)
    fresh = spark_layers(spark, SF)
    fresh["poi_a"] = precedence_dedup(fresh["poi_a_raw"])
    for k in MATERIALIZED_LAYER_KEYS:
        assert mat[k].exceptAll(fresh[k]).isEmpty(), k
        assert fresh[k].exceptAll(mat[k]).isEmpty(), k

    (base,) = [d for d in os.listdir(root) if not d.endswith(".tmp")]
    # the write-time parallelism floor: the passes scan each stored layer
    # with one task per part file
    floor = spark.sparkContext.defaultParallelism
    for k in MATERIALIZED_LAYER_KEYS:
        parts = [
            f
            for f in os.listdir(os.path.join(root, base, k))
            if f.startswith("part-") and f.endswith(".parquet")
        ]
        assert len(parts) >= floor, (k, len(parts))
    mtime = os.path.getmtime(os.path.join(root, base))
    again = materialized_layers(spark, SF, cache_root=root)
    assert os.path.getmtime(os.path.join(root, base)) == mtime  # no rewrite
    assert again["poi_a"].count() == mat["poi_a"].count()


def test_layer_import_jobs_keep_caller_group_and_description(spark, tmp_path):
    """The import's concurrent layer jobs run under the caller's job
    group and description: the group holds at least the seven write
    jobs, and the SQL status store records at least seven executions
    under the description, of which exactly two (the poi_a and poi_b
    writes, with the geometry summary) run a Python node."""
    import uuid

    from fagi_gis_spark.sources.layers import MATERIALIZED_LAYER_KEYS, materialized_layers
    from perfbench.sparkmetrics import StatusStore

    sc = spark.sparkContext
    store = StatusStore(spark)
    since = store.count()
    group = f"layer-import-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)  # the description is the group id too
    try:
        materialized_layers(spark, SF, cache_root=str(tmp_path / "layer_cache"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    n = len(MATERIALIZED_LAYER_KEYS)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= n
    plans = store.plans(since, group)
    assert len(plans) >= n
    python = [p for p in plans if any(a == "ArrowEvalPython" for a, _ in p.nodes.values())]
    assert len(python) == 2


def test_stored_table_failed_build_leaves_nothing(tmp_path):
    """A build that raises has its temp dir removed: ensure() re-raises
    the build's error and the layer-cache root is left empty."""
    import os

    from fagi_gis_spark.sources.layers import StoredTable

    class BuildFailed(Exception):
        pass

    def build(d):
        os.makedirs(d)
        open(os.path.join(d, "part-0"), "w").close()
        raise BuildFailed

    root = tmp_path / "layer_cache"
    t = StoredTable("broken", ("fagi_gis_spark.sources.layers",), build, str(root))
    with pytest.raises(BuildFailed):
        t.ensure()
    assert os.listdir(root) == []


def test_per_layer_error_waits_for_running_tasks(spark):
    """When one layer task raises, the import re-raises its error only
    after every other task has ended, so a failed build's temp dir is
    removed with no write still in flight."""
    import time

    from fagi_gis_spark.sources.layers import MATERIALIZED_LAYER_KEYS, _per_layer

    class WriteFailed(Exception):
        pass

    first, *rest = MATERIALIZED_LAYER_KEYS
    ended = []

    def task(k):
        if k == first:
            raise WriteFailed
        time.sleep(0.5)
        ended.append(k)

    with pytest.raises(WriteFailed):
        _per_layer(spark, task)
    assert sorted(ended) == sorted(rest)


def test_stored_table_second_call_launches_no_job(spark, tmp_path):
    """A stored table is built once: the second ensure() finds the path
    and launches no Spark job."""
    import uuid

    from fagi_gis_spark.sources.layers import StoredTable

    builds = []

    def build(d):
        builds.append(d)
        spark.range(10).write.parquet(d)

    t = StoredTable("ids", ("fagi_gis_spark.sources.layers",), build, str(tmp_path))
    assert t.ensure() == t.path and spark.read.parquet(t.path).count() == 10
    sc = spark.sparkContext
    group = f"stored-table-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "second ensure")
    try:
        assert t.ensure() == t.path
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert len(builds) == 1


def test_stored_table_key_follows_module_source(tmp_path, monkeypatch):
    """Editing one named module's source re-keys the stored table."""
    import importlib

    from fagi_gis_spark.sources.layers import StoredTable

    src = tmp_path / "stored_key_probe.py"
    src.write_text("SCALE = 1\n")
    monkeypatch.syspath_prepend(str(tmp_path))
    importlib.invalidate_caches()
    mods = ("fagi_gis_spark.sources.layers", "stored_key_probe")

    def key():
        return StoredTable("t", mods, lambda d: None, str(tmp_path))

    before = key()
    assert key().path == before.path
    src.write_text("SCALE = 2\n")
    after = key()
    assert after.key != before.key and after.path != before.path


def test_stored_table_losing_writer_removes_its_copy(tmp_path):
    """A writer whose rename loses to a concurrent winner deletes its
    temp directory and returns the winner's path."""
    import os

    from fagi_gis_spark.sources.layers import StoredTable

    def build(d):
        os.makedirs(d)
        open(os.path.join(d, "mine"), "w").close()
        os.makedirs(t.path)  # a concurrent writer renames first
        open(os.path.join(t.path, "winner"), "w").close()

    t = StoredTable("race", ("fagi_gis_spark.sources.layers",), build, str(tmp_path))
    assert t.ensure() == t.path
    assert os.listdir(t.path) == ["winner"]
    assert os.listdir(tmp_path) == [os.path.basename(t.path)]


def _fuse_cases():
    from fagi_gis_spark.operators.fusion import TRANSFORMATIONS, FusionParams

    cases = [pytest.param(t, None, id=t) for t in sorted(TRANSFORMATIONS)]
    cases.append(
        pytest.param(
            "shift_a_to_b",
            FusionParams(rotate_deg=30.0, metric_rotation=True),
            id="shift_a_to_b-metric_rotation",
        )
    )
    return cases


@pytest.mark.parametrize("transformation,params", _fuse_cases())
def test_summary_sources_fuse_identically(spark, transformation, params):
    """Pair-summary contract: the stored import-time summary columns and
    the summary linked_pairs derives itself for a plain layer feed every
    fusion transformation identically (same rows, same values)."""
    from fagi_gis_spark.operators.dedup_precedence import precedence_dedup
    from fagi_gis_spark.operators.fusion import fuse_all
    from fagi_gis_spark.sources.layers import materialized_layers, spark_layers

    mat = materialized_layers(spark, SF)
    fresh = spark_layers(spark, SF)
    fresh["poi_a"] = precedence_dedup(fresh["poi_a_raw"])
    stored = fuse_all(
        mat["links"], mat["poi_a_sum"], mat["poi_b_sum"], transformation, params
    ).toPandas()
    derived = fuse_all(
        fresh["links"], fresh["poi_a"], fresh["poi_b"], transformation, params
    ).toPandas()
    assert len(stored) > 0

    def ordered(df):
        return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)

    pd.testing.assert_frame_equal(ordered(stored), ordered(derived))


def test_fuse_without_summary_columns_fails_analysis(spark):
    """A pair table that did not come from linked_pairs has no summary
    columns: the shift kernel's destination centroid cannot resolve, and
    Spark's analyzer rejects the plan instead of re-parsing both WKTs."""
    from pyspark.errors import AnalysisException

    from fagi_gis_spark.operators.fusion import fuse

    pairs = spark.createDataFrame(
        [("a:0", "b:0", "POINT (0 0)", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")],
        ["subject_a", "subject_b", "wkt_a", "wkt_b"],
    )
    with pytest.raises(AnalysisException):
        fuse(pairs, "shift_a_to_b")


def test_with_scores_semantics(spark):
    """with_scores pins the SURVEY §2.3 scoring rules on real linked pairs:
    keep/most-points/concatenation score 1.0; shifts score
    sqrt((t - d) / t) on POINT->POLYGON pairs within the threshold and 0
    elsewhere; threshold -1 leaves only the type gate; avg_points is gated
    on POINT/POINT; anything else scores 0.0.  The shift-positive pair
    set equals the oracle-backed scores_quantized one."""
    import numpy as np

    from fagi_gis_spark.operators.fusion import (
        TRANSFORMATIONS,
        linked_pairs,
        scores_quantized,
        with_scores,
    )
    from fagi_gis_spark.registry import layers

    L = layers(spark, SF)
    pairs = linked_pairs(L["links"], L["poi_a_sum"], L["poi_b_sum"])
    key = ["subject_a", "subject_b"]

    def scored(t, threshold_m=500.0):
        return (
            with_scores(pairs, t, threshold_m=threshold_m)
            .select(*key, "gta", "gtb", "dist_m", "score")
            .toPandas()
            .sort_values(key)
            .reset_index(drop=True)
        )

    for t in ("keep_a", "keep_b", "keep_both", "most_points", "concatenation"):
        assert (scored(t).score == 1.0).all(), t

    t_m = 500.0
    for t in ("shift_a_to_b", "shift_b_to_a", "most_points_translate"):
        s = scored(t, t_m)
        type_gate = (s.gta == "POINT") & (s.gtb == "POLYGON")
        within = type_gate & (s.dist_m <= t_m)
        assert within.any() and (~within).any(), t  # both branches exercised
        assert (s.score[~within] == 0.0).all(), t
        expected = np.sqrt((t_m - s.dist_m[within]) / t_m)
        np.testing.assert_allclose(s.score[within], expected, rtol=1e-12, atol=0)
        assert ((s.score > 0) == (within & (s.dist_m < t_m))).all(), t

        gate_only = scored(t, -1.0)
        assert (gate_only.score == np.where(type_gate, 1.0, 0.0)).all(), t

    s = scored("avg_points")
    both_points = (s.gta == "POINT") & (s.gtb == "POINT")
    assert both_points.any()
    assert (s.score == np.where(both_points, 1.0, 0.0)).all()

    scored_names = {
        "keep_a", "keep_b", "keep_both", "most_points", "concatenation",
        "shift_a_to_b", "shift_b_to_a", "most_points_translate", "avg_points",
    }
    for t in sorted(set(TRANSFORMATIONS) - scored_names):
        assert (scored(t).score == 0.0).all(), t

    shift = scored("shift_a_to_b", t_m)
    positive = set(map(tuple, shift[shift.score > 0][key].itertuples(index=False)))
    q = scores_quantized(pairs, threshold_m=t_m).filter("score > 0").select(*key)
    assert positive == set(map(tuple, q.toPandas().itertuples(index=False)))
    assert positive


def _fresh_minhash_index(docs, tmp_path) -> str:
    """Build a MinHash index over the docs with ``doc_id % 5 != 0`` into
    a fresh directory under ``tmp_path`` and return its path."""
    from fagi_gis_spark.functions.dedup import build_minhash_index, minhash_signatures

    path = str(tmp_path / "mh_idx")
    build_minhash_index(minhash_signatures(docs.filter(F.col("doc_id") % 5 != 0)), path)
    return path


def test_incremental_minhash_equals_full_batch(spark, tmp_path):
    """Day-2 dedup contract: a new batch deduped against itself + the
    persisted corpus index must emit EXACTLY the full-batch LSH pairs
    restricted to pairs touching a new doc (same jaccard_est values),
    with pair_type telling the two origins apart."""
    from fagi_gis_spark.functions.dedup import (
        incremental_minhash_pairs,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    index = _fresh_minhash_index(docs, tmp_path)

    inc = incremental_minhash_pairs(
        minhash_signatures(new), index, jaccard_threshold=0.35
    )
    rows = inc.collect()
    full = minhash_lsh_pairs(
        minhash_signatures(docs), jaccard_threshold=0.35
    ).collect()
    want = {
        (r.doc_a, r.doc_b, r.jaccard_est)
        for r in full
        if r.doc_a % 5 == 0 or r.doc_b % 5 == 0
    }
    got = {(r.doc_a, r.doc_b, r.jaccard_est) for r in rows}
    assert got == want and len(got) > 0
    for r in rows:
        expect = "new_new" if (r.doc_a % 5 == 0 and r.doc_b % 5 == 0) else "new_corpus"
        assert r.pair_type == expect
    assert any(r.pair_type == "new_corpus" for r in rows)


def test_incremental_minhash_corpus_side_reads_buckets(spark, tmp_path):
    """The candidate join against the stored index must read the corpus
    side through its storage buckets: exactly one (band, bucket)
    exchange — the new batch aligning to the bucket layout.  A second
    one would mean the 100 TB corpus reshuffles on every day-2 batch."""
    from fagi_gis_spark.functions.dedup import (
        _band_buckets,
        minhash_signatures,
    )
    from fagi_gis_spark.sources.layers import read_bucketed

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    index = _fresh_minhash_index(docs, tmp_path)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        nb = _band_buckets(minhash_signatures(new), 16, 4)
        j = (
            nb.select("band", "bucket", F.col("doc_id").alias("doc_n"))
            .join(
                read_bucketed(spark, f"{index}/buckets").select(
                    "band", "bucket", F.col("doc_id").alias("doc_c")
                ),
                ["band", "bucket"],
            )
            .select("doc_n", "doc_c")
        )
        assert j.count() > 0
        plan = j._jdf.queryExecution().executedPlan().toString()
        # NOTE: do not split at "== Initial Plan ==" — when a previous
        # test left the probe-side signatures persisted, the probe scan
        # is an InMemoryRelation whose NESTED cached AQE plan prints its
        # own Final/Initial sections before the corpus scan line, and a
        # prefix split would cut the plan before the corpus side.  The
        # nested sections contain only the signature computation (a
        # round-robin exchange), so asserting over the full string is
        # exact: the corpus side reads through its storage buckets and
        # the ONE (band, bucket) exchange is the new batch aligning.
        assert "SelectedBucketsCount" in plan
        assert plan.count("Exchange hashpartitioning(band") == 1, plan[:3000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_index_layout_mismatch_raises(spark, tmp_path):
    """Querying a day-2 index with different banding parameters than it
    was built with must raise (a mismatched layout joins almost no
    corpus keys — silent recall loss), and re-ingested ids must not
    emit self-pairs."""
    from fagi_gis_spark.functions.dedup import (
        incremental_minhash_pairs,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    index = _fresh_minhash_index(docs, tmp_path)
    with pytest.raises(ValueError, match="bands=16"):
        incremental_minhash_pairs(
            minhash_signatures(docs.limit(20)), index, bands=8, rows_per_band=8
        ).collect()
    # re-ingesting ids the index already holds yields no self-pairs and
    # no pair twice (batch-internal and corpus echoes collapse)
    again = docs.filter((F.col("doc_id") % 5 != 0) & (F.col("doc_id") < 100))
    same = incremental_minhash_pairs(
        minhash_signatures(again), index, jaccard_threshold=0.35
    ).persist()
    try:
        assert same.filter(F.col("doc_a") == F.col("doc_b")).count() == 0
        assert same.count() == same.select("doc_a", "doc_b").distinct().count()
    finally:
        same.unpersist()


def test_substring_dup_stats_matches_bruteforce(spark):
    """Engine substring-dup stats == a per-corpus brute-force (dict of all
    k-windows) on handcrafted docs with cross-doc, same-doc, and
    overlapping-run duplicates."""
    from collections import Counter

    from fagi_gis_spark.functions.dedup import substring_dup_stats

    k = 10
    texts = {
        1: "the quick brown fox jumps over the lazy dog once",
        2: "xx the quick brown fox sat still yy",   # shares a run with 1
        3: "zzzzzzzzzzzzzzzzzzzz",                  # self-repeating run
        4: "completely unique text w/o any repeats",
        5: "short",                                  # < k: no windows
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    wins = Counter()
    for t in texts.values():
        for i in range(len(t) - k + 1):
            wins[t[i : i + k]] += 1
    want = {}
    for did, t in texts.items():
        pos = [i for i in range(len(t) - k + 1) if wins[t[i : i + k]] >= 2]
        if not pos:
            continue
        cov = set()
        for p in pos:
            cov.update(range(p, p + k))
        want[did] = (len(pos), len(cov))
    got = {
        r.doc_id: (r.dup_windows, r.dup_chars)
        for r in substring_dup_stats(docs, k=k).collect()
    }
    assert got == want
    assert 3 in got and 4 not in got and 5 not in got


def test_stratified_sample_partition_invariant(spark):
    """The hash-gated stratified sample is a function of the data alone:
    identical kept sets at 1 and 13 partitions; over-mean strata shrink,
    under-mean strata keep every row."""
    from fagi_gis_spark.functions.text import stratified_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = {
        (r.doc_id, r.lang)
        for r in stratified_sample(docs.repartition(1), "lang").collect()
    }
    b = {
        (r.doc_id, r.lang)
        for r in stratified_sample(docs.repartition(13), "lang").collect()
    }
    assert a == b and len(a) > 0
    cnts = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    cap = sum(cnts.values()) // len(cnts)
    kept = {}
    for _, lang in a:
        kept[lang] = kept.get(lang, 0) + 1
    for lang, n in cnts.items():
        if n <= cap:
            assert kept.get(lang, 0) == n          # under-mean: all kept
        else:
            assert kept.get(lang, 0) < n           # over-mean: downsampled


def test_incremental_cosine_equals_full_batch(spark, tmp_path):
    """Embedding-cosine day-2 (the fourth incremental-dedup quadrant): a
    new batch against itself + the stored hyperplane-bucket index equals
    the full-batch cosine_near_dup_pairs(blocking='lsh') restricted to
    pairs touching a new vector, with bit-identical cos_sim — new-side
    multiprobe covers both probe directions (flip adjacency is
    symmetric).  Layout comes from the index's layout.json; mismatch
    impossible by construction (no caller-supplied layout)."""
    from fagi_gis_spark.functions.ann import (
        build_cosine_index,
        cosine_near_dup_pairs,
        incremental_cosine_pairs,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0)
    index = str(tmp_path / "cs_idx")
    build_cosine_index(corpus, index, bits_per_table=6)

    thr = 0.3  # synthetic embeddings: neighbor cos ~0.29-0.4
    got = {
        (r.id_a, r.id_b, round(r.cos_sim, 12), r.pair_type)
        for r in incremental_cosine_pairs(new, index, threshold=thr).collect()
    }
    full = cosine_near_dup_pairs(
        emb, threshold=thr, blocking="lsh", bits_per_table=6
    ).collect()
    want = {
        (
            r.id_a,
            r.id_b,
            round(r.cos_sim, 12),
            "new_new" if (r.id_a % 5 == 0 and r.id_b % 5 == 0) else "new_corpus",
        )
        for r in full
        if r.id_a % 5 == 0 or r.id_b % 5 == 0
    }
    assert got == want and len(got) > 0
    assert any(t == "new_corpus" for (_, _, _, t) in got)
    # re-ingesting ids already in the index emits no self-pairs
    same = incremental_cosine_pairs(corpus.limit(20), index, threshold=thr)
    assert same.filter(F.col("id_a") == F.col("id_b")).count() == 0
    # the corpus side of the candidate join reads pre-bucketed storage
    plan = incremental_cosine_pairs(new, index, threshold=thr)._jdf.queryExecution().executedPlan().toString()
    assert "SelectedBucketsCount" in plan


def test_failed_index_build_leaves_nothing_and_next_call_rebuilds(
    spark, tmp_path, monkeypatch
):
    """A day-2 index build that fails after writing a part leaves
    nothing for that index under the layer-cache root, surfaces its own
    error, and the next call rebuilds at once (no lock-out of the query
    by the failed build's files)."""
    from fagi_gis_spark.functions import dedup
    from fagi_gis_spark.registry import queries
    from fagi_gis_spark.sources.layers import write_bucketed

    class BuildFailed(Exception):
        pass

    def broken(sigs, path, **kw):
        write_bucketed(sigs.limit(1), os.path.join(path, "sigs"), ["doc_id"])
        raise BuildFailed

    root = tmp_path / "layer_cache"
    monkeypatch.setenv("SPARK_GRAFT_LAYER_CACHE", str(root))
    build = dedup.build_minhash_index
    monkeypatch.setattr(dedup, "build_minhash_index", broken)
    query = queries()["dedup_incremental_minhash"]
    with pytest.raises(BuildFailed):
        query(spark, SF)
    assert os.listdir(root) == []
    monkeypatch.setattr(dedup, "build_minhash_index", build)
    assert len(query(spark, SF).collect()) > 0
    assert [d.split("-")[0] for d in os.listdir(root)] == ["minhash_idx_sf0.001"]


def test_day2_indexes_are_external_stored_tables(spark, tmp_path_factory):
    """After the three day-2 queries run, every catalog table is an
    external one over a stored directory under the layer-cache root or a
    test's tmp dir: nothing is written to the session warehouse."""
    from fagi_gis_spark import registry

    for q in (
        "dedup_incremental_minhash",
        "dedup_incremental_cosine",
        "image_shard_pack_incremental",
    ):
        assert registry.queries()[q](spark, SF).count() > 0
    roots = (
        os.path.dirname(registry._CORPUS.path),
        str(tmp_path_factory.getbasetemp()),
    )
    tables = [t for t in spark.catalog.listTables() if not t.isTemporary]
    assert tables
    for t in tables:
        assert t.tableType == "EXTERNAL", t
        (loc,) = [
            r.data_type
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {t.name}").collect()
            if r.col_name == "Location"
        ]
        assert loc.removeprefix("file:").startswith(roots), (t.name, loc)


def test_side_input_ships_through_spark_files(spark):
    """Driver-built side inputs travel by ``SparkContext.addFile``: the
    worker closure carries a bare, content-hashed file name that resolves
    under the context's SparkFiles root (deleted by Spark at ``stop()``),
    a ``mapInPandas`` worker reads the arrays back, and the side-input
    kernels (MinHash verify, exact ANN) write nothing to ``/tmp``."""
    import glob
    import os

    import numpy as np
    from pyspark import SparkFiles

    from fagi_gis_spark.registry import queries
    from fagi_gis_spark.sideinput import write_arrays

    ids = np.array(["a", "bb", "ccc"])
    mat = np.arange(12, dtype=np.int64).reshape(3, 4)
    name = write_arrays(spark, ids=ids, mat=mat)
    assert os.sep not in name
    path = os.path.join(SparkFiles.getRootDirectory(), name)
    assert os.path.isfile(path)
    assert write_arrays(spark, ids=ids.copy(), mat=mat.copy()) == name

    def read_back(batches):
        from fagi_gis_spark.sideinput import read_arrays

        z = read_arrays(name)
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "label": z["ids"][pdf["id"].to_numpy()],
                    "row_sum": z["mat"][pdf["id"].to_numpy()].sum(axis=1),
                }
            )

    got = (
        spark.range(3, numPartitions=2)
        .mapInPandas(read_back, schema="id long, label string, row_sum long")
        .toPandas()
        .sort_values("id")
    )
    assert got["label"].tolist() == ids.tolist()
    assert got["row_sum"].tolist() == mat.sum(axis=1).tolist()

    before = set(glob.glob("/tmp/spark_graft_side_*"))
    for q in ("dedup_minhash_lsh", "ann_cosine_topk"):
        assert queries()[q](spark, SF).count() > 0
    assert set(glob.glob("/tmp/spark_graft_side_*")) == before
