"""S2 cell ids + aperture-7 hex hierarchy: differential, property, and
hand-value tests (the non-Spark half; the Spark/DuckDB parity runs via
the registry queries ``s2_cells`` / ``hex_cells``)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from fagi_gis_spark.index.hexgrid import (
    grid_disk,
    hex_cell_np,
    hex_center_np,
    hex_distance_np,
    hex_parent_np,
    pack_hex,
    unpack_hex,
)
from fagi_gis_spark.index.s2 import (
    s2_cell_center_np,
    s2_cell_np,
    s2_cell_slow,
    s2_level_np,
    s2_parent_np,
)

RNG = np.random.RandomState(421)
LON = RNG.uniform(-180.0, 180.0, 3000)
LAT = RNG.uniform(-89.95, 89.95, 3000)


# ---------------------------------------------------------------- S2


def test_s2_vectorized_equals_scalar_reference():
    """The numpy kernel and the independent scalar transcription agree
    bit-for-bit at several levels (incl. leaf)."""
    for level in (0, 1, 7, 12, 30):
        vec = s2_cell_np(LON[:400], LAT[:400], level)
        slow = np.array(
            [s2_cell_slow(a, b, level) for a, b in zip(LON[:400], LAT[:400])],
            dtype=np.int64,
        )
        assert (vec == slow).all(), f"level {level}"


def test_s2_level0_hand_values():
    """Level-0 cells are face << 61 | 1 << 60 — hand-computable anchors
    for all six faces (4 and 5 wrap negative in the signed view)."""
    lon = np.array([0.0, 90.0, 0.0, 180.0, -90.0, 0.0])
    lat = np.array([0.0, 0.0, 90.0, 0.0, 0.0, -90.0])
    got = s2_cell_np(lon, lat, 0).tolist()
    expect = [
        ((f << 61) | (1 << 60)) - ((1 << 64) if f >= 4 else 0) for f in range(6)
    ]
    assert got == expect


def test_s2_leaf_anchor_values_from_published_tables():
    """Leaf-level (level 30) anchors derived BY HAND from the published
    s2geometry scheme — working the kPosToIJ/kPosToOrientation tables,
    the quadratic UV->ST transform, and the FromFaceIJ recursion on
    paper, independent of BOTH in-repo implementations:

    - Face-center points (u=v=0 -> i=j=2^29): the top base-4 digit is
      ij=3 -> pos digit 2 with unchanged orientation, every remaining
      digit is ij=0 -> pos 0, so pos = 2*4^29 = 2^59 and
      id = face<<61 | 2^59<<1 | 1 = face<<61 | 2^60 | 1 on EVERY face
      (faces 0 and 1 start in different Hilbert states, but both map
      their ij=3 top digit to pos 2 and their ij=0 tail to pos 0).
    - Curve-origin corner cell of face 0 (covers u,v in [-1,-1+4.9e-9)):
      s=t=0 -> i=j=0 -> every digit pos 0 -> id = 1, the first leaf of
      the whole curve.  Probed a hair INSIDE the corner (u=v=-1+1e-10,
      20x margin from the cell edge) because the exact cube corner
      xyz=(1,-1,-1)/sqrt(3) is a three-way |component| tie that IEEE
      trig resolves by 1-ulp accidents, not by the spec.
    - Opposite corner cell (u=v=1-1e-10): i=j=2^30-1, every digit ij=3
      -> pos 2 in state 0 with orientation unchanged, so
      pos = 2*(4^30-1)/3 and id = 0x1555555555555555.

    The face-3 center (0, 180) is deliberately NOT an anchor: sin(pi)
    leaks 1.22e-16 into y, so the point lands one leaf off the ideal
    center — any spec-faithful implementation (including Google's,
    which builds xyz with the same trig) sees that leak, making the
    idealized value wrong and the leaked one tie-rounding-fragile.

    The s2geometry binary is not installable in this sandbox; these
    hand derivations are the strongest library-independent
    bit-compatibility anchors available (index/s2.py header)."""
    # lon/lat literals = degrees(atan2(u, 1)), degrees(atan2(v, hypot(1, u)))
    # for u = v = +-(1 - 1e-10) on face 0 (documented derivation above)
    lon = np.array([0.0, 90.0, 0.0, -90.0, 0.0, -44.99999999713521, 44.99999999713521])
    lat = np.array([0.0, 0.0, 90.0, 0.0, -90.0, -35.26438968140418, 35.26438968140418])
    got = s2_cell_np(lon, lat, 30).tolist()

    def signed(u):
        return u - (1 << 64) if u >= 1 << 63 else u

    centers = [signed((f << 61) | (1 << 60) | 1) for f in (0, 1, 2, 4, 5)]
    expect = centers + [1, 0x1555555555555555]
    assert got == expect
    # and the scalar twin agrees on the same anchors
    slow = [s2_cell_slow(a, b, 30) for a, b in zip(lon, lat)]
    assert slow == expect


def test_s2_prefix_containment_and_levels():
    """parent(leaf, l) == direct encode at l for every l — the Hilbert
    position is prefix-consistent, so coarse cells contain their
    children by id truncation (the rollup/bucketing property)."""
    leaf = s2_cell_np(LON, LAT, 30)
    assert (s2_level_np(leaf) == 30).all()
    for level in (3, 7, 12, 20):
        direct = s2_cell_np(LON, LAT, level)
        assert (s2_parent_np(leaf, level) == direct).all()
        assert (s2_level_np(direct) == level).all()


def test_s2_decode_round_trip_within_cell():
    """decode(encode(p)) stays within the cell's angular radius (lon
    error weighted by cos(lat) — degrees compress near the poles)."""
    for level, bound_deg in ((30, 1e-6), (12, 0.04)):
        cell = s2_cell_np(LON, LAT, level)
        clon, clat = s2_cell_center_np(cell)
        dlon = np.abs(clon - LON)
        dlon = np.minimum(dlon, 360.0 - dlon) * np.cos(np.radians(LAT))
        err = np.hypot(dlon, clat - LAT)
        assert err.max() < bound_deg, f"level {level}: {err.max()}"


def test_s2_bijection_on_sample():
    """Distinct far-apart points get distinct leaf cells; equal points
    get equal cells (encode is a function)."""
    leaf = s2_cell_np(LON, LAT, 30)
    assert len(np.unique(leaf)) == len(leaf)
    again = s2_cell_np(LON.copy(), LAT.copy(), 30)
    assert (leaf == again).all()


def test_s2_locality_same_cell_for_nearby_points():
    """Points ~1 m apart share their level-12 cell far more often than
    random pairs do — the index actually buckets by proximity."""
    eps = 1e-5  # ~1 m
    a = s2_cell_np(LON, LAT, 12)
    b = s2_cell_np(LON + eps, LAT + eps, 12)
    assert (a == b).mean() > 0.9
    shuffled = np.roll(a, 1)
    assert (a == shuffled).mean() < 0.01


# ---------------------------------------------------------------- hex


def test_hex_pack_unpack_round_trip():
    q = RNG.randint(-(1 << 26), 1 << 26, 500)
    r = RNG.randint(-(1 << 26), 1 << 26, 500)
    for res in (0, 9, 15):
        cq, cr, cres = unpack_hex(pack_hex(q, r, res))
        assert (cq == q).all() and (cr == r).all() and (cres == res).all()


def test_hex_assignment_is_nearest_center():
    """Every point's assigned res-9 cell center is no farther than any
    neighbor cell's center (the defining Voronoi property of hex
    rounding)."""
    lon, lat = LON[:300], LAT[:300]
    cell = hex_cell_np(lon, lat, 9)
    cx, cy = hex_center_np(cell)
    d_own = np.hypot(cx - lon, cy - lat)
    q, r, _ = unpack_hex(cell)
    for dq, dr in ((1, 0), (-1, 0), (0, 1), (0, -1), (1, -1), (-1, 1)):
        ncell = pack_hex(q + dq, r + dr, 9)
        nx, ny = hex_center_np(ncell)
        d_n = np.hypot(nx - lon, ny - lat)
        assert (d_own <= d_n + 1e-9).all()


def test_hex_parent_children_aperture7():
    """Enumerating the full res-9 axial lattice, every interior res-8
    parent has EXACTLY 7 children (the defining aperture-7 property;
    non-7 counts only appear where the enumeration window clips), and
    each child center lies within sqrt(3)/sqrt(7) of its parent center
    (the theoretical aperture-7 offset bound)."""
    import collections

    qs, rs = np.meshgrid(np.arange(-60, 61), np.arange(-60, 61))
    child = pack_hex(qs.ravel(), rs.ravel(), 9)
    parent = hex_parent_np(child, 8)
    counts = collections.Counter(parent.tolist())
    dist = collections.Counter(counts.values())
    assert max(dist) == 7  # no parent exceeds 7 children
    assert dist[7] / sum(dist.values()) > 0.9  # interior = exactly 7
    # containment: child center within the theoretical offset of parent
    uc = np.unique(child)
    up = hex_parent_np(uc, 8)
    ccx, ccy = hex_center_np(uc)
    pcx, pcy = hex_center_np(up)
    from fagi_gis_spark.index.hexgrid import S0

    parent_circum = S0 / (7.0**0.5) ** 8
    d = np.hypot(ccx - pcx, ccy - pcy)
    assert d.max() <= parent_circum * (3.0 / 7.0) ** 0.5 * 1.000001


def test_hex_parent_multilevel_consistency():
    """Skipping levels equals stepping levels (res 9 -> 7 directly ==
    9 -> 8 -> 7)."""
    cell = hex_cell_np(LON[:500], LAT[:500], 9)
    direct = hex_parent_np(cell, 7)
    stepped = hex_parent_np(hex_parent_np(cell, 8), 7)
    assert (direct == stepped).all()


def test_hex_grid_disk_ring_sizes():
    """|gridDisk(k)| = 1 + 3k(k+1) (H3's kRing cardinality)."""
    for k in (0, 1, 2, 3):
        assert len(grid_disk(5, -3, k)) == 1 + 3 * k * (k + 1)


def test_hex_distance_matches_disk_membership():
    center = pack_hex(np.array([5]), np.array([-3]), 9)
    for k in (1, 2):
        members = grid_disk(5, -3, k)
        cells = pack_hex(
            np.array([m[0] for m in members]), np.array([m[1] for m in members]), 9
        )
        d = hex_distance_np(cells, np.repeat(center, len(members)))
        assert d.max() == k and (d >= 0).all()


def test_s2_neighbors_perturbation_containment():
    """Any ~11 m perturbation of a point stays within {own cell} union
    its 8 wrapped neighbors at level 12 (cells are km-scale) — the
    property the S2-bucketed join's completeness rests on."""
    from fagi_gis_spark.index.s2 import s2_all_neighbors_np

    level, eps = 12, 1e-4
    cells = s2_cell_np(LON, LAT, level)
    nb = s2_all_neighbors_np(cells, level)
    assert nb.shape == (len(LON), 8)
    for dlon, dlat in ((eps, 0), (-eps, 0), (0, eps), (0, -eps), (eps, eps), (-eps, -eps)):
        c2 = s2_cell_np(LON + dlon, LAT + dlat, level)
        inside = (c2 == cells) | (nb == c2[:, None]).any(axis=1)
        assert inside.all()


def test_s2_neighbors_cross_face_edge():
    """Points straddling the lon=45 cube-face edge (faces 0/1): stepping
    across the edge lands in the wrapped neighbor set, and the neighbor
    ids really live on the other face."""
    import numpy as np

    from fagi_gis_spark.index.s2 import s2_all_neighbors_np

    rng = np.random.RandomState(8)
    lon = np.full(400, 45.0) + rng.uniform(-1e-3, 1e-3, 400)
    lat = rng.uniform(-40.0, 40.0, 400)
    c = s2_cell_np(lon, lat, 12)
    nb = s2_all_neighbors_np(c, 12)
    faces = set(
        (np.concatenate([c, nb.ravel()]).view(np.uint64) >> np.uint64(61)).tolist()
    )
    assert {0, 1} <= faces
    c_shift = s2_cell_np(lon + 2e-3, lat, 12)
    inside = (c_shift == c) | (nb == c_shift[:, None]).any(axis=1)
    assert inside.all()


def test_hash_oracles_byte_faithful_on_non_ascii():
    """The SimHash/MinHash DuckDB oracles hash UTF-8 BYTES (via
    hex(encode())), matching the engine kernels on non-ASCII text —
    ascii()-based extraction would hash code points and diverge."""
    import duckdb
    import pandas as pd

    from fagi_gis_spark.functions.dedup import _fnv64_tokens, _shingle_hashes

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": ["café crème tokyo 東京 data", "naïve œuvre data café"],
        }
    )
    con = duckdb.connect()
    con.register("docs_nonascii", docs)
    # token FNV over bytes (the simhash oracle's tok_hash stage)
    got = con.execute(
        """
        SELECT tok, list_reduce(
          list_prepend(CAST(1469598103934665603 AS UBIGINT),
                       list_transform(range(1, length(th) // 2 + 1),
                         i -> CAST(16 * (strpos('0123456789abcdef', th[2*i-1]) - 1)
                                   + (strpos('0123456789abcdef', th[2*i]) - 1) AS UBIGINT))),
          (acc, b) -> CAST((CAST(xor(acc, b) AS HUGEINT) * 1099511628211)
                           % 18446744073709551616 AS UBIGINT)) AS h
        FROM (
          SELECT DISTINCT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                             x -> x <> '')) AS tok,
                 NULL
          FROM docs_nonascii
        ) t(tok), LATERAL (SELECT lower(hex(encode(tok))) AS th) x
        ORDER BY tok
        """
    ).df()
    toks = got.tok.tolist()
    expect = _fnv64_tokens(toks)
    assert (got.h.to_numpy(np.uint64) == expect).all()
    # byte-window shingles (the minhash oracle's sh stage) on one doc
    s = " ".join(docs.text[0].lower().split())
    got_sh = con.execute(
        """
        SELECT list_reduce(
          list_prepend(CAST(1469598103934665603 AS UBIGINT),
                       list_transform(range(i.i, i.i + 5),
                         k -> CAST(16 * (strpos('0123456789abcdef', bh[2*k-1]) - 1)
                                   + (strpos('0123456789abcdef', bh[2*k]) - 1) AS UBIGINT))),
          (acc, c) -> CAST((CAST(xor(acc, c) AS HUGEINT) * 1099511628211)
                           % 18446744073709551616 AS UBIGINT)) AS h
        FROM (SELECT lower(hex(encode(?))) AS bh, octet_length(encode(?)) AS blen),
             LATERAL (SELECT unnest(range(1, blen - 3)) AS i) i
        ORDER BY h
        """,
        [s, s],
    ).df()
    expect_sh = np.sort(_shingle_hashes(docs.text[0], 5))
    got_u = np.unique(got_sh.h.to_numpy(np.uint64))
    assert (got_u == expect_sh).all()


def test_covering_tiles_antimeridian_and_world():
    """covering_tiles must not wrap lon=180 to column 0 (which would
    empty the x range and silently prune every partition): a bbox
    touching +180 covers through the last column, and the whole-world
    bbox at z=3 covers all 8x(y-range) tiles."""
    from fagi_gis_spark.index.tiles import unpack_cell
    from fagi_gis_spark.operators.pruning import covering_tiles

    cells = covering_tiles(179.0, 10.0, 180.0, 11.0, 7)
    assert len(cells) > 0
    xs = {unpack_cell(c)[1] for c in cells}
    assert max(xs) == (1 << 7) - 1  # includes the last column
    assert 0 in xs  # rows at exactly lon=180 are STORED in column 0
    world = covering_tiles(-180.0, -85.0, 180.0, 85.0, 3)
    xs = {unpack_cell(c)[1] for c in world}
    assert xs == set(range(8))


def test_hex_rounding_single_rule_on_exact_ties(spark):
    """One half-up rule for every hex surface (VERDICT r4 ask #3): on
    EXACT .5-residue axial ties — the inputs where banker's and half-up
    disagree — the numpy path (hex_cell_np family), the JVM column path
    (hex_round_cols, used by joins/geotag/streaming), and the DuckDB
    oracle replay (hex_round_sql) all produce the same rounded axial
    pair."""
    import duckdb
    import numpy as np

    from fagi_gis_spark.index.hexgrid import hex_round_cols, hex_round_np, hex_round_sql

    ties = [
        (0.5, 0.25), (1.5, 0.25), (2.5, 0.25), (-0.5, 0.25), (-1.5, 0.25),
        (0.25, 0.5), (0.25, 1.5), (0.25, -0.5), (0.5, 0.5), (1.5, -0.5),
        (-0.5, -0.5), (2.5, -1.5), (0.5, -0.25), (3.5, 2.5), (0.1, 0.4),
        (0.73, -1.22),
    ]
    qf = np.array([t[0] for t in ties])
    rf = np.array([t[1] for t in ties])
    nq, nr = hex_round_np(qf, rf)

    df = spark.createDataFrame(list(ties), "qf double, rf double")
    jq, jr = hex_round_cols(F.col("qf"), F.col("rf"))
    jvm = df.select(jq.alias("q"), jr.alias("r")).toPandas()

    con = duckdb.connect()
    con.execute("CREATE TABLE __hex_in AS SELECT * FROM (VALUES %s) t(qf, rf)"
                % ", ".join(f"({a!r}, {b!r})" for a, b in ties))
    sql = hex_round_sql("qf", "rf")
    got = con.execute(f"SELECT q1, r1 FROM ({sql})").fetchall()

    for i in range(len(ties)):
        assert (nq[i], nr[i]) == (jvm.q[i], jvm.r[i]) == (int(got[i][0]), int(got[i][1])), ties[i]


def test_hex_id_equality_across_surfaces(spark):
    """End-to-end: the geotag/stream JVM hex id (hexgrid.hex_cell_col)
    equals the Arrow/numpy id (hex_cell_np) for a dense point sweep
    crossing many cell boundaries — the two id families are now ONE."""
    import numpy as np

    from fagi_gis_spark.index.hexgrid import hex_cell_col, hex_cell_np

    rng = np.random.default_rng(11)
    lon = np.concatenate([rng.uniform(-179, 179, 4000), np.linspace(4.99, 5.01, 1000)])
    lat = np.concatenate([rng.uniform(-84, 84, 4000), np.linspace(49.99, 50.01, 1000)])
    for res in (5, 9):
        want = hex_cell_np(lon, lat, res)
        df = spark.createDataFrame(
            [(float(a), float(b)) for a, b in zip(lon, lat)], "lon double, lat double"
        )
        cell = hex_cell_col(F.col("lon"), F.col("lat"), res)
        got = df.select(cell.alias("cell")).toPandas()["cell"].to_numpy()
        assert (want == got).all(), res


# ----------------------------------------------------------------- geohash
def test_geohash_published_vectors():
    """The two community test vectors every geohash implementation quotes."""
    from fagi_gis_spark.index.geohash import geohash_str_np

    assert geohash_str_np(np.array([-5.603]), np.array([42.605]), 5)[0] == "ezs42"
    assert (
        geohash_str_np(np.array([10.40744]), np.array([57.64911]), 11)[0]
        == "u4pruydqqvj"
    )


def test_geohash_decode_round_trip_and_prefix_nesting():
    from fagi_gis_spark.index.geohash import geohash_decode_np, geohash_str_np

    rng = np.random.default_rng(11)
    lon = rng.uniform(-180, 180, 300)
    lat = rng.uniform(-90, 90, 300)
    g7 = geohash_str_np(lon, lat, 7)
    g4 = geohash_str_np(lon, lat, 4)
    # refinement nests: the precision-4 code IS the 4-char prefix
    assert all(a.startswith(b) for a, b in zip(g7, g4))
    # cell-center decode lands back in the same cell
    for code in g7[:50]:
        clon, clat = geohash_decode_np(code)
        assert geohash_str_np(np.array([clon]), np.array([clat]), 7)[0] == code


def test_geohash_sql_twin_matches_numpy_on_duckdb_and_edges():
    import duckdb
    import pandas as pd

    from fagi_gis_spark.index.geohash import (
        geohash_bits_np,
        geohash_bits_sql,
        geohash_str_np,
        geohash_str_sql,
    )

    rng = np.random.default_rng(13)
    lon = np.concatenate([rng.uniform(-180, 180, 200), [180.0, -180.0, 0.0, 179.999999]])
    lat = np.concatenate([rng.uniform(-90, 90, 200), [90.0, -90.0, 0.0, 89.999999]])
    con = duckdb.connect()
    con.register("pts", pd.DataFrame({"lon": lon, "lat": lat}))
    got = con.sql(
        f"SELECT {geohash_str_sql('lon', 'lat', 7)} AS g, "
        f"{geohash_bits_sql('lon', 'lat', 6)} AS b FROM pts"
    ).df()
    assert (got["g"].values == geohash_str_np(lon, lat, 7)).all()
    assert (got["b"].values == geohash_bits_np(lon, lat, 6)).all()
    # poles/antimeridian clamp into the top cell, never out of range
    assert geohash_str_np(np.array([180.0]), np.array([90.0]), 5)[0] == "zzzzz"


def test_geohash_spark_expr_matches_numpy(spark):
    from fagi_gis_spark.index.geohash import geohash_str_np, geohash_str_sql

    rng = np.random.default_rng(17)
    lon = rng.uniform(-180, 180, 500)
    lat = rng.uniform(-90, 90, 500)
    import pandas as pd

    sdf = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    got = (
        sdf.select(F.expr(geohash_str_sql("lon", "lat", 7)).alias("g"))
        .toPandas()["g"]
        .values
    )
    assert (got == geohash_str_np(lon, lat, 7)).all()


def test_quadkey_published_anchor_and_decode():
    """The Bing Tile System docs' worked example: tile (3,5) level 3 is
    quadkey '213'; decode is the published inverse."""
    from fagi_gis_spark.index.quadkey import quadkey_decode, quadkey_from_xy_np

    assert quadkey_from_xy_np(np.array([3]), np.array([5]), 3)[0] == "213"
    assert quadkey_decode("213") == (3, 3, 5)
    # level-1 quadrants
    assert list(quadkey_from_xy_np(np.array([0, 1, 0, 1]), np.array([0, 0, 1, 1]), 1)) == [
        "0", "1", "2", "3"
    ]


def test_quadkey_prefix_nesting_and_lattice_identity():
    """Prefix = parent, and the quadkey is a pure re-labelling of the
    engine's own z-tile lattice (decode returns tile_xy_np exactly)."""
    from fagi_gis_spark.index import tiles
    from fagi_gis_spark.index.quadkey import quadkey_decode, quadkey_np

    rng = np.random.default_rng(23)
    lon = rng.uniform(-180, 180, 300)
    lat = rng.uniform(-85, 85, 300)
    q9 = quadkey_np(lon, lat, 9)
    q7 = quadkey_np(lon, lat, 7)
    assert all(a.startswith(b) for a, b in zip(q9, q7))
    tx, ty = tiles.tile_xy_np(lon, lat, 9)
    for qk, x, y in zip(q9, tx, ty):
        assert quadkey_decode(qk) == (9, int(x), int(y))


def test_quadkey_sql_twin_matches_numpy_on_duckdb_and_spark(spark):
    import duckdb
    import pandas as pd

    from fagi_gis_spark.index.quadkey import quadkey_np, quadkey_sql

    rng = np.random.default_rng(29)
    lon = np.concatenate([rng.uniform(-180, 180, 200), [180.0, -180.0, 0.0, 179.999999]])
    lat = np.concatenate([rng.uniform(-85, 85, 200), [85.05112878, -85.05112878, 0.0]])
    lat = lat[: len(lon)]
    lon = lon[: len(lat)]
    ref = quadkey_np(lon, lat, 9)
    con = duckdb.connect()
    con.register("pts", pd.DataFrame({"lon": lon, "lat": lat}))
    got = con.sql(f"SELECT {quadkey_sql('lon', 'lat', 9)} AS q FROM pts").df()
    assert (got["q"].values == ref).all()
    sdf = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    got_s = sdf.select(F.expr(quadkey_sql("lon", "lat", 9)).alias("q")).toPandas()["q"]
    assert (got_s.values == ref).all()
