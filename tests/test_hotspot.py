"""Getis-Ord Gi* hotspot detection: differential against an independent
pure-Python implementation of the published statistic (binary weights,
self included, occupied-cell universe), plus contract edge cases."""

from __future__ import annotations

import math

import pytest

from fagi_gis_spark.index import tiles
from fagi_gis_spark.operators.hotspot import hotspot_gi


def _gi_reference(cells):
    """cells: dict (x, y) -> cnt.  Returns (x, y) -> gi (float)."""
    n = len(cells)
    sum_c = sum(cells.values())
    sumsq = sum(c * c for c in cells.values())
    mean = sum_c / n
    sd = math.sqrt(sumsq / n - mean * mean)
    out = {}
    for (x, y), cnt in cells.items():
        hood = [
            cells[((x + dx), (y + dy))]
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            if ((x + dx), (y + dy)) in cells
        ]
        w, s = len(hood), sum(hood)
        if n < 2 or w >= n or sd == 0:
            continue
        out[(x, y)] = (s - mean * w) / (sd * math.sqrt((n * w - w * w) / (n - 1)))
    return out


def _grid_points(spark, cells, z):
    """Place cnt points at each (x, y) tile center."""
    n = float(2**z)
    rows = []
    pid = 0
    for (x, y), cnt in cells.items():
        lon = (x + 0.5) / n * 360.0 - 180.0
        lat = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * (y + 0.5) / n))))
        for _ in range(cnt):
            rows.append((pid, lon, lat))
            pid += 1
    return spark.createDataFrame(rows, "pid long, lon double, lat double")


@pytest.fixture(scope="module")
def crafted(spark):
    z = 4
    # a hot 3x3 blob, a lone cold cell, a medium pair — enough variance
    cells = {}
    for dx in range(3):
        for dy in range(3):
            cells[(5 + dx, 5 + dy)] = 9
    cells[(1, 1)] = 1
    cells[(10, 2)] = 4
    cells[(11, 2)] = 5
    df = _grid_points(spark, cells, z)
    got = {r.cell: r for r in hotspot_gi(df, z=z).collect()}
    return z, cells, got


def test_gi_matches_pure_python_reference(crafted):
    z, cells, got = crafted
    want = _gi_reference(cells)
    assert len(got) == len(want)
    for (x, y), gi in want.items():
        cell = z * 2**55 + x * 2**27 + y
        assert got[cell].gi_micro == round(gi * 1e6)
        assert got[cell].cnt == cells[(x, y)]


def test_gi_hot_center_is_hottest(crafted):
    z, cells, got = crafted
    center = z * 2**55 + 6 * 2**27 + 6  # middle of the 3x3 blob: w=9, all hot
    assert got[center].w == 9 and got[center].s == 81
    assert got[center].gi_micro == max(r.gi_micro for r in got.values())
    lone = z * 2**55 + 1 * 2**27 + 1
    assert got[lone].gi_micro < 0  # isolated below-mean cell is a cold spot


def test_gi_degenerate_universes(spark):
    # single occupied cell -> undefined everywhere -> empty result
    one = _grid_points(spark, {(3, 3): 5}, 4)
    assert hotspot_gi(one, z=4).count() == 0
    # constant counts -> sd == 0 -> empty result
    flat = _grid_points(spark, {(2, 2): 3, (9, 9): 3, (12, 4): 3}, 4)
    assert hotspot_gi(flat, z=4).count() == 0


def _trend_points(spark, series, z):
    """series: dict (x, y) -> list of per-day counts (0 = absent day)."""
    import datetime as dt

    n = float(2**z)
    rows, pid = [], 0
    for (x, y), days in series.items():
        lon = (x + 0.5) / n * 360.0 - 180.0
        lat = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * (y + 0.5) / n))))
        for day, cnt in enumerate(days):
            ts = dt.datetime(2024, 1, 1) + dt.timedelta(days=day, hours=1)
            for _ in range(cnt):
                rows.append((pid, ts, lon, lat))
                pid += 1
    return spark.createDataFrame(rows, "pid long, ts timestamp, lon double, lat double")


def _mk_reference(days):
    present = [c for c in days if c > 0]
    s = 0
    for i in range(len(present)):
        for j in range(i + 1, len(present)):
            s += (present[j] > present[i]) - (present[j] < present[i])
    return s


def test_cell_trend_matches_mann_kendall_reference(spark):
    from fagi_gis_spark.operators.hotspot import cell_trend

    z = 4
    series = {
        (2, 2): [1, 2, 3, 4, 5],          # strictly rising: S = 10
        (5, 5): [5, 4, 3, 2, 1],          # strictly falling: S = -10
        (8, 8): [3, 3, 3, 3],             # all ties: S = 0
        (10, 3): [2, 0, 5, 0, 1],         # gap days absent from the cube
        (12, 6): [7],                     # single period: S = 0
    }
    got = {r.cell: r for r in cell_trend(_trend_points(spark, series, z), z=z).collect()}
    assert len(got) == len(series)
    for (x, y), days in series.items():
        cell = z * 2**55 + x * 2**27 + y
        want = _mk_reference(days)
        r = got[cell]
        assert r.mk_s == want
        assert r.n_periods == sum(1 for c in days if c > 0)
        assert r.total == sum(days)
        assert r.trend == ("up" if want > 0 else "down" if want < 0 else "flat")


def test_gi_antimeridian_wrap(spark):
    z = 3  # 45-degree tiles: x=0 and x=7 are wrap neighbors
    cells = {(0, 3): 8, (7, 3): 8, (3, 1): 1, (4, 6): 1}
    got = {r.cell: r for r in hotspot_gi(_grid_points(spark, cells, z), z=z).collect()}
    # each of the two hot cells must see the other through the wrap
    a = z * 2**55 + 0 * 2**27 + 3
    b = z * 2**55 + 7 * 2**27 + 3
    assert got[a].w == 2 and got[a].s == 16
    assert got[b].w == 2 and got[b].s == 16


# ------------------------------------------------------------------ zonal stats
def test_zonal_stats_crafted(spark):
    import pandas as pd

    from fagi_gis_spark.operators.spatial_join import zonal_stats

    polys = pd.DataFrame(
        {
            "polygon_id": ["z_left", "z_right", "z_big"],
            "geom_wkt": [
                "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",
                "POLYGON ((3 0, 5 0, 5 2, 3 2, 3 0))",
                # z_big overlaps z_left entirely
                "POLYGON ((-1 -1, 6 -1, 6 3, -1 3, -1 -1))",
            ],
        }
    )
    pts = spark.createDataFrame(
        [
            ("p1", 1.0, 1.0, 10),
            ("p2", 1.5, 0.5, 7),
            ("p3", 4.0, 1.0, 100),
            ("p4", 40.0, 40.0, 999),  # in no zone
        ],
        "subject string, lon double, lat double, w long",
    ).repartition(3)
    out = {r.polygon_id: r for r in zonal_stats(pts, polys, value_col="w").collect()}
    assert set(out) == {"z_left", "z_right", "z_big"}
    assert (out["z_left"].n_points, out["z_left"].sum_w, out["z_left"].min_w, out["z_left"].max_w) == (2, 17, 7, 10)
    assert (out["z_right"].n_points, out["z_right"].sum_w) == (1, 100)
    # the big overlapping zone sees all three contained points
    assert (out["z_big"].n_points, out["z_big"].sum_w, out["z_big"].max_w) == (3, 117, 100)


def test_zonal_stats_count_only_and_empty(spark):
    import pandas as pd

    from fagi_gis_spark.operators.spatial_join import zonal_stats

    polys = pd.DataFrame(
        {"polygon_id": ["z"], "geom_wkt": ["POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"]}
    )
    pts = spark.createDataFrame(
        [("a", 0.5, 0.5), ("b", 0.25, 0.75), ("c", 9.0, 9.0)],
        "subject string, lon double, lat double",
    )
    out = zonal_stats(pts, polys).collect()
    assert len(out) == 1 and out[0].n_points == 2 and out[0].sum_w == 2
    none = zonal_stats(
        spark.createDataFrame([("x", 9.0, 9.0)], "subject string, lon double, lat double"),
        polys,
    ).collect()
    assert none == []


def test_gi_confidence_classes(crafted):
    from fagi_gis_spark.operators.hotspot import (
        GI_Z90_MICRO,
        GI_Z95_MICRO,
        GI_Z99_MICRO,
    )

    z, cells, got = crafted
    for r in got.values():
        g = r.gi_micro
        want = (
            "hot99" if g >= GI_Z99_MICRO
            else "hot95" if g >= GI_Z95_MICRO
            else "hot90" if g >= GI_Z90_MICRO
            else "cold99" if g <= -GI_Z99_MICRO
            else "cold95" if g <= -GI_Z95_MICRO
            else "cold90" if g <= -GI_Z90_MICRO
            else "ns"
        )
        assert r.gi_class == want
    # the crafted universe has both a significant hot center and
    # non-significant periphery
    classes = {r.gi_class for r in got.values()}
    assert any(c.startswith("hot") for c in classes) and "ns" in classes


# ------------------------------------------------------------------ Ripley's K
def test_ripleys_k_crafted_exact(spark):
    from fagi_gis_spark.operators.hotspot import ripleys_k

    # four points on a line, spaced ~55.6 m apart (0.0005 deg * 111195)
    pts = spark.createDataFrame(
        [(f"p{i}", 10.0 + i * 0.0005, 20.0) for i in range(4)],
        "subject string, lon double, lat double",
    )
    step = 0.0005 * 111195.0  # 55.5975 m
    area = 1000.0
    radii = (60.0, 120.0, 180.0)
    out = {r.radius_m: r for r in ripleys_k(pts, radii, area_m2=area).collect()}
    # pairs within 60 m: 3 adjacent; within 120 m: + 2 at 2*step; within
    # 180 m: + 1 at 3*step
    want_pairs = {60.0: 3, 120.0: 5, 180.0: 6}
    n = 4
    for r, p in want_pairs.items():
        assert out[r].n_pairs == p
        assert out[r].k_micro == round(area * 2.0 * p / (n * (n - 1.0)) * 1e6)
    assert abs(step - 55.5975) < 1e-9  # the crafted spacing assumption


def test_ripleys_k_no_pairs(spark):
    from fagi_gis_spark.operators.hotspot import ripleys_k

    pts = spark.createDataFrame(
        [("a", 0.0, 0.0), ("b", 10.0, 10.0)], "subject string, lon double, lat double"
    )
    out = ripleys_k(pts, (100.0,), area_m2=5.0).collect()
    assert len(out) == 1 and out[0].n_pairs == 0 and out[0].k_micro == 0


# ------------------------------------------------------------------ Local Moran's I
def _lisa_reference(cells):
    n = len(cells)
    mean = sum(cells.values()) / n
    m2 = sum(c * c for c in cells.values()) / n - mean * mean
    out = {}
    for (x, y), cnt in cells.items():
        hood = [
            cells[((x + dx), (y + dy))]
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0) and ((x + dx), (y + dy)) in cells
        ]
        if n < 2 or m2 <= 0 or not hood:
            continue
        w, s = len(hood), sum(hood)
        dev = cnt - mean
        lag_dev = s - mean * w
        i = dev / m2 * lag_dev
        quad = (
            "HH" if dev >= 0 and lag_dev >= 0
            else "LL" if dev < 0 and lag_dev < 0
            else "HL" if dev >= 0 else "LH"
        )
        out[(x, y)] = (round(i * 1e6), quad, w, s)
    return out


def test_local_morans_i_matches_reference_and_quadrants(spark):
    from fagi_gis_spark.operators.hotspot import local_morans_i

    z = 4
    cells = {}
    for dx in range(3):
        for dy in range(3):
            cells[(5 + dx, 5 + dy)] = 9          # hot blob -> HH inside
    cells[(6, 8)] = 1                             # low cell beside the blob -> LH
    cells[(1, 1)] = 1
    cells[(1, 2)] = 1                             # low pair far away -> LL
    cells[(10, 2)] = 20
    cells[(10, 3)] = 1                            # high outlier next to low -> HL
    got = {
        r.cell: r
        for r in local_morans_i(_grid_points(spark, cells, z), z=z).collect()
    }
    want = _lisa_reference(cells)
    assert len(got) == len(want)
    for (x, y), (i_micro, quad, w, s) in want.items():
        r = got[z * 2**55 + x * 2**27 + y]
        assert (r.i_micro, r.quadrant, r.w, r.s) == (i_micro, quad, w, s)
    # the expected quadrant mix is present
    quads = {r.quadrant for r in got.values()}
    assert {"HH", "LL", "LH", "HL"} <= quads


def test_local_morans_i_isolated_cell_excluded(spark):
    from fagi_gis_spark.operators.hotspot import local_morans_i

    cells = {(2, 2): 5, (9, 9): 1}  # far apart: no neighbors -> no lag
    out = local_morans_i(_grid_points(spark, cells, 4), z=4).collect()
    assert out == []


# ------------------------------------------------------- emerging hot spots
def test_emerging_hotspots_matches_composed_reference(spark):
    """Pure-Python replay of the whole pipeline: per-day Gi* over the
    day's occupied cells (reusing _gi_reference), quantize to micro-z,
    Mann-Kendall over each cell's series."""
    from fagi_gis_spark.operators.hotspot import emerging_hotspots

    z = 4
    # day -> dict of (x, y) -> cnt: a growing 3-cell hot row, a static
    # blob, a fading cell, plus background cells so moments vary
    days = []
    for t in range(5):
        day = {(2, 2): 1 + 2 * t, (3, 2): 1 + 2 * t, (2, 3): 1 + t}  # intensifying
        day[(8, 8)] = 6
        day[(9, 8)] = 6                                               # static pair
        day[(12, 4)] = max(1, 10 - 3 * t)                             # fading
        day[(14, 14)] = 1
        day[(0, 10)] = 2                                              # background
        days.append(day)

    import datetime as dt

    rows, pid = [], 0
    n = float(2**z)
    for t, cells in enumerate(days):
        ts = dt.datetime(2024, 3, 1) + dt.timedelta(days=t, hours=3)
        for (x, y), cnt in cells.items():
            lon = (x + 0.5) / n * 360.0 - 180.0
            lat = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * (y + 0.5) / n))))
            for _ in range(cnt):
                rows.append((pid, ts, lon, lat))
                pid += 1
    pts = spark.createDataFrame(rows, "pid long, ts timestamp, lon double, lat double")
    got = {r.cell: r for r in emerging_hotspots(pts, z=z).collect()}

    series: dict[tuple[int, int], list[int]] = {}
    for cells in days:
        gis = _gi_reference(cells)
        for xy, gi in gis.items():
            series.setdefault(xy, []).append(round(gi * 1e6))
    assert len(got) == len(series)
    for (x, y), gs in series.items():
        r = got[z * 2**55 + x * 2**27 + y]
        s = sum(
            (gs[j] > gs[i]) - (gs[j] < gs[i])
            for i in range(len(gs))
            for j in range(i + 1, len(gs))
        )
        assert (r.n_periods, r.sum_gi_micro, r.mk_s) == (len(gs), sum(gs), s)
        assert r.trend == ("up" if s > 0 else "down" if s < 0 else "flat")
    # the crafted intent is realized: intensifying row trends up with a
    # positive mean Gi*, the fading cell trends down
    hot = got[z * 2**55 + 2 * 2**27 + 2]
    assert hot.trend == "up" and hot.sum_gi_micro > 0
    assert got[z * 2**55 + 12 * 2**27 + 4].trend == "down"


# -------------------------------------------------------------------------
# interpolation at sites (operators/interpolate.py)
# -------------------------------------------------------------------------


def _interp_fixture(spark):
    """Two donor points, three sites: one site exactly collocated with a
    donor (d=0 -> the 1 m Shepard clamp), one mid-range, one isolated
    (no donor within 150 m)."""
    donors = spark.createDataFrame(
        [("a1", 10.0, 50.0, 20), ("a2", 10.001, 50.0, 80)],
        "subject string, lon double, lat double, k int",
    )
    sites = spark.createDataFrame(
        [("b1", 10.0, 50.0), ("b2", 10.0005, 50.0), ("b3", 11.0, 50.0)],
        "subject string, lon double, lat double",
    )
    from fagi_gis_spark.operators.spatial_join import radius_join

    pairs = radius_join(donors, sites, 150.0)
    return donors, sites, pairs


def test_idw_collocation_clamp_and_weighted_mean(spark):
    """d=0 clamps to 1 m (weight 1e9, finite); the mid-site's value is
    the exact integer-weighted mean of both donors."""
    import pyspark.sql.functions as F

    from fagi_gis_spark.operators.interpolate import idw_at_sites

    donors, sites, pairs = _interp_fixture(spark)
    vals = donors.select(
        F.col("subject").alias("l_key"), (F.col("k") % 100).alias("v")
    )
    got = {r.site: r for r in idw_at_sites(pairs, vals).collect()}
    assert "b3" not in got  # no donor in radius -> undefined, omitted
    # b1 sits on a1 (v=20, clamped w=1e9) and ~111.2m from a2 (v=80)
    d2 = 0.001 * 111195.0
    w1, w2 = round(1e9 / (1.0 * 1.0)), round(1e9 / (max(d2, 1.0) ** 2))
    exp = round((w1 * 20 + w2 * 80) / (w1 + w2) * 1e6)
    assert got["b1"].n_nbrs == 2 and got["b1"].idw_e6 == exp
    # b2 is between both donors; replay the same quantized math
    da = 0.0005 * 111195.0
    db = 0.0005 * 111195.0
    wa, wb = round(1e9 / da**2), round(1e9 / db**2)
    expb = round((wa * 20 + wb * 80) / (wa + wb) * 1e6)
    assert got["b2"].idw_e6 == expb


def test_kde_zero_neighbor_site_is_zero_density(spark):
    """KDE is defined everywhere: the isolated site emits (0, 0); the
    collocated site's density replays the scalar quartic kernel."""
    from fagi_gis_spark.operators.interpolate import kde_at_sites, kde_kconst

    donors, sites, pairs = _interp_fixture(spark)
    got = {r.site: r for r in kde_at_sites(pairs, sites, 150.0).collect()}
    assert set(got) == {"b1", "b2", "b3"}
    assert got["b3"].n_nbrs == 0 and got["b3"].density_e12 == 0
    d2 = 0.001 * 111195.0
    wq = round((1.0 - (0.0 / 150.0) ** 2) ** 2 * 1e9) + round(
        (1.0 - (d2 / 150.0) * (d2 / 150.0)) ** 2 * 1e9
    )
    assert got["b1"].n_nbrs == 2
    assert got["b1"].density_e12 == round(wq * kde_kconst(150.0))
