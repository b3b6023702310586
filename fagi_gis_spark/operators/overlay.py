"""Polygon overlay: intersection-area join of footprints against zones.

The classic vector-overlay conflation measure — "how much do the
footprints actually overlap" — which the reference approximates with
point distance only (FindLinkServlet radius probes); PostGIS users do
``ST_Area(ST_Intersection(a, b))``.  Spark-first shape: the small zone
dimension broadcasts into every Arrow batch, each footprint's bbox
screens the zones, and only the hits pay a Sutherland–Hodgman clip
(subject ring against a CONVEX clip ring) that emits the intersection
area on an integer lattice.

Area parity contract: clipped vertices are quantized half-up
(``floor(v * 1e6 + 0.5)``) to int64 micro-degrees BEFORE the shoelace
sum, and the emitted value is the TWICE-area (the raw integer shoelace
absolute sum) — exact integer arithmetic end-to-end, so DuckDB can
replay axis-aligned fixtures closed-form (``2 * overlap_w * overlap_h``)
with no float tolerance.  Axis-aligned clip edges assign the clipped
coordinate directly from the edge constant (not via the interpolation
formula), so rect∩rect corners are bit-exact min/max of the inputs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

__all__ = [
    "convex_clip",
    "quantized_twice_area",
    "overlay_zones_join",
]


def _ccw(ring: np.ndarray) -> np.ndarray:
    """Ensure counter-clockwise orientation (positive shoelace)."""
    x, y = ring[:, 0], ring[:, 1]
    if np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y) < 0:
        return ring[::-1]
    return ring


def convex_clip(subject: np.ndarray, clip: np.ndarray) -> np.ndarray:
    """Sutherland–Hodgman: clip ``subject`` (any simple ring, (n,2),
    open — no repeated last vertex) by ``clip`` (must be CONVEX).
    Returns the intersection ring (possibly empty).  Points exactly on
    a clip edge count as inside, so touching-only results come back as
    degenerate (zero-area) rings — filter on area, not emptiness.

    Axis-aligned clip edges write the edge constant straight into the
    intersection vertex (a vertical edge x=c yields ix == c exactly;
    the general interpolation form ``x1 + t*(x2-x1)`` lands 1 ulp off),
    which is what makes the quantized-lattice parity contract exact."""
    out = _ccw(np.asarray(subject, dtype=np.float64))
    cp = _ccw(np.asarray(clip, dtype=np.float64))
    m = len(cp)
    for i in range(m):
        if len(out) == 0:
            break
        x1, y1 = cp[i]
        x2, y2 = cp[(i + 1) % m]
        ex, ey = x2 - x1, y2 - y1
        prev = out[-1]
        side_prev = ex * (prev[1] - y1) - ey * (prev[0] - x1)
        nxt: list[np.ndarray] = []
        for cur in out:
            side_cur = ex * (cur[1] - y1) - ey * (cur[0] - x1)
            if (side_cur >= 0) != (side_prev >= 0):  # edge crossing
                if ex == 0.0:  # vertical clip edge: x is exactly x1
                    t = (x1 - prev[0]) / (cur[0] - prev[0])
                    nxt.append(np.array([x1, prev[1] + t * (cur[1] - prev[1])]))
                elif ey == 0.0:  # horizontal clip edge: y is exactly y1
                    t = (y1 - prev[1]) / (cur[1] - prev[1])
                    nxt.append(np.array([prev[0] + t * (cur[0] - prev[0]), y1]))
                else:
                    dx, dy = cur[0] - prev[0], cur[1] - prev[1]
                    t = (ey * (prev[0] - x1) - ex * (prev[1] - y1)) / (ex * dy - ey * dx)
                    nxt.append(prev + t * np.array([dx, dy]))
            if side_cur >= 0:
                nxt.append(cur)
            prev, side_prev = cur, side_cur
        out = np.array(nxt) if nxt else np.empty((0, 2))
    return out


def quantized_twice_area(ring: np.ndarray, scale: float = 1e6) -> int:
    """|integer shoelace| of the ring quantized half-up to the
    ``1/scale`` lattice: exactly ``2 * area`` in lattice-unit² when the
    vertices sit on the lattice (1 ulp of float noise away), and the
    value both engines can agree on bit-for-bit."""
    if len(ring) < 3:
        return 0
    q = np.floor(np.asarray(ring, dtype=np.float64) * scale + 0.5).astype(np.int64)
    x, y = q[:, 0], q[:, 1]
    return int(abs(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y)))


def overlay_zones_join(
    footprints: DataFrame,
    zones_pdf: "pd.DataFrame",
    scale: float = 2e6,
) -> DataFrame:
    """(subject, polygon_id, area2): each POLYGON footprint against every
    zone of a small broadcast polygon dimension (``zones_pdf``:
    polygon_id, geom_wkt — the zonal_stats admin layer shape), keeping
    pairs with positive intersection area.  ``area2`` is the TWICE-area
    in lattice-unit² at ``scale`` (default: half-micro-degrees, where
    both the footprint corners and the deliberately half-unit-offset
    admin corners land exactly on integers — see the registry oracle).

    Scale shape: the zone dimension rides into every Arrow batch as
    numpy arrays (a few hundred rects + rings); footprints NEVER
    shuffle — candidates per row come from one vectorized bbox test,
    then only actual hits pay the Sutherland-Hodgman clip.  Zones must
    be convex (the S-H clip contract; enforced once, driver-side)."""
    from fagi_gis_spark.geometry.wkt import parse_wkt

    zids: list[str] = []
    zrings: list[np.ndarray] = []
    for pid, wkt in zip(zones_pdf["polygon_id"], zones_pdf["geom_wkt"]):
        g = parse_wkt(wkt)
        ring = np.asarray(g.data[0][:-1], dtype=np.float64)
        _assert_convex(ring)
        zids.append(str(pid))
        zrings.append(ring)
    zx1 = np.array([r[:, 0].min() for r in zrings])
    zx2 = np.array([r[:, 0].max() for r in zrings])
    zy1 = np.array([r[:, 1].min() for r in zrings])
    zy2 = np.array([r[:, 1].max() for r in zrings])

    def op(batches):
        for pdf in batches:
            subj: list[str] = []
            pids: list[str] = []
            areas: list[int] = []
            for s, w in zip(pdf["subject"], pdf["geom_wkt"]):
                if not str(w).startswith("POLYGON"):
                    continue
                ring = parse_wkt(w).data[0][:-1]
                fx1, fy1 = ring[:, 0].min(), ring[:, 1].min()
                fx2, fy2 = ring[:, 0].max(), ring[:, 1].max()
                hits = np.nonzero(
                    (fx1 < zx2) & (fx2 > zx1) & (fy1 < zy2) & (fy2 > zy1)
                )[0]
                for h in hits:
                    a2 = quantized_twice_area(convex_clip(ring, zrings[h]), scale)
                    if a2 > 0:
                        subj.append(s)
                        pids.append(zids[h])
                        areas.append(a2)
            yield pd.DataFrame(
                {
                    "subject": pd.Series(subj, dtype="object"),
                    "polygon_id": pd.Series(pids, dtype="object"),
                    "area2": pd.Series(areas, dtype="int64"),
                }
            )

    return footprints.select("subject", "geom_wkt").mapInPandas(
        op, schema="subject string, polygon_id string, area2 long"
    )


def _assert_convex(ring: np.ndarray) -> None:
    r = np.asarray(ring, dtype=np.float64)
    nxt = np.roll(r, -1, axis=0)
    nxt2 = np.roll(r, -2, axis=0)
    cross = (nxt[:, 0] - r[:, 0]) * (nxt2[:, 1] - nxt[:, 1]) - (
        nxt[:, 1] - r[:, 1]
    ) * (nxt2[:, 0] - nxt[:, 0])
    if np.any(cross > 0) and np.any(cross < 0):
        raise ValueError("clip ring must be convex for Sutherland-Hodgman")
