"""Vectorized point-in-polygon (ray casting) + a tiny in-memory cell-bucketed
polygon index.

Replaces the reference's GiST-index + ``ST_Intersects/ST_Contains`` lookups
(/root/reference/fagi-gis/src/main/resources/schema.sql:38-39;
clustering coverage feature GeoClusterer.java:326-354) and is the refine
step of the engine's point-in-polygon join: cells prune candidates, this
kernel gives the exact answer. Built to be called per Arrow batch inside a
pandas UDF — points are numpy arrays, never Python loops over rows.
"""

from __future__ import annotations

import numpy as np

from fagi_gis_spark.geometry.wkt import Geom


def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Ray-casting crossing test of n points against one closed ring.
    Boundary points follow the half-open edge convention (deterministic,
    not symmetric — fine for tiling/assignment use)."""
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    inside = np.zeros(px.shape[0], dtype=bool)
    for i in range(len(x1)):
        cond = (y1[i] > py) != (y2[i] > py)
        if not cond.any():
            continue
        xint = (x2[i] - x1[i]) * (py - y1[i]) / (y2[i] - y1[i]) + x1[i]
        inside ^= cond & (px < xint)
    return inside


def points_in_polygon(px: np.ndarray, py: np.ndarray, poly: Geom) -> np.ndarray:
    """Exact containment of points in a POLYGON/MULTIPOLYGON Geom."""
    if poly.gtype == "POLYGON":
        ringsets = [poly.data]
    elif poly.gtype == "MULTIPOLYGON":
        ringsets = poly.data
    else:
        raise ValueError(f"not an areal geometry: {poly.gtype}")
    out = np.zeros(px.shape[0], dtype=bool)
    for rings in ringsets:
        inside = points_in_ring(px, py, rings[0])
        for hole in rings[1:]:
            inside &= ~points_in_ring(px, py, hole)
        out |= inside
    return out


class PolygonIndex:
    """Picklable polygon set with a uniform-grid candidate index.

    The polygon layer in this engine is the *small* join side (admin/tile
    polygons): it is built once on the driver, shipped to executors in the
    UDF closure, and probed per Arrow batch — the big point table never shuffles. This is
    the Spark-native replacement for the reference's server-side GiST index.
    """

    def __init__(self, ids: list, geoms: list[Geom], nx: int = 64, ny: int = 64):
        self.ids = list(ids)
        self.geoms = list(geoms)
        boxes = []
        for g in geoms:
            from fagi_gis_spark.geometry.measures import bbox

            boxes.append(bbox(g))
        self.boxes = np.asarray(boxes, dtype=np.float64)  # (m,4) minx,miny,maxx,maxy
        self.minx = float(self.boxes[:, 0].min())
        self.miny = float(self.boxes[:, 1].min())
        self.maxx = float(self.boxes[:, 2].max())
        self.maxy = float(self.boxes[:, 3].max())
        self.nx, self.ny = nx, ny
        self.sx = (self.maxx - self.minx) / nx or 1.0
        self.sy = (self.maxy - self.miny) / ny or 1.0
        self.grid: dict[tuple[int, int], list[int]] = {}
        for k, b in enumerate(self.boxes):
            ix0 = int((b[0] - self.minx) / self.sx)
            ix1 = int((b[2] - self.minx) / self.sx)
            iy0 = int((b[1] - self.miny) / self.sy)
            iy1 = int((b[3] - self.miny) / self.sy)
            for ix in range(max(ix0, 0), min(ix1, self.nx - 1) + 1):
                for iy in range(max(iy0, 0), min(iy1, self.ny - 1) + 1):
                    self.grid.setdefault((ix, iy), []).append(k)

    def query_batch(self, px: np.ndarray, py: np.ndarray) -> list[list]:
        """For each point, the ids of containing polygons (possibly several —
        overlap cases are kept, as the reference keeps ambiguous bbox hits)."""
        result: list[list] = [[] for _ in range(px.shape[0])]
        pi, ki = self.query_batch_flat(px, py)
        for j, k in zip(pi.tolist(), ki.tolist()):
            result[j].append(self.ids[k])
        return result

    def query_batch_flat(
        self, px: np.ndarray, py: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray]:
        """Hits as flat parallel arrays ``(point_index, polygon_slot)`` —
        the vectorized probe surface: callers expand to rows with a
        single fancy-index per batch instead of a per-hit Python loop."""
        idx_chunks: list[np.ndarray] = []
        poly_chunks: list[np.ndarray] = []
        ix = np.clip(((px - self.minx) / self.sx).astype(np.int64), 0, self.nx - 1)
        iy = np.clip(((py - self.miny) / self.sy).astype(np.int64), 0, self.ny - 1)
        inb = (px >= self.minx) & (px <= self.maxx) & (py >= self.miny) & (py <= self.maxy)
        # group points by grid cell, then test each candidate polygon once
        # per cell-group (vectorized over the group's points)
        order = np.lexsort((iy, ix))
        gx, gy = ix[order], iy[order]
        start = 0
        m = order.shape[0]
        while start < m:
            end = start
            cx, cy = gx[start], gy[start]
            while end < m and gx[end] == cx and gy[end] == cy:
                end += 1
            sel = order[start:end]
            sel = sel[inb[sel]]
            if sel.size:
                for k in self.grid.get((int(cx), int(cy)), ()):  # candidates
                    b = self.boxes[k]
                    sub = sel[
                        (px[sel] >= b[0]) & (px[sel] <= b[2]) & (py[sel] >= b[1]) & (py[sel] <= b[3])
                    ]
                    if sub.size:
                        hit = points_in_polygon(px[sub], py[sub], self.geoms[k])
                        w = sub[hit]
                        if w.size:
                            idx_chunks.append(w)
                            poly_chunks.append(np.full(w.size, k, dtype=np.int64))
            start = end
        if not idx_chunks:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        return np.concatenate(idx_chunks), np.concatenate(poly_chunks)
