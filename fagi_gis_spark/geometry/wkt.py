"""WKT parse / canonical format.

The reference stores geometry as PostGIS `GEOMETRY` and compares /
concatenates WKT text (e.g. GEOMETRYCOLLECTION string build,
`/root/reference/fagi-gis/src/main/java/gr/athenainnovation/imis/fusion/gis/geotransformations/Concatenation.java:68`).
We define ONE canonical text form (6-decimal fixed point, PostGIS-like
spacing) so join keys / parity checks are bit-stable across engines:
Python ``format`` and DuckDB ``printf`` both round half-even.

Internal representation — ``Geom(gtype, data)``:

=================== =========================================
POINT               ndarray (1, 2)
MULTIPOINT          ndarray (n, 2)
LINESTRING          ndarray (n, 2)
MULTILINESTRING     list[ndarray (n, 2)]
POLYGON             list[ndarray (n, 2)]  (rings; exterior first, closed)
MULTIPOLYGON        list[list[ndarray]]
GEOMETRYCOLLECTION  list[Geom]
=================== =========================================
"""

from __future__ import annotations

import re
from typing import NamedTuple

import numpy as np

_TYPES = (
    "GEOMETRYCOLLECTION",
    "MULTIPOLYGON",
    "MULTILINESTRING",
    "MULTIPOINT",
    "POLYGON",
    "LINESTRING",
    "POINT",
)

class Geom(NamedTuple):
    gtype: str
    data: object  # see module docstring

    def __repr__(self) -> str:  # pragma: no cover
        return f"Geom({format_wkt(self)})"


_NUM = re.compile(r"[-+]?\d*\.?\d+(?:[eE][-+]?\d+)?")


class _Cursor:
    __slots__ = ("s", "i")

    def __init__(self, s: str):
        self.s = s
        self.i = 0

    def skip_ws(self):
        while self.i < len(self.s) and self.s[self.i] in " \t\n\r":
            self.i += 1

    def expect(self, ch: str):
        self.skip_ws()
        if self.i >= len(self.s) or self.s[self.i] != ch:
            raise ValueError(f"WKT parse error at {self.i} in {self.s[:80]!r}: expected {ch!r}")
        self.i += 1

    def peek(self) -> str:
        self.skip_ws()
        return self.s[self.i] if self.i < len(self.s) else ""


def _parse_coords(cur: _Cursor) -> np.ndarray:
    """Parse '(x y, x y, ...)' into (n,2)."""
    cur.expect("(")
    pts = []
    while True:
        cur.skip_ws()
        m = _NUM.match(cur.s, cur.i)
        if not m:
            raise ValueError(f"WKT: number expected at {cur.i} in {cur.s[:80]!r}")
        x = float(m.group())
        cur.i = m.end()
        cur.skip_ws()
        m = _NUM.match(cur.s, cur.i)
        if not m:
            raise ValueError(f"WKT: y expected at {cur.i} in {cur.s[:80]!r}")
        y = float(m.group())
        cur.i = m.end()
        pts.append((x, y))
        ch = cur.peek()
        if ch == ",":
            cur.i += 1
            continue
        cur.expect(")")
        break
    return np.asarray(pts, dtype=np.float64)


def _parse_ring_list(cur: _Cursor) -> list:
    cur.expect("(")
    rings = []
    while True:
        rings.append(_parse_coords(cur))
        ch = cur.peek()
        if ch == ",":
            cur.i += 1
            continue
        cur.expect(")")
        break
    return rings


def _parse_body(cur: _Cursor, gtype: str) -> Geom:
    if gtype == "POINT":
        return Geom("POINT", _parse_coords(cur))
    if gtype == "LINESTRING":
        return Geom("LINESTRING", _parse_coords(cur))
    if gtype == "POLYGON":
        return Geom("POLYGON", _parse_ring_list(cur))
    if gtype == "MULTIPOINT":
        # both 'MULTIPOINT (1 2, 3 4)' and 'MULTIPOINT ((1 2), (3 4))'
        cur.expect("(")
        pts = []
        while True:
            if cur.peek() == "(":
                inner = _parse_coords(cur)
                pts.extend(inner.tolist())
            else:
                m = _NUM.match(cur.s, cur.i)
                x = float(m.group()); cur.i = m.end()
                cur.skip_ws()
                m = _NUM.match(cur.s, cur.i)
                y = float(m.group()); cur.i = m.end()
                pts.append([x, y])
            ch = cur.peek()
            if ch == ",":
                cur.i += 1
                continue
            cur.expect(")")
            break
        return Geom("MULTIPOINT", np.asarray(pts, dtype=np.float64))
    if gtype == "MULTILINESTRING":
        return Geom("MULTILINESTRING", _parse_ring_list(cur))
    if gtype == "MULTIPOLYGON":
        cur.expect("(")
        polys = []
        while True:
            polys.append(_parse_ring_list(cur))
            ch = cur.peek()
            if ch == ",":
                cur.i += 1
                continue
            cur.expect(")")
            break
        return Geom("MULTIPOLYGON", polys)
    if gtype == "GEOMETRYCOLLECTION":
        cur.expect("(")
        geoms = []
        while True:
            geoms.append(_parse_geom(cur))
            ch = cur.peek()
            if ch == ",":
                cur.i += 1
                continue
            cur.expect(")")
            break
        return Geom("GEOMETRYCOLLECTION", geoms)
    raise ValueError(f"unknown WKT type {gtype!r}")


def _parse_geom(cur: _Cursor) -> Geom:
    cur.skip_ws()
    up = cur.s[cur.i : cur.i + 20].upper()
    for t in _TYPES:
        if up.startswith(t):
            cur.i += len(t)
            return _parse_body(cur, t)
    raise ValueError(f"WKT: no geometry type at {cur.i} in {cur.s[:80]!r}")


def parse_wkt(s: str) -> Geom | None:
    """Parse a WKT string; returns None for null/empty input."""
    if s is None:
        return None
    s = s.strip()
    if not s or s.upper().endswith("EMPTY"):
        return None
    return _parse_geom(_Cursor(s))


def _fmt_num(x: float, prec: int) -> str:
    return f"{x:.{prec}f}"


def _fmt_coords(a: np.ndarray, prec: int) -> str:
    return ", ".join(f"{_fmt_num(x, prec)} {_fmt_num(y, prec)}" for x, y in a)


def format_wkt(g: Geom | None, prec: int = 6) -> str | None:
    """Canonical WKT text (see module docstring)."""
    if g is None:
        return None
    t, d = g.gtype, g.data
    if t == "POINT":
        return f"POINT ({_fmt_coords(d, prec)})"
    if t == "LINESTRING":
        return f"LINESTRING ({_fmt_coords(d, prec)})"
    if t == "MULTIPOINT":
        inner = ", ".join(f"({_fmt_coords(d[i : i + 1], prec)})" for i in range(len(d)))
        return f"MULTIPOINT ({inner})"
    if t == "POLYGON":
        inner = ", ".join(f"({_fmt_coords(r, prec)})" for r in d)
        return f"POLYGON ({inner})"
    if t == "MULTILINESTRING":
        inner = ", ".join(f"({_fmt_coords(r, prec)})" for r in d)
        return f"MULTILINESTRING ({inner})"
    if t == "MULTIPOLYGON":
        inner = ", ".join(
            "(" + ", ".join(f"({_fmt_coords(r, prec)})" for r in rings) + ")" for rings in d
        )
        return f"MULTIPOLYGON ({inner})"
    if t == "GEOMETRYCOLLECTION":
        inner = ", ".join(format_wkt(c, prec) for c in d)
        return f"GEOMETRYCOLLECTION ({inner})"
    raise ValueError(t)


def all_coords(g: Geom) -> np.ndarray:
    """All vertices of a geometry as one (n,2) array (closing points included,
    matching PostGIS ST_NPoints semantics for rings)."""
    t, d = g.gtype, g.data
    if t in ("POINT", "LINESTRING", "MULTIPOINT"):
        return d
    if t in ("POLYGON", "MULTILINESTRING"):
        return np.concatenate(d) if d else np.empty((0, 2))
    if t == "MULTIPOLYGON":
        rings = [r for poly in d for r in poly]
        return np.concatenate(rings) if rings else np.empty((0, 2))
    if t == "GEOMETRYCOLLECTION":
        parts = [all_coords(c) for c in d]
        return np.concatenate(parts) if parts else np.empty((0, 2))
    raise ValueError(t)


def map_coords(g: Geom, fn) -> Geom:
    """Structure-preserving coordinate transform: fn((n,2)) -> (n,2)."""
    t, d = g.gtype, g.data
    if t in ("POINT", "LINESTRING", "MULTIPOINT"):
        return Geom(t, fn(d))
    if t in ("POLYGON", "MULTILINESTRING"):
        return Geom(t, [fn(r) for r in d])
    if t == "MULTIPOLYGON":
        return Geom(t, [[fn(r) for r in poly] for poly in d])
    if t == "GEOMETRYCOLLECTION":
        return Geom(t, [map_coords(c, fn) for c in d])
    raise ValueError(t)
