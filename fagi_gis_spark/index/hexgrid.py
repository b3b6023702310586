"""``hex7`` — aperture-7 hexagonal hierarchy (res 0-15). NOT H3.

The north star names H3 (res 7-11) alongside S2.  This module provides
the H3 *semantics* — a hexagonal multi-resolution grid where each
resolution is an aperture-7 refinement (7x cell count, linear size /
sqrt(7), lattice rotated arctan(sqrt(3)/5) ~= 19.1 deg per res, exactly
H3's Class-II/III alternation geometry) with hex cube-rounding for
point assignment, parent/child rollup, and k-ring neighborhoods — over
a planar lon/lat chart.  Uber H3's icosahedral gnomonic faces and
122-base-cell tables are a documented sandbox boundary (the h3 library
is absent, so bit-parity could not be verified anyway); cell ids are
NOT bit-compatible with libh3 — and to make that impossible to miss the
index is NAMED ``hex7`` everywhere it surfaces: every emitted cell-id
column is ``cell_hex7`` / ``cell_hex7_r<res>`` (never ``h3``), so an id
can never be mistaken for one an H3 ecosystem tool could parse.  (The
S2 side, by contrast, IS the real curve — pinned to published-table
anchors in tests/test_cell_indexes.py.)  Public references: the H3 docs
(h3geo.org/docs/core-library/overview: aperture-7 rotation) and the
standard axial/cube hex-grid algorithms (Patel, "Hexagonal Grids").

Geometry: axial coordinates (q, r) with a flat-top basis at res 0
  plane = M0 . (q, r),   M0 = S0 * [[3/2, 0], [sqrt(3)/2, sqrt(3)]]
and per-res basis M_{res} = M0 . Ainv^res where
  Ainv = [[2, -1], [1, 3]] / 7        (det = 1/7 -> aperture 7).
A = [[3, 1], [-1, 2]] is the index-7 sublattice matrix: a child cell's
parent is ``hex_round(Ainv . child_axial)`` (i.e. axial coords in the
coarser lattice), and every parent has exactly 7 "center-closest"
children on average.

Everything here is closed-form arithmetic (no trig) with three twins of
the same formula, like index/tiles.py: numpy (``hex_cell_np``), Spark
Column expressions for whole-stage codegen (``hex_cell_col``), and SQL
text the DuckDB oracle replays bit-for-bit (``hex_cell_sql``).

Cell id packing (int64): res << 56 | (q + 2^27) << 28 | (r + 2^27),
valid for |q|,|r| < 2^27 (true globally through res 15 at S0 = 12 deg).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

SQRT3 = float(np.sqrt(3.0))
S0 = 12.0  # res-0 hex circumradius in degrees (≈1330 km — H3 res-0 scale)
MAX_RES = 15
_OFF = 1 << 27

# res-0 flat-top axial basis and its inverse
_M0 = np.array([[1.5 * S0, 0.0], [0.5 * SQRT3 * S0, SQRT3 * S0]])
_A = np.array([[3.0, 1.0], [-1.0, 2.0]])  # parent-lattice matrix, det 7
_AINV = np.array([[2.0, -1.0], [1.0, 3.0]]) / 7.0


def _basis_inv(res: int) -> np.ndarray:
    """Inverse of M_res = M0 . Ainv^res, computed as A^res . M0^{-1} so
    every engine/oracle path multiplies the same exact constants."""
    m = np.linalg.inv(_M0)
    for _ in range(res):
        m = _A @ m
    return m


def hex_round_np(qf: np.ndarray, rf: np.ndarray):
    """Cube rounding (axial -> nearest hex center), the standard
    largest-residual correction.  Rounding is floor(x + 0.5) — HALF-UP,
    the ONE rule every hex-id surface shares (JVM column math in
    hex_round_cols, this numpy path, and the DuckDB
    oracle replay in hex_round_sql), so the same point gets the same
    cell id from every engine path, including exact-tie boundary
    points.  Half-up is the rule because the JVM side must avoid
    Spark's BigDecimal-routed bround (measured ~45% slower), and
    floor(x+0.5) is codegen-friendly there."""
    sf = -qf - rf
    q = np.floor(qf + 0.5)
    r = np.floor(rf + 0.5)
    s = np.floor(sf + 0.5)
    dq = np.abs(q - qf)
    dr = np.abs(r - rf)
    ds = np.abs(s - sf)
    q_fix = (dq > dr) & (dq > ds)
    r_fix = ~q_fix & (dr > ds)
    q = np.where(q_fix, -r - s, q)
    r = np.where(r_fix, -q - s, r)
    return q.astype(np.int64), r.astype(np.int64)


def hex_cell_np(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Hex cell id at ``res`` for lon/lat degrees (planar chart)."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    inv = _basis_inv(res)
    x = np.asarray(lon, dtype=np.float64)
    y = np.asarray(lat, dtype=np.float64)
    qf = inv[0, 0] * x + inv[0, 1] * y
    rf = inv[1, 0] * x + inv[1, 1] * y
    q, r = hex_round_np(qf, rf)
    return pack_hex(q, r, res)


def pack_hex(q: np.ndarray, r: np.ndarray, res: int) -> np.ndarray:
    if np.any((np.abs(q) >= _OFF) | (np.abs(r) >= _OFF)):
        raise ValueError("axial coordinate out of 27-bit packing range")
    return (
        (np.int64(res) << np.int64(56))
        | ((q + _OFF).astype(np.int64) << np.int64(28))
        | (r + _OFF).astype(np.int64)
    )


def unpack_hex(cell: np.ndarray):
    c = np.asarray(cell, dtype=np.int64)
    res = (c >> np.int64(56)).astype(np.int64)
    q = ((c >> np.int64(28)) & np.int64((1 << 28) - 1)) - _OFF
    r = (c & np.int64((1 << 28) - 1)) - _OFF
    return q, r, res


def hex_parent_np(cell: np.ndarray, parent_res: int | None = None) -> np.ndarray:
    """Parent cell: axial coords re-expressed in the coarser (aperture-7
    rotated) lattice, hex-rounded.  Default: one res up."""
    q, r, res = unpack_hex(cell)
    res_scalar = int(res.flat[0]) if res.size else 0
    if res.size and not (res == res_scalar).all():
        raise ValueError("hex_parent_np requires uniform-resolution cells")
    if parent_res is None:
        parent_res = res_scalar - 1
    if parent_res < 0 or parent_res > res_scalar:
        raise ValueError("parent_res must be in [0, res]")
    qf = q.astype(np.float64)
    rf = r.astype(np.float64)
    for _ in range(res_scalar - parent_res):
        qf, rf = (
            _AINV[0, 0] * qf + _AINV[0, 1] * rf,
            _AINV[1, 0] * qf + _AINV[1, 1] * rf,
        )
        qi, ri = hex_round_np(qf, rf)
        qf, rf = qi.astype(np.float64), ri.astype(np.float64)
    return pack_hex(qf.astype(np.int64), rf.astype(np.int64), parent_res)


def hex_center_np(cell: np.ndarray):
    """Cell center (lon, lat) in degrees: plane = M0 . Ainv^res . axial."""
    q, r, res = unpack_hex(cell)
    res_scalar = int(res.flat[0]) if res.size else 0
    if res.size and not (res == res_scalar).all():
        raise ValueError("hex_center_np requires uniform-resolution cells")
    m = _M0.copy()
    for _ in range(res_scalar):
        m = m @ _AINV
    qf = q.astype(np.float64)
    rf = r.astype(np.float64)
    return m[0, 0] * qf + m[0, 1] * rf, m[1, 0] * qf + m[1, 1] * rf


def grid_disk(q: int, r: int, k: int) -> list[tuple[int, int]]:
    """All axial cells within hex distance k (H3 gridDisk / kRing):
    the neighborhood primitive for hex ring-expansion joins."""
    out = []
    for dq in range(-k, k + 1):
        for dr in range(max(-k, -dq - k), min(k, -dq + k) + 1):
            out.append((q + dq, r + dr))
    return out


def hex_distance_np(cell_a: np.ndarray, cell_b: np.ndarray) -> np.ndarray:
    """Hex (cube) distance between same-res cells."""
    qa, ra, _ = unpack_hex(cell_a)
    qb, rb, _ = unpack_hex(cell_b)
    dq = qa - qb
    dr = ra - rb
    return (np.abs(dq) + np.abs(dr) + np.abs(dq + dr)) // 2


# --------------------------------------------------------------------------
# Spark Column twins (JVM, whole-stage codegen — the hot path)
# --------------------------------------------------------------------------

def hex_round_cols(qf: Column, rf: Column) -> tuple[Column, Column]:
    """hex_round_np as JVM columns: the same floor(x + 0.5) half-up
    rule, so every Spark hex id agrees with the numpy and SQL twins,
    exact-tie boundary points included.  Not bround(): Spark routes
    every bround call through BigDecimal (measured ~45% slower
    end-to-end with 6 rounds per row)."""
    sf = -qf - rf
    q0, r0, s0 = (F.floor(c + F.lit(0.5)).cast("double") for c in (qf, rf, sf))
    dq, dr, ds = F.abs(q0 - qf), F.abs(r0 - rf), F.abs(s0 - sf)
    q_fix = (dq > dr) & (dq > ds)
    r_fix = (~q_fix) & (dr > ds)
    q1 = F.when(q_fix, -r0 - s0).otherwise(q0).cast("long")
    r1 = F.when(r_fix, -q0 - s0).otherwise(r0).cast("long")
    return q1, r1


def hex_axial_cols(lon: Column, lat: Column, res: int) -> tuple[Column, Column]:
    """Rounded axial (q, r) of lon/lat at ``res`` — the inverse-basis
    constants of hex_cell_np, then hex_round_cols."""
    inv = _basis_inv(res)
    qf = F.lit(float(inv[0, 0])) * lon + F.lit(float(inv[0, 1])) * lat
    rf = F.lit(float(inv[1, 0])) * lon + F.lit(float(inv[1, 1])) * lat
    return hex_round_cols(qf, rf)


def _pack_col(q: Column, r: Column, res: int) -> Column:
    return (
        F.lit(res << 56).cast("long")
        + (q + F.lit(_OFF)) * F.lit(1 << 28).cast("long")
        + (r + F.lit(_OFF))
    )


def hex_cell_col(lon: Column, lat: Column, res: int) -> Column:
    """Hex cell id at ``res`` as a JVM column — equal to hex_cell_np."""
    q, r = hex_axial_cols(lon, lat, res)
    return _pack_col(q, r, res)


def hex_disk_col(q: Column, r: Column, res: int, k: int) -> Column:
    """array<long> of the gridDisk(k) cell ids around axial (q, r)."""
    return F.array(
        *[_pack_col(q + F.lit(dq), r + F.lit(dr), res) for dq, dr in grid_disk(0, 0, k)]
    )


def hex_parent_col(cell: Column, parent_res: int) -> Column:
    """Parent cell id one aperture-7 level up (axial Ainv =
    [[2,-1],[1,3]]/7, then rounding) as JVM columns.  Unlike S2's
    bit-truncation ancestors, aperture-7 parents don't nest, so the
    rollup is genuine arithmetic.  Exact-tie-free: the pre-round
    fractions are m/7 (7 odd, never exactly .5), so floor(x+0.5)
    equals round-nearest under ANY tie rule — bit-identical to
    hex_parent_np and to the DuckDB oracle replay."""
    mask = F.lit((1 << 28) - 1).cast("long")
    q = F.shiftright(cell, 28).bitwiseAND(mask) - F.lit(_OFF)
    r = cell.bitwiseAND(mask) - F.lit(_OFF)
    qf = (F.lit(2.0) * q - r) / F.lit(7.0)
    rf = (q + F.lit(3.0) * r) / F.lit(7.0)
    q1, r1 = hex_round_cols(qf, rf)
    return _pack_col(q1, r1, parent_res)


# --------------------------------------------------------------------------
# DuckDB oracle builders (closed-form — no recursion needed)
# --------------------------------------------------------------------------

def _round_half_up(expr: str) -> str:
    """floor(x + 0.5) — the single hex rounding rule (see hex_round_np),
    replayed as the IDENTICAL expression DuckDB-side so exact-tie
    residues land in the same cell as the numpy and Spark paths."""
    return f"floor(({expr}) + 0.5)"


def hex_round_sql(qf: str, rf: str) -> str:
    """SQL struct-free cube rounding: returns a scalar SQL expression
    pair via a FROM-clause computed table; used inside hex_cell_sql."""
    return f"""
    SELECT *,
      CASE WHEN (dq > dr AND dq > ds) THEN -r0 - s0 ELSE
        CASE WHEN (NOT (dq > dr AND dq > ds)) AND dr > ds THEN q0 ELSE q0 END
      END AS q1,
      CASE WHEN (dq > dr AND dq > ds) THEN r0 ELSE
        CASE WHEN dr > ds THEN -q0 - s0 ELSE r0 END
      END AS r1
    FROM (
      SELECT *,
        abs(q0 - ({qf})) AS dq, abs(r0 - ({rf})) AS dr, abs(s0 - (-({qf}) - ({rf}))) AS ds
      FROM (
        SELECT *,
          {_round_half_up(qf)} AS q0,
          {_round_half_up(rf)} AS r0,
          {_round_half_up(f'(-({qf}) - ({rf}))')} AS s0
        FROM __hex_in
      )
    )
    """


def hex_cell_sql(source_sql: str, key_cols: str, lon_expr: str, lat_expr: str, res: int) -> str:
    """CTE fragment replaying hex_cell_np at ``res``: the exact inverse-
    basis constants (repr'd full-precision doubles) applied in the same
    fused multiply-add order, then cube rounding, then the id packing.
    Output table ``__hex_out``: ``{key_cols}, cell_id BIGINT``."""
    inv = _basis_inv(res)
    qf = f"({inv[0, 0]!r} * ({lon_expr}) + {inv[0, 1]!r} * ({lat_expr}))"
    rf = f"({inv[1, 0]!r} * ({lon_expr}) + {inv[1, 1]!r} * ({lat_expr}))"
    return f"""
__hex_in AS ({source_sql}),
__hex_round AS ({hex_round_sql(qf, rf)}),
__hex_out AS (
  SELECT {key_cols},
         (CAST({res} AS BIGINT) * {1 << 56})
         + (CAST(q1 AS BIGINT) + {_OFF}) * {1 << 28}
         + (CAST(r1 AS BIGINT) + {_OFF}) AS cell_id
  FROM __hex_round
)
"""
