"""WebMercator z/x/y tile (quadtree cell) math.

Three synchronized implementations of the SAME formula (so the Spark plan,
the pandas-UDF path, and the DuckDB oracle agree bit-for-bit):

* Spark Column expressions (JVM, codegen — the hot path),
* numpy (for pandas-UDF composition and local oracles),
* a SQL text generator (used verbatim by both Spark SQL and DuckDB).

Formula (standard slippy-map):
    n = 2^z
    x = floor((lon + 180) / 360 * n)
    y = floor((1 - (ln(tan(radians(lat)) + 1/cos(radians(lat))) / pi)) / 2 * n)

Cell ids pack (z, x, y) into one BIGINT: z*2^55 + x*2^27 + y (z <= 22) —
arithmetic
(not bit ops) so the identical expression runs on Spark, DuckDB and numpy.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MIN_RES = 7
MAX_RES = 11
_Z_MULT = 2**55
_X_MULT = 2**27
# WebMercator latitude limit: tan/ln blow up at the poles, so every
# implementation clamps |lat| here first (identical constant in all three).
MAX_LAT = 85.05112878


# ---------------------------------------------------------------- Spark side
def tile_x_col(lon: Column, z: int) -> Column:
    # pmod wraps lon == 180.0 (x == n) back to x == 0 — the antimeridian
    # seam shares a tile column, matching the numpy and SQL variants.
    n = 2**z
    return F.pmod(
        F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n))).cast("long"),
        F.lit(n).cast("long"),
    )


def tile_y_col(lat: Column, z: int) -> Column:
    n = float(2**z)
    rad = F.radians(F.greatest(F.lit(-MAX_LAT), F.least(F.lit(MAX_LAT), lat)))
    return F.floor(
        (F.lit(1.0) - F.log(F.tan(rad) + F.lit(1.0) / F.cos(rad)) / F.lit(math.pi))
        / F.lit(2.0)
        * F.lit(n)
    ).cast("long")


def cell_id_col(lon: Column, lat: Column, z: int) -> Column:
    return (
        F.lit(z * _Z_MULT).cast("long")
        + tile_x_col(lon, z) * F.lit(_X_MULT).cast("long")
        + tile_y_col(lat, z)
    )


#: smallest zoom where the 8-neighborhood is alias-free: at z <= 1 the
#: antimeridian x-wrap folds dx=-1 and dx=+1 onto the same tile column,
#: double-counting neighbors relative to a dedup'd (IN-list) predicate
MIN_NEIGHBOR_RES = 2


def neighbor_offsets_col() -> Column:
    """Explode the nine (dx, dy) offsets of the 8-neighborhood (self
    included) — the shared building block of the grid adjacency joins
    (grid DBSCAN, Gi*, LISA, emerging hotspots).  Callers must enforce
    ``z >= MIN_NEIGHBOR_RES`` (see that constant)."""
    return F.expr(
        "explode(transform(sequence(0, 8), "
        "i -> struct(i div 3 - 1 AS dx, i % 3 - 1 AS dy)))"
    )


def pixel_x_col(lon: Column, z: int, px: int) -> Column:
    """Pixel column within the tile (0..px-1): the fractional part of the
    continuous tile coordinate times ``px``.  Same double math as
    :func:`tile_x_col`, so a point's (tile, pixel) pair is consistent."""
    n = float(2**z)
    fx = (lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n)
    return F.floor((fx - F.floor(fx)) * F.lit(float(px))).cast("long")


def pixel_y_col(lat: Column, z: int, px: int) -> Column:
    n = float(2**z)
    rad = F.radians(F.greatest(F.lit(-MAX_LAT), F.least(F.lit(MAX_LAT), lat)))
    fy = (
        (F.lit(1.0) - F.log(F.tan(rad) + F.lit(1.0) / F.cos(rad)) / F.lit(math.pi))
        / F.lit(2.0)
        * F.lit(n)
    )
    return F.floor((fy - F.floor(fy)) * F.lit(float(px))).cast("long")


def pixel_x_sql(lon_expr: str, z: int, px: int) -> str:
    n = float(2**z)
    fx = f"(({lon_expr} + 180.0) / 360.0 * {n!r})"
    return f"CAST(floor(({fx} - floor({fx})) * {float(px)!r}) AS BIGINT)"


def pixel_y_sql(lat_expr: str, z: int, px: int) -> str:
    n = float(2**z)
    clamped = f"greatest(-{MAX_LAT!r}, least({MAX_LAT!r}, {lat_expr}))"
    fy = (
        f"((1.0 - ln(tan(radians({clamped})) + 1.0/cos(radians({clamped})))"
        f" / pi()) / 2.0 * {n!r})"
    )
    return f"CAST(floor(({fy} - floor({fy})) * {float(px)!r}) AS BIGINT)"


def pixel_xy_np(
    lon: np.ndarray, lat: np.ndarray, z: int, px: int
) -> tuple[np.ndarray, np.ndarray]:
    n = float(2**z)
    fx = (lon + 180.0) / 360.0 * n
    rad = np.radians(np.clip(lat, -MAX_LAT, MAX_LAT))
    fy = (1.0 - np.log(np.tan(rad) + 1.0 / np.cos(rad)) / math.pi) / 2.0 * n
    x = np.floor((fx - np.floor(fx)) * px).astype(np.int64)
    y = np.floor((fy - np.floor(fy)) * px).astype(np.int64)
    return x, y


# ---------------------------------------------------------------- numpy side
def tile_xy_np(lon: np.ndarray, lat: np.ndarray, z: int) -> tuple[np.ndarray, np.ndarray]:
    n = float(2**z)
    x = np.mod(np.floor((lon + 180.0) / 360.0 * n).astype(np.int64), 2**z)
    rad = np.radians(np.clip(lat, -MAX_LAT, MAX_LAT))
    y = np.floor((1.0 - np.log(np.tan(rad) + 1.0 / np.cos(rad)) / math.pi) / 2.0 * n).astype(
        np.int64
    )
    return x, y


def pack_cell_zxy(z: int, x: int, y: int) -> int:
    """Pack an explicit (z, x, y) triple into the cell id — the single
    owner of the packing formula for callers that enumerate tiles
    (e.g. bbox coverings) rather than derive them from coordinates."""
    return z * _Z_MULT + x * _X_MULT + y


def cell_id_np(lon: np.ndarray, lat: np.ndarray, z: int) -> np.ndarray:
    x, y = tile_xy_np(lon, lat, z)
    return z * _Z_MULT + x * _X_MULT + y


def unpack_cell(cell: int) -> tuple[int, int, int]:
    z = cell // _Z_MULT
    rem = cell - z * _Z_MULT
    return int(z), int(rem // _X_MULT), int(rem % _X_MULT)


# ------------------------------------------------------------------ SQL text
def tile_x_sql(lon_expr: str, z: int) -> str:
    n = 2**z
    return (
        f"CAST(((CAST(floor(({lon_expr} + 180.0) / 360.0 * {float(n)!r}) AS BIGINT)"
        f" % {n}) + {n}) % {n} AS BIGINT)"
    )


def tile_y_sql(lat_expr: str, z: int) -> str:
    n = float(2**z)
    clamped = f"greatest(-{MAX_LAT!r}, least({MAX_LAT!r}, {lat_expr}))"
    return (
        f"CAST(floor((1.0 - ln(tan(radians({clamped})) + 1.0/cos(radians({clamped})))"
        f" / pi()) / 2.0 * {n!r}) AS BIGINT)"
    )


def cell_id_sql(lon_expr: str, lat_expr: str, z: int) -> str:
    return (
        f"(CAST({z * _Z_MULT} AS BIGINT) + {tile_x_sql(lon_expr, z)} * CAST({_X_MULT} AS BIGINT)"
        f" + {tile_y_sql(lat_expr, z)})"
    )

