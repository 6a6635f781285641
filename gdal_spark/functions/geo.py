"""Geospatial Column expressions — all JVM-side (whole-stage codegen).

Every function here is expressed as a SQL fragment usable verbatim by
BOTH Spark SQL and DuckDB (the correctness oracle), then wrapped in
``F.expr``.  This keeps the engine hot path out of Python entirely
(the input_hint mandate: no per-row Python) and makes the oracle SQL
definitionally identical to the Spark plan.  The one exception is
``cells_of``, the numpy twin of ``cell_id_sql`` for Python kernels
and cell covers.

Semantics ported from the reference (cited per function):

* Web-mercator (EPSG:4326 <-> EPSG:3857) closed forms — the same math
  PROJ applies for these CRS (ogr/ogrct.cpp:665 delegates to PROJ;
  we only claim the 4326<->3857 + affine scope, SURVEY §7).
* Tile index math with the +1e-3 epsilon and clamp-to-matrix:
  apps/gdalalg_raster_tile.cpp:457-480 (GetTileIndices), XYZ/TMS
  y-flip :509-514 (GetFileY).
* Cell ids are web-mercator quadtree cells (z, tx, ty) packed as
  ``tx * 2^z + ty`` — the engine's H3/S2 stand-in.  GDAL's own
  precedent for space-filling-curve cell columns is ST_Hilbert
  (alg/hilbert.cpp:19-60); see gdal_spark.functions.hilbert for the
  bit-exact port used for locality sort orders.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, functions as F

# WebMercatorQuad TileMatrixSet constants (gcore/tilematrixset.cpp,
# OGC registry definition): origin = (-R*pi, R*pi) with
# R*pi = 20037508.342789244, 256px tiles, matrix 2^z x 2^z at zoom z.
ORIGIN = 20037508.342789244
TILE_SIZE = 256
# Latitude bound of the mercator square (atan(sinh(pi)) in degrees).
MERC_LAT_MAX = 85.05112877980659

# --- SQL fragment templates (shared Spark <-> DuckDB) ----------------

MERC_X_SQL = "(({lon}) * {origin} / 180.0)"
# lat clamps to the Web-Mercator domain (+-MERC_LAT_MAX) exactly like
# the numpy cells_of: without it a pole-touching bbox corner computes
# NULL/inf JVM-side while the Python cell cover clipped, silently
# dropping the pair at the corner-cell dedup filter.  Shared with the
# DuckDB oracles through this same template (lockstep by construction).
MERC_Y_SQL = (
    "(LN(TAN((90.0 + LEAST(GREATEST(({lat}),"
    " CAST(-85.05112877980659 AS DOUBLE)),"
    " CAST(85.05112877980659 AS DOUBLE))) * PI() / 360.0))"
    " / PI() * {origin})"
)

INV_MERC_LON_SQL = "(({x}) / {origin} * 180.0)"
INV_MERC_LAT_SQL = (
    "(DEGREES(2.0 * ATAN(EXP(({y}) / {origin} * PI())) - PI() / 2.0))"
)

# GetTileIndices (apps/gdalalg_raster_tile.cpp:457-480):
#   tx = clamp(floor((X - topLeftX) / (res*tileW) + 1e-3), 0, 2^z - 1)
#   ty = clamp(floor((topLeftY - Y) / (res*tileH) + 1e-3), 0, 2^z - 1)
TILE_X_SQL = (
    "CAST(LEAST(GREATEST(FLOOR((({x}) - (-{origin})) / ({tw}) + 0.001), 0),"
    " {maxidx}) AS BIGINT)"
)
TILE_Y_SQL = (
    "CAST(LEAST(GREATEST(FLOOR(({origin} - ({y})) / ({th}) + 0.001), 0),"
    " {maxidx}) AS BIGINT)"
)

HAVERSINE_SQL = (
    "(2.0 * 6371008.8 * ASIN(SQRT("
    "POW(SIN(RADIANS(({lat2}) - ({lat1})) / 2.0), 2) + "
    "COS(RADIANS({lat1})) * COS(RADIANS({lat2})) * "
    "POW(SIN(RADIANS(({lon2}) - ({lon1})) / 2.0), 2))))"
)

# Deterministic geocode of an integer key -> (lon, lat): two hash
# draws with large odd multipliers (Knuth 2654435761, xxhash prime
# 2246822519) so the product wraps mod 2^31 even for small keys —
# small multipliers leave lon/lat monotone in the key and clustered.
# Pure int64 arithmetic, identical in Spark SQL and DuckDB — the
# test-table stand-in for the html geo-hint extraction in
# gdal_spark.sources.pages.  Safe to |key| < ~3.4e9 (no int64
# overflow).
LCG_M = 2147483648
LON_MULT = 2654435761
LON_ADD = 1013904223
LAT_MULT = 2246822519
LAT_ADD = 3266489917
LON_FROM_KEY_SQL = (
    "(CAST((({key}) * 2654435761 + 1013904223) % {m} AS DOUBLE) / {m}"
    " * 360.0 - 180.0)"
)
LAT_FROM_KEY_SQL = (
    "(CAST((({key}) * 2246822519 + 3266489917) % {m} AS DOUBLE) / {m}"
    " * 170.0 - 85.0)"
)


def tile_span(zoom: int) -> float:
    """Width/height in meters of one tile at *zoom*."""
    return 2.0 * ORIGIN / (1 << zoom)


def merc_x_sql(lon: str) -> str:
    return MERC_X_SQL.format(lon=lon, origin=ORIGIN)


def merc_y_sql(lat: str) -> str:
    return MERC_Y_SQL.format(lat=lat, origin=ORIGIN)


def inv_merc_lon_sql(x: str) -> str:
    return INV_MERC_LON_SQL.format(x=x, origin=ORIGIN)


def inv_merc_lat_sql(y: str) -> str:
    return INV_MERC_LAT_SQL.format(y=y, origin=ORIGIN)


def tile_x_sql(x_merc: str, zoom: int) -> str:
    return TILE_X_SQL.format(
        x=x_merc, origin=ORIGIN, tw=tile_span(zoom), maxidx=(1 << zoom) - 1
    )


def tile_y_sql(y_merc: str, zoom: int) -> str:
    return TILE_Y_SQL.format(
        y=y_merc, origin=ORIGIN, th=tile_span(zoom), maxidx=(1 << zoom) - 1
    )


def cell_id_sql(lon: str, lat: str, res: int) -> str:
    """Quadtree cell id at resolution *res*: tx * 2^res + ty."""
    tx = tile_x_sql(merc_x_sql(lon), res)
    ty = tile_y_sql(merc_y_sql(lat), res)
    return f"(({tx}) * {1 << res} + ({ty}))"


def cells_of(lon: np.ndarray, lat: np.ndarray, res: int
             ) -> tuple[np.ndarray, np.ndarray]:
    """Tile x and tile y of each lon/lat at resolution *res*: the
    numpy twin of ``cell_id_sql`` (same mercator, clamp and +1e-3
    GetTileIndices arithmetic), the one cell law every Python kernel
    and cell cover uses, so a point and a bbox corner with the same
    coordinates always land in the same cell."""
    n = 1 << res
    span = tile_span(res)
    lon = np.asarray(lon, dtype=np.float64)
    la = np.clip(np.asarray(lat, dtype=np.float64),
                 -MERC_LAT_MAX, MERC_LAT_MAX)
    mx = lon * ORIGIN / 180.0
    my = np.log(np.tan((90.0 + la) * np.pi / 360.0)) / np.pi * ORIGIN
    tx = np.clip(np.floor((mx + ORIGIN) / span + 1e-3), 0, n - 1)
    ty = np.clip(np.floor((ORIGIN - my) / span + 1e-3), 0, n - 1)
    return tx.astype(np.int64), ty.astype(np.int64)


def lon_from_key_sql(key: str) -> str:
    return LON_FROM_KEY_SQL.format(key=key, m=LCG_M)


def lat_from_key_sql(key: str) -> str:
    return LAT_FROM_KEY_SQL.format(key=key, m=LCG_M)


def haversine_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    return HAVERSINE_SQL.format(lon1=lon1, lat1=lat1, lon2=lon2, lat2=lat2)


# --- Column wrappers --------------------------------------------------

def merc_x(lon: Column | str) -> Column:
    return F.expr(merc_x_sql(_name(lon)))


def merc_y(lat: Column | str) -> Column:
    return F.expr(merc_y_sql(_name(lat)))


def inv_merc_lon(x: Column | str) -> Column:
    return F.expr(inv_merc_lon_sql(_name(x)))


def inv_merc_lat(y: Column | str) -> Column:
    return F.expr(inv_merc_lat_sql(_name(y)))


def tile_x(x_merc: Column | str, zoom: int) -> Column:
    return F.expr(tile_x_sql(_name(x_merc), zoom))


def tile_y(y_merc: Column | str, zoom: int) -> Column:
    return F.expr(tile_y_sql(_name(y_merc), zoom))


def tile_y_tms(y_xyz: Column | str, zoom: int) -> Column:
    """XYZ -> TMS y-flip: matrixHeight-1-y (gdalalg_raster_tile.cpp:509)."""
    return F.lit((1 << zoom) - 1) - F.col(y_xyz) if isinstance(y_xyz, str) else (
        F.lit((1 << zoom) - 1) - y_xyz
    )


def cell_id(lon: Column | str, lat: Column | str, res: int) -> Column:
    return F.expr(cell_id_sql(_name(lon), _name(lat), res))


def haversine_m(lon1, lat1, lon2, lat2) -> Column:
    return F.expr(
        haversine_sql(_name(lon1), _name(lat1), _name(lon2), _name(lat2))
    )


def cell_neighbors(cell: int, res: int, k: int = 1) -> list[int]:
    """k-ring of a quadtree cell (driver-side; cells are tx*2^res+ty).

    Mirrors the expanding-radius neighbor search of the reference's
    grid interpolator (alg/gdalgrid.cpp:922-949) on the cell lattice.
    """
    n = 1 << res
    tx, ty = divmod(cell, n)
    out = []
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            nx, ny = tx + dx, ty + dy
            if 0 <= nx < n and 0 <= ny < n:
                out.append(nx * n + ny)
    return out


def _name(c) -> str:
    if isinstance(c, str):
        return c
    # Column -> its SQL name; only bare columns expected here.
    return c._jc.toString() if hasattr(c, "_jc") else str(c)
