"""Rasterize: vector -> raster with GDAL-exact inclusion rules.

Kernel semantics ported rule-for-rule from the reference:

* scanline polygon fill at pixel centers: dy = y + 0.5; a segment
  contributes a crossing iff dy >= y1 and dy < y2 (after ordering
  y1 < y2); crossing x = floor(intersect + 0.5); crossings sorted and
  filled in pairs [x_i, x_{i+1} - 1]
  (alg/llrasterize.cpp:105-193 GDALdllImageFilledPolygon)
* bottom horizontal segments (traversed right-to-left) filled
  separately as [floor(x2+0.5) clamped 0, floor(x1+0.5) clamped W]-1;
  top horizontals skipped (llrasterize.cpp:152-183)
* ALL_TOUCHED adds the outline via the pixel-stepping line walk with
  vertical/horizontal special cases (|dx| or |dy| < .01) and
  EPSILON_INTERSECT_ONLY = 1e-4 (llrasterize.cpp:407-745)
* MERGE_ALG=REPLACE writes the burn value, ADD accumulates; with ADD
  a per-geometry visited set prevents double burns
  (alg/gdalrasterize.cpp:71-127 gvBurnScanlineBasic / MakeKey)
* burn value from a fixed value or an attribute column
  (BURN_VALUE_FROM / -a, gdalrasterize.cpp:796-834)

Distribution: the output grid is tiled.  The layer is driver-side by
contract, so the driver already knows each feature's tile cover (its
bbox clamped to the grid): ``layer_entries`` parses the features once
and ``tile_cover`` lists, per covered tile, the features to burn there
in feature order.  Both ride in the render kernel's closure, and one
``mapInPandas`` over ``spark.range`` of the covered tiles draws each
tile from only its own features with ``render_tile``, shifted into
tile-local pixel space: the reference's chunked execution (OPTIM=RASTER
chunks, gdalrasterize.cpp:840-870) with no shuffle.  Zonal statistics
renders its zone layer with the same three functions.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.geometry.wkb import parse_wkb
from gdal_spark.operators.tiling import TILE_SCHEMA, encode_tile
from gdal_spark.session import kernel_name


# --------------------------------------------------------------------
# single-chunk numpy kernel (pixel-space geometry)
# --------------------------------------------------------------------

def _copy_word(val: float, dtype: np.dtype) -> float:
    """GDALCopyWord double->T: round-half-away + clamp for ints."""
    if np.issubdtype(dtype, np.integer):
        info = np.iinfo(dtype)
        v = math.floor(val + 0.5) if val >= 0 else math.ceil(val - 0.5)
        return min(max(v, info.min), info.max)
    return val


def fill_polygon_scanline(
    grid: np.ndarray, rings: list[np.ndarray], burn: float,
    merge_add: bool = False, visited: np.ndarray | None = None,
) -> None:
    """GDALdllImageFilledPolygon semantics on *grid* (H, W) in place.

    ``rings``: pixel-space rings (closed).  ``visited`` is the ADD
    double-burn guard (bAvoidBurningSamePoints).
    """
    h, w = grid.shape
    maxx = w - 1
    ally = np.concatenate([r[:, 1] for r in rings]) if rings else np.array([])
    if len(ally) == 0:
        return
    miny = int(max(0.0, ally.min()))
    maxy = int(min(float(h - 1), ally.max()))
    dt = grid.dtype

    def burn_span(y: int, x0: int, x1: int) -> None:
        x0 = max(x0, 0)
        x1 = min(x1, w - 1)
        if x1 < x0:
            return
        if merge_add:
            if visited is not None:
                mask = ~visited[y, x0:x1 + 1]
                seg = grid[y, x0:x1 + 1]
                newv = seg[mask].astype(np.float64) + burn
                if np.issubdtype(dt, np.integer):
                    info = np.iinfo(dt)
                    newv = np.clip(np.where(newv >= 0,
                                            np.floor(newv + 0.5),
                                            np.ceil(newv - 0.5)),
                                   info.min, info.max)
                seg[mask] = newv.astype(dt)
                visited[y, x0:x1 + 1] = True
            else:
                newv = grid[y, x0:x1 + 1].astype(np.float64) + burn
                if np.issubdtype(dt, np.integer):
                    info = np.iinfo(dt)
                    newv = np.clip(np.where(newv >= 0,
                                            np.floor(newv + 0.5),
                                            np.ceil(newv - 0.5)),
                                   info.min, info.max)
                grid[y, x0:x1 + 1] = newv.astype(dt)
        else:
            grid[y, x0:x1 + 1] = _copy_word(burn, dt)
            if visited is not None:
                visited[y, x0:x1 + 1] = True

    # Vectorized crossings (r7): all (segment x scanline) crossings
    # compute in one numpy broadcast using the reference law's exact
    # per-element float expression order — the per-row python segment
    # loop paid ~10-30us per scanline.  The per-row pairing/horizontal
    # interplay below is byte-for-byte the reference inner loop, fed
    # from the precomputed sorted crossing lists.
    sy1l, sy2l, sx1l, sx2l = [], [], [], []
    horiz_rows: dict[int, list[tuple[int, int]]] = {}
    for ring in rings:
        ys0, ys1 = ring[:-1, 1], ring[1:, 1]
        xs0, xs1 = ring[:-1, 0], ring[1:, 0]
        hm = ys0 == ys1
        if hm.any():
            # horizontal bottom segments (traversed right-to-left)
            # are active only on the scanline whose center equals
            # the segment's y exactly
            for x0h, x1h, yh in zip(xs0[hm], xs1[hm], ys0[hm]):
                if x0h > x1h:
                    yr = yh - 0.5
                    if yr == math.floor(yr) and \
                            miny <= int(yr) <= maxy:
                        hx1 = math.floor(x1h + 0.5)
                        hx2 = math.floor(x0h + 0.5)
                        if hx1 > maxx or hx2 <= 0:
                            continue
                        horiz_rows.setdefault(int(yr), []).append(
                            (int(max(hx1, 0.0)),
                             int(min(float(hx2), float(w)))))
        nh = ~hm
        if nh.any():
            lo = ys0 < ys1
            sy1l.append(np.where(lo, ys0, ys1)[nh])
            sy2l.append(np.where(lo, ys1, ys0)[nh])
            sx1l.append(np.where(lo, xs0, xs1)[nh])
            sx2l.append(np.where(lo, xs1, xs0)[nh])
    if sy1l:
        sy1 = np.concatenate(sy1l)
        sy2 = np.concatenate(sy2l)
        sx1 = np.concatenate(sx1l)
        sx2 = np.concatenate(sx2l)
        dy_col = (np.arange(miny, maxy + 1, dtype=np.float64)
                  + 0.5)[:, None]
        mask = (dy_col >= sy1[None, :]) & (dy_col < sy2[None, :])
        with np.errstate(all="ignore"):
            inter = ((dy_col - sy1[None, :]) * (sx2 - sx1)[None, :]
                     / (sy2 - sy1)[None, :] + sx1[None, :])
        inter = np.minimum(np.maximum(inter, -2.0**31), 2.0**31 - 1)
        xi = np.floor(inter + 0.5)
        ridx, sidx = np.nonzero(mask)
        xv = xi[ridx, sidx].astype(np.int64)
        order = np.lexsort((xv, ridx))
        ridx, xv = ridx[order], xv[order]
    else:
        ridx = xv = np.zeros(0, dtype=np.int64)
    if len(ridx):
        gstart = np.flatnonzero(np.r_[True, ridx[1:] != ridx[:-1]])
        gend = np.r_[gstart[1:], len(ridx)]
    else:
        gstart = gend = np.zeros(0, dtype=np.int64)

    seen_rows = set()
    for s, e in zip(gstart, gend):
        y = miny + int(ridx[s])
        seen_rows.add(y)
        ints = xv[s:e]
        horiz = sorted(horiz_rows.get(y, []))
        for i in range(0, len(ints) - 1, 2):
            if ints[i] <= maxx and ints[i + 1] > 0:
                burn_span(y, int(ints[i]), int(ints[i + 1]) - 1)
        # horizontal fills, skipping spans already burnt this line
        i = 0
        for hx1, hx2 in horiz:
            if hx1 <= maxx and hx2 > 0:
                while i + 1 < len(ints) and ints[i] < hx1:
                    i += 2
                if i + 1 >= len(ints) or ints[i] != hx1:
                    burn_span(y, hx1, hx2 - 1)
    # rows that carry only horizontal segments (no crossings)
    for y, hlist in horiz_rows.items():
        if y in seen_rows:
            continue
        for hx1, hx2 in sorted(hlist):
            if hx1 <= maxx and hx2 > 0:
                burn_span(y, hx1, hx2 - 1)


_EPS_IO = 1e-4  # EPSILON_INTERSECT_ONLY (llrasterize.cpp:418)


def line_all_touched(
    grid: np.ndarray, coords: np.ndarray, burn: float,
    merge_add: bool = False, visited: np.ndarray | None = None,
    intersect_only: bool = False,
) -> None:
    """GDALdllImageLineAllTouched pixel walk (llrasterize.cpp:407-745).

    Burns every pixel the polyline touches.  Per-part previous-segment
    dedup (lastBurntPoints) is preserved via the visited set when ADD.
    """
    h, w = grid.shape
    dt = grid.dtype

    def burn_pt(y: int, x: int) -> None:
        if not (0 <= y < h and 0 <= x < w):
            return
        if visited is not None:
            if visited[y, x]:
                return
            visited[y, x] = True
        if merge_add:
            grid[y, x] = _copy_word(float(grid[y, x]) + burn, dt)
        else:
            grid[y, x] = _copy_word(burn, dt)

    n = len(coords)
    for j in range(1, n):
        x0, y0 = float(coords[j - 1, 0]), float(coords[j - 1, 1])
        x1, y1 = float(coords[j, 0]), float(coords[j, 1])
        if (y0 < 0 and y1 < 0) or (y0 > h and y1 > h) or \
           (x0 < 0 and x1 < 0) or (x0 > w and x1 > w):
            continue
        if x0 > x1:
            x0, x1 = x1, x0
            y0, y1 = y1, y0
        if abs(x0 - x1) < 0.01:  # vertical
            if intersect_only and abs(x0 - round(x0)) < _EPS_IO \
                    and abs(x1 - round(x1)) < _EPS_IO:
                continue
            if y1 < y0:
                y0, y1 = y1, y0
            ix = int(math.floor(x1))
            iy = int(math.floor(y0))
            iy_end = int(math.floor(y1 - _EPS_IO))
            if ix < 0 or ix >= w:
                continue
            iy = max(iy, 0)
            iy_end = min(iy_end, h - 1)
            for yy in range(iy, iy_end + 1):
                burn_pt(yy, ix)
            continue
        if abs(y0 - y1) < 0.01:  # horizontal
            if intersect_only and abs(y0 - round(y0)) < _EPS_IO \
                    and abs(y1 - round(y1)) < _EPS_IO:
                continue
            ix = int(math.floor(x0))
            iy = int(math.floor(y0))
            ix_end = int(math.floor(x1 - _EPS_IO))
            if iy < 0 or iy >= h:
                continue
            ix = max(ix, 0)
            ix_end = min(ix_end, w - 1)
            for xx in range(ix, ix_end + 1):
                burn_pt(iy, xx)
            continue
        # general sloped case with the exact clipping + stepping rules
        slope = (y1 - y0) / (x1 - x0)
        if x1 > w:
            y1 -= (x1 - w) * slope
            x1 = float(w)
        if x0 < 0.0:
            y0 += (0.0 - x0) * slope
            x0 = 0.0
        if y1 > y0:
            if y0 < 0.0:
                x0 += (0.0 - y0) / slope
                y0 = 0.0
            if y1 >= h:
                x1 += (y1 - h) / slope
                if x1 > w:
                    x1 = float(w)
        else:
            if y0 >= h:
                x0 += (h - y0) / slope
                y0 = float(h)
            if y1 < 0.0:
                x1 -= (y1 - 0.0) / slope
        x, y = x0, y0
        while 0.0 <= x < x1:
            ix = int(math.floor(x))
            iy = int(math.floor(y))
            if 0 <= iy < h:
                burn_pt(iy, ix)
            step_x = math.floor(x + 1.0) - x
            step_y = step_x * slope
            if int(math.floor(y + step_y)) == iy:
                x += step_x
                y += step_y
            elif slope < 0:
                step_y = iy - y
                if step_y > -1e-9:
                    step_y = -1e-9
                step_x = step_y / slope
                x += step_x
                y += step_y
            else:
                step_y = (iy + 1) - y
                if step_y < 1e-9:
                    step_y = 1e-9
                step_x = step_y / slope
                x += step_x
                y += step_y


def burn_points(grid: np.ndarray, coords: np.ndarray, burn: float,
                merge_add: bool = False,
                visited: np.ndarray | None = None) -> None:
    """GDALdllImagePoint: burn the pixel containing each point
    (llrasterize.cpp GDALdllImagePoint, floor semantics)."""
    h, w = grid.shape
    dt = grid.dtype
    ix = np.floor(coords[:, 0]).astype(np.int64)
    iy = np.floor(coords[:, 1]).astype(np.int64)
    ok = (ix >= 0) & (ix < w) & (iy >= 0) & (iy < h)
    for x, y in zip(ix[ok], iy[ok]):
        if visited is not None:
            if visited[y, x]:
                continue
            visited[y, x] = True
        if merge_add:
            grid[y, x] = _copy_word(float(grid[y, x]) + burn, dt)
        else:
            grid[y, x] = _copy_word(burn, dt)


def rasterize_chunk(
    shape: tuple[int, int],
    geoms_px: list[tuple[list[np.ndarray], float]] |
    list[tuple[list[np.ndarray], float, int]],
    dtype: str = "float64",
    all_touched: bool = False,
    merge_alg: str = "replace",
    init: float = 0.0,
) -> np.ndarray:
    """Rasterize pixel-space geoms into one chunk.

    Entries are (parts, burn) or (parts, burn, wkb_kind): polygons
    scanline-fill (+ALL_TOUCHED outline), linestrings burn the
    pixel-stepping walk, points burn their containing pixel."""
    from gdal_spark.geometry import wkb as wkbmod

    grid = np.full(shape, init, dtype=np.dtype(dtype))
    merge_add = merge_alg.lower() == "add"
    for entry in geoms_px:
        rings, burn = entry[0], entry[1]
        kind = entry[2] if len(entry) > 2 else wkbmod.POLYGON
        visited = (
            np.zeros(shape, dtype=bool) if (merge_add or all_touched)
            else None
        )
        if kind in (wkbmod.POINT, wkbmod.MULTIPOINT):
            for part in rings:
                burn_points(grid, part, burn, merge_add, visited)
        elif kind in (wkbmod.LINESTRING, wkbmod.MULTILINESTRING):
            for part in rings:
                line_all_touched(grid, part, burn, merge_add, visited)
        else:
            fill_polygon_scanline(grid, rings, burn, merge_add, visited)
            if all_touched:
                for ring in rings:
                    line_all_touched(grid, ring, burn, merge_add, visited)
    return grid


# --------------------------------------------------------------------
# distributed operator
# --------------------------------------------------------------------

class GridSpec:
    """Output raster grid: geotransform-style georeferencing
    (GDALDataset::GetGeoTransform, gcore/gdal_dataset.h)."""

    def __init__(self, x0: float, y1: float, px_w: float, px_h: float,
                 width: int, height: int):
        self.x0 = x0       # west edge
        self.y1 = y1       # north edge
        self.px_w = px_w
        self.px_h = px_h
        self.width = width
        self.height = height

    def to_px(self, coords: np.ndarray) -> np.ndarray:
        out = np.empty_like(coords)
        out[:, 0] = (coords[:, 0] - self.x0) / self.px_w
        out[:, 1] = (self.y1 - coords[:, 1]) / self.px_h
        return out

    @property
    def gt(self) -> list[float]:
        return [self.x0, self.px_w, 0.0, self.y1, 0.0, -self.px_h]


def layer_entries(pdf: pd.DataFrame, grid: GridSpec, burns,
                  tile_size: int, geom_col: str = "geometry") -> list:
    """Per feature of *pdf*, in feature order: ``(rings, burn, kind,
    tx0, tx1, ty0, ty1)``, its rings in grid pixel space, its burn
    value, its WKB kind and the grid tiles its bbox covers (clamped to
    the grid, so none for a feature outside it).  *burns* holds one
    value per feature.  A NULL or EMPTY geometry burns nothing, so a
    feature with no rings has no entry."""
    n_tx = -(-grid.width // tile_size)
    n_ty = -(-grid.height // tile_size)
    entries = []
    for wkb, burn in zip(pdf[geom_col], burns):
        if wkb is None:
            continue
        g = parse_wkb(bytes(wkb))
        rings = [grid.to_px(ring) for ring in g.rings()]
        if not rings:
            continue
        allc = np.vstack(rings)
        entries.append((
            rings, float(burn), g.kind,
            max(int(allc[:, 0].min() // tile_size), 0),
            min(int(allc[:, 0].max() // tile_size), n_tx - 1),
            max(int(allc[:, 1].min() // tile_size), 0),
            min(int(allc[:, 1].max() // tile_size), n_ty - 1)))
    return entries


def tile_cover(entries: list) -> dict[tuple[int, int], list[int]]:
    """(tile_x, tile_y) -> the indices of the *entries* whose tile range
    holds that tile, in feature order (the reference's burn order)."""
    cover: dict[tuple[int, int], list[int]] = {}
    for i, (_, _, _, tx0, tx1, ty0, ty1) in enumerate(entries):
        for tx in range(tx0, tx1 + 1):
            for ty in range(ty0, ty1 + 1):
                cover.setdefault((tx, ty), []).append(i)
    return cover


def render_tile(entries: list, idx: list[int], tx: int, ty: int,
                grid: GridSpec, tile_size: int, dtype: str,
                all_touched: bool = False,
                merge_alg: str = "replace") -> np.ndarray:
    """The (tile_size, tile_size) raster of tile (tx, ty): entries
    *idx* shifted into tile-local pixel space and burnt in that order;
    pixels past the grid's edge stay 0."""
    ox, oy = tx * tile_size, ty * tile_size
    w = min(tile_size, grid.width - ox)
    h = min(tile_size, grid.height - oy)
    shift = np.array([[ox, oy]])
    local = [([r - shift for r in entries[i][0]], entries[i][1],
              entries[i][2]) for i in idx]
    arr = rasterize_chunk((h, w), local, dtype, all_touched, merge_alg)
    if (h, w) != (tile_size, tile_size):
        full = np.zeros((tile_size, tile_size), dtype=arr.dtype)
        full[:h, :w] = arr
        arr = full
    return arr


def rasterize(
    spark: SparkSession,
    polys_pdf: pd.DataFrame,
    grid: GridSpec,
    burn_value: float | None = None,
    burn_col: str | None = None,
    dtype: str = "float64",
    all_touched: bool = False,
    merge_alg: str = "replace",
    tile_size: int = 256,
    geom_col: str = "geometry",
    codec: str | None = None,
) -> DataFrame:
    """Distributed rasterize -> tile DataFrame (TILE_SCHEMA, zoom=-1
    marks a custom grid rather than WebMercatorQuad), one row per grid
    tile that some feature's bbox covers."""
    burns = (polys_pdf[burn_col] if burn_col
             else [burn_value] * len(polys_pdf))
    entries = layer_entries(polys_pdf, grid, burns, tile_size, geom_col)
    cover = tile_cover(entries)
    if not cover:
        return spark.createDataFrame([], TILE_SCHEMA)
    tiles = sorted(cover)

    @kernel_name("operators.rasterize.render")
    def render(batches: Iterator[pd.DataFrame]
               ) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids = b["id"].tolist()
            # at most 64 encoded tiles in flight per output batch
            for lo in range(0, len(ids), 64):
                keys = [tiles[i] for i in ids[lo:lo + 64]]
                blobs = [encode_tile(render_tile(
                    entries, cover[k], k[0], k[1], grid, tile_size, dtype,
                    all_touched, merge_alg), codec) for k in keys]
                yield pd.DataFrame({
                    "zoom": -1, "tile_x": [k[0] for k in keys],
                    "tile_y": [k[1] for k in keys], "band": 1,
                    "data": [p for p, _ in blobs],
                    "dtype": [d for _, d in blobs],
                    "tile_size": tile_size})

    n = len(tiles)
    parts = min(spark.sparkContext.defaultParallelism, n)
    return spark.range(0, n, 1, parts).mapInPandas(render, TILE_SCHEMA)


def assemble_raster(tiles_pdf: pd.DataFrame, grid: GridSpec) -> np.ndarray:
    """Collect tiles -> full numpy raster (tests / small outputs)."""
    # dtype strings may carry a codec prefix (deflate:/const:) —
    # the element dtype is the suffix
    dt = (np.dtype(str(tiles_pdf["dtype"].iloc[0]).split(":")[-1])
          if len(tiles_pdf) else np.float64)
    out = np.zeros((grid.height, grid.width), dtype=dt)
    for _, r in tiles_pdf.iterrows():
        ts = int(r["tile_size"])
        from gdal_spark.operators.tiling import decode_tile

        arr = decode_tile(r["data"], r["dtype"], ts)
        ox, oy = int(r["tile_x"]) * ts, int(r["tile_y"]) * ts
        w = min(ts, grid.width - ox)
        h = min(ts, grid.height - oy)
        out[oy:oy + h, ox:ox + w] = arr[:h, :w]
    return out
