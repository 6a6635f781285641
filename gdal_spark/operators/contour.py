"""Contour: marching squares over levels -> line segments.

Re-creates GDALContourGenerateEx (alg/contour.cpp:569 +
alg/marching_squares/*.h): iso-lines at given levels over the
pixel-center lattice with linear interpolation along cell edges.

Distribution: each marching-squares cell spans a 2x2 block of pixel
centers; a cell is owned by the tile of its top-left pixel, and the
right/bottom neighbor pixels arrive via the 1-px halo exchange
(operators/halo.py) — every cell is computed exactly once, and
endpoints on tile borders agree bit-for-bit across tiles (both sides
interpolate the same two pixel values), so segment sets are
partition-invariant.

Output rows: (level, x1, y1, x2, y2) in georeferenced coordinates.
``stitch_segments`` chains segments into polylines (driver-side /
per-level assembly), matching the reference's polyline output up to
segment orientation.

Saddle cells (cases 5/10) disambiguate on the cell-center average —
the same rule as the reference's marching squares.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from gdal_spark.operators.halo import (
    assemble_halo_canvas, emit_halos, render_by_tile,
)
from gdal_spark.session import kernel_name

SEG_SCHEMA = StructType([
    StructField("level", DoubleType()),
    StructField("x1", DoubleType()),
    StructField("y1", DoubleType()),
    StructField("x2", DoubleType()),
    StructField("y2", DoubleType()),
])


def marching_squares_segments(arr: np.ndarray, level: float,
                              ox: float = 0.0, oy: float = 0.0
                              ) -> np.ndarray:
    """Segments (n, 4) in pixel-center coordinates (+0.5 offsets),
    shifted by (ox, oy).

    The LEVEL is fudged infinitesimally upward (the reference's level
    fudge, alg/marching_squares/level_generator.h) so iso-lines never
    pass exactly through pixel values — otherwise crossings land on
    cell corners and adjacent cells emit degenerate segments.  The
    fudge is a pure function of the requested level, so every tile
    applies the identical effective level."""
    level = level + max(abs(level), 1.0) * 1e-9
    a = arr[:-1, :-1]   # top-left
    b = arr[:-1, 1:]    # top-right
    c = arr[1:, 1:]     # bottom-right
    d = arr[1:, :-1]    # bottom-left
    ta = a > level
    tb = b > level
    tc = c > level
    td = d > level
    case = (ta.astype(np.int8) | (tb.astype(np.int8) << 1)
            | (tc.astype(np.int8) << 2) | (td.astype(np.int8) << 3))
    h, w = case.shape
    yy, xx = np.mgrid[0:h, 0:w]

    def interp(v0, v1):
        denom = v1 - v0
        t = np.where(denom != 0, (level - v0) / np.where(denom == 0, 1,
                                                         denom), 0.5)
        return np.clip(t, 0.0, 1.0)

    # edge crossing coordinates (pixel centers at +0.5)
    def top(m):
        t = interp(a[m], b[m])
        return xx[m] + 0.5 + t, yy[m] + 0.5 + 0 * t

    def bottom(m):
        t = interp(d[m], c[m])
        return xx[m] + 0.5 + t, yy[m] + 1.5 + 0 * t

    def left(m):
        t = interp(a[m], d[m])
        return xx[m] + 0.5 + 0 * t, yy[m] + 0.5 + t

    def right(m):
        t = interp(b[m], c[m])
        return xx[m] + 1.5 + 0 * t, yy[m] + 0.5 + t

    segs = []

    def emit(m, e1, e2):
        if not m.any():
            return
        x1, y1 = e1(m)
        x2, y2 = e2(m)
        segs.append(np.column_stack([x1, y1, x2, y2]))

    # case table (corner bit set = above level)
    emit(case == 1, left, top)
    emit(case == 2, top, right)
    emit(case == 3, left, right)
    emit(case == 4, right, bottom)
    emit(case == 6, top, bottom)
    emit(case == 7, left, bottom)
    emit(case == 8, bottom, left)
    emit(case == 9, bottom, top)
    emit(case == 11, bottom, right)
    emit(case == 12, right, left)
    emit(case == 13, right, top)   # complement of b: TOP & RIGHT
    emit(case == 14, left, top)    # complement of a: TOP & LEFT
    # saddles: center mean disambiguates
    center = (a + b + c + d) / 4.0
    m5 = (case == 5)
    m5a = m5 & (center > level)    # connect L-T and R-B
    m5b = m5 & ~(center > level)   # connect L-B and R-T
    emit(m5a, left, top)
    emit(m5a, right, bottom)
    emit(m5b, left, bottom)
    emit(m5b, right, top)
    m10 = (case == 10)
    m10a = m10 & (center > level)  # connect T-R and B-L
    m10b = m10 & ~(center > level)
    emit(m10a, top, right)
    emit(m10a, bottom, left)
    emit(m10b, top, left)
    emit(m10b, bottom, right)

    if not segs:
        return np.zeros((0, 4))
    out = np.vstack(segs)
    out[:, 0] += ox
    out[:, 2] += ox
    out[:, 1] += oy
    out[:, 3] += oy
    return out


def contour_tiles(tiles: DataFrame, levels: list[float], gt: list[float],
                  nodata: float | None = None) -> DataFrame:
    """Distributed contour -> segment rows (level, x1, y1, x2, y2) in
    georef coords."""
    lv = [float(x) for x in levels]

    @kernel_name("operators.contour.segments")
    def render(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ts = int(pdf["tile_size"].iloc[0])
        canvas = assemble_halo_canvas(pdf, ts, 1, fill=np.nan)
        if canvas is None:
            return pd.DataFrame({f.name: [] for f in SEG_SCHEMA.fields})
        if nodata is not None:
            canvas = np.where(canvas == nodata, np.nan, canvas)
        tx, ty = int(key[1]), int(key[2])
        # own cells whose top-left pixel is in this tile: pixel rows
        # [0, ts) and cols [0, ts) of the unhaloed tile == canvas
        # offset (1, 1); the right/bottom halo provides the extra
        # row/col those cells need
        window = canvas[1:ts + 2, 1:ts + 2]
        rows = {f.name: [] for f in SEG_SCHEMA.fields}
        # all-one-side early skip: a window whose finite values all
        # sit on one side of the (fudged, same expression as the
        # kernel) level has no crossings — NaN corners read as
        # "below" and every segment a NaN corner could induce lies
        # on an adjacent edge, so it interpolates to NaN coords and
        # is filtered anyway.  Sparse rasters make most tiles
        # constant-zero; this skips their marching pass outright.
        finite = window[np.isfinite(window)]
        if not finite.size:
            return pd.DataFrame(rows)
        w_lo = finite.min()
        w_hi = finite.max()
        for level in lv:
            lf = level + max(abs(level), 1.0) * 1e-9
            if w_hi <= lf or w_lo > lf:
                continue
            segs = marching_squares_segments(window, level)
            if len(segs):
                # cells with nodata/missing-halo corners are skipped
                # (GDAL skips nodata cells); they surface as NaN coords
                segs = segs[~np.isnan(segs).any(axis=1)]
            if not len(segs):
                continue
            # pixel coords -> global pixel -> georef
            gx1 = gt[0] + (segs[:, 0] + tx * ts) * gt[1] \
                + (segs[:, 1] + ty * ts) * gt[2]
            gy1 = gt[3] + (segs[:, 0] + tx * ts) * gt[4] \
                + (segs[:, 1] + ty * ts) * gt[5]
            gx2 = gt[0] + (segs[:, 2] + tx * ts) * gt[1] \
                + (segs[:, 3] + ty * ts) * gt[2]
            gy2 = gt[3] + (segs[:, 2] + tx * ts) * gt[4] \
                + (segs[:, 3] + ty * ts) * gt[5]
            rows["level"].extend([level] * len(segs))
            rows["x1"].extend(gx1)
            rows["y1"].extend(gy1)
            rows["x2"].extend(gx2)
            rows["y2"].extend(gy2)
        return pd.DataFrame(rows)

    return render_by_tile(emit_halos(tiles, 1), render, SEG_SCHEMA)


def stitch_segments(segs: np.ndarray, tol: float = 1e-9
                    ) -> list[np.ndarray]:
    """Chain segments into polylines by shared endpoints (assembly
    helper; GDAL emits stitched LineStrings)."""
    if len(segs) == 0:
        return []
    key = {}

    def kf(p):
        return (round(p[0] / tol) if tol else p[0],
                round(p[1] / tol) if tol else p[1])

    ends: dict[tuple, list[int]] = {}
    for i, s in enumerate(segs):
        ends.setdefault(kf(s[:2]), []).append(i)
        ends.setdefault(kf(s[2:]), []).append(i)
    used = np.zeros(len(segs), dtype=bool)
    _ = key
    lines = []
    for i in range(len(segs)):
        if used[i]:
            continue
        used[i] = True
        chain = [segs[i][:2].copy(), segs[i][2:].copy()]
        # extend forward then backward
        for direction in (1, 0):
            while True:
                tip = chain[-1] if direction else chain[0]
                nxt = None
                for j in ends.get(kf(tip), []):
                    if used[j]:
                        continue
                    nxt = j
                    break
                if nxt is None:
                    break
                used[nxt] = True
                s = segs[nxt]
                if kf(s[:2]) == kf(tip):
                    p = s[2:]
                else:
                    p = s[:2]
                if direction:
                    chain.append(p.copy())
                else:
                    chain.insert(0, p.copy())
        lines.append(np.array(chain))
    return lines


# --------------------------------------------------------------------
# polygon mode
# --------------------------------------------------------------------


def contour_polygons(tiles: DataFrame, levels: list[float],
                     gt: list[float], nodata: float | None = None,
                     connectedness: int = 4) -> DataFrame:
    """Contour POLYGON mode (GDALContourGenerateEx with
    POLYGONIZE=YES, alg/contour.cpp:569 + the marching_squares
    polygon writer): the raster partitions into closed polygons, one
    per connected region of each level band
    [levels[i-1], levels[i]), with open bands below the first and
    at-or-above the last level.

    Execution: pixels classify into their band index (one JVM-free
    Arrow pass), then the band raster flows through polygonize's
    distributed machinery — per-tile CCL, min-label-propagation
    cross-tile merge, streaming ring assembly — so rings close across
    tile borders without any driver-side merge.  Geometric deviation
    from the reference (documented): band boundaries follow pixel
    edges rather than the reference's sub-pixel linear interpolation;
    band membership per pixel is identical, so areas converge to the
    reference's at pixel resolution and region topology matches.

    Output: (band:long, level_min:double nullable, level_max:double
    nullable, geometry WKB, n_pixels) — level_min is NULL for the
    lowest band, level_max NULL for the highest (the reference leaves
    the same fields unset on its open intervals).
    """
    from gdal_spark.operators.polygonize import polygonize_tiles
    from gdal_spark.operators.tiling import decode_tile, encode_tile

    lv = np.array(sorted(float(x) for x in levels), dtype=np.float64)

    def classify(batches):
        for b in batches:
            out = {"zoom": [], "tile_x": [], "tile_y": [], "band": [],
                   "data": [], "dtype": [], "tile_size": []}
            for i in range(len(b)):
                ts = int(b["tile_size"].iloc[i])
                arr = decode_tile(b["data"].iloc[i],
                                  b["dtype"].iloc[i], ts)
                band = np.digitize(arr.astype(np.float64), lv) \
                    .astype(np.float64)
                if nodata is not None:
                    band[arr == nodata] = -1.0
                band[np.isnan(arr.astype(np.float64))] = -1.0
                payload, dts = encode_tile(band, None)
                out["zoom"].append(int(b["zoom"].iloc[i]))
                out["tile_x"].append(int(b["tile_x"].iloc[i]))
                out["tile_y"].append(int(b["tile_y"].iloc[i]))
                out["band"].append(int(b["band"].iloc[i]))
                out["data"].append(payload)
                out["dtype"].append(dts)
                out["tile_size"].append(ts)
            yield pd.DataFrame(out)

    from gdal_spark.operators.tiling import TILE_SCHEMA

    classified = tiles.mapInPandas(classify, TILE_SCHEMA)
    polys = polygonize_tiles(classified, gt, nodata=-1.0,
                             connectedness=connectedness)

    n_lv = len(lv)
    band = F.col("value").cast("long")
    level_min = F.when(band > 0, F.element_at(
        F.lit(lv.tolist()), band.cast("int"))).otherwise(F.lit(None))
    level_max = F.when(band < n_lv, F.element_at(
        F.lit(lv.tolist()), (band + 1).cast("int"))).otherwise(
        F.lit(None))
    return polys.select(
        band.alias("band"),
        level_min.cast("double").alias("level_min"),
        level_max.cast("double").alias("level_max"),
        F.col("geometry"),
        F.col("n_pixels"),
    )
