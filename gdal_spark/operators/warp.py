"""Warp / reproject: per-tile inverse-mapping resample.

Re-creates gdalwarp's execution model (alg/gdalwarpoperation.cpp:100-144:
split output into chunks, for each chunk read the source window it
maps back to, resample) as a Spark shuffle:

  1. for every destination tile, back-project its (slightly padded)
     bounds through the inverse CRS transform -> source pixel bbox ->
     the set of source tiles it needs (driver-side metadata math);
  2. join that (dst_tile, src_tile) pair table with the source tile
     rows — Catalyst picks broadcast or shuffle join by size;
  3. per dst tile, assemble the local source patch and resample at
     dst pixel centers via the inverse transform, vectorized numpy.

Supported transforms: EPSG:4326 <-> EPSG:3857 closed forms + affine
grid-to-grid (which also implements gdal_translate's -srcwin/-outsize
resampling, apps/gdal_translate_lib.cpp); the reference's approximate
transformer (alg/gdaltransformer.cpp:58) exists to cut per-point
transform cost — unnecessary here because the closed forms are
vectorized numpy over the whole tile.

Resampling kernels: near, bilinear, average — the subset the
reference's tests exercise first (GDALResampleAlg,
alg/gdalwarper.h:34-68); pixel-center convention: dst pixel (i, j)
samples at (i+0.5, j+0.5), source pixel index = floor(src_coord).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from gdal_spark.functions import geo
from gdal_spark.operators.rasterize import GridSpec
from gdal_spark.operators.tiling import TILE_SCHEMA


# --- CRS closed forms (vectorized) ------------------------------------

def _merc_fwd(lon: np.ndarray, lat: np.ndarray):
    x = lon * geo.ORIGIN / 180.0
    la = np.clip(lat, -geo.MERC_LAT_MAX, geo.MERC_LAT_MAX)
    y = np.log(np.tan((90.0 + la) * np.pi / 360.0)) / np.pi * geo.ORIGIN
    return x, y


def _merc_inv(x: np.ndarray, y: np.ndarray):
    lon = x / geo.ORIGIN * 180.0
    lat = np.degrees(2.0 * np.arctan(np.exp(y / geo.ORIGIN * np.pi))
                     - np.pi / 2.0)
    return lon, lat


def transform_fn(src_crs: str, dst_crs: str):
    """world (dst) -> world (src) inverse transform function."""
    s = (src_crs or "").upper()
    d = (dst_crs or "").upper()
    if s == d:
        return lambda x, y: (x, y)
    if s == "EPSG:4326" and d == "EPSG:3857":
        return _merc_inv          # dst(3857) coords -> src(4326)
    if s == "EPSG:3857" and d == "EPSG:4326":
        return _merc_fwd          # dst(4326) coords -> src(3857)
    # general pairs (incl. all WGS84 UTM zones) via the Krueger-series
    # transverse Mercator in functions/crs.py — closed forms, so no
    # approximate-transformer corner fit is needed per tile
    from gdal_spark.functions import crs as _crs

    return _crs.transform(d, s)


# --- single-patch resample kernel -------------------------------------

def resample_patch(
    patch: np.ndarray, patch_ox: int, patch_oy: int,
    src_x: np.ndarray, src_y: np.ndarray,
    resample: str, nodata: float | None = None,
) -> np.ndarray:
    """Sample ``patch`` (origin at global src pixel (patch_ox,
    patch_oy)) at fractional source pixel coords (src_x, src_y),
    arrays shaped like the dst tile."""
    h, w = patch.shape
    lx = src_x - patch_ox
    ly = src_y - patch_oy
    fill = nodata if nodata is not None else 0
    if resample == "near":
        ix = np.floor(lx).astype(np.int64)
        iy = np.floor(ly).astype(np.int64)
        valid = (ix >= 0) & (ix < w) & (iy >= 0) & (iy < h)
        out = np.full(lx.shape, fill, dtype=np.float64)
        out[valid] = patch[iy[valid], ix[valid]]
        return out
    if resample == "bilinear":
        fx = lx - 0.5
        fy = ly - 0.5
        x0 = np.floor(fx).astype(np.int64)
        y0 = np.floor(fy).astype(np.int64)
        tx = fx - x0
        ty = fy - y0
        out = np.zeros(lx.shape, dtype=np.float64)
        wsum = np.zeros(lx.shape, dtype=np.float64)
        for dy in (0, 1):
            for dx in (0, 1):
                xx = x0 + dx
                yy = y0 + dy
                wgt = (tx if dx else 1 - tx) * (ty if dy else 1 - ty)
                ok = (xx >= 0) & (xx < w) & (yy >= 0) & (yy < h)
                if nodata is not None:
                    ok &= np.where(ok, patch[np.clip(yy, 0, h - 1),
                                             np.clip(xx, 0, w - 1)]
                                   != nodata, False)
                v = np.where(ok, patch[np.clip(yy, 0, h - 1),
                                       np.clip(xx, 0, w - 1)], 0.0)
                out += np.where(ok, wgt * v, 0.0)
                wsum += np.where(ok, wgt, 0.0)
        res = np.where(wsum > 0, out / np.where(wsum == 0, 1, wsum), fill)
        return res
    if resample == "cubic":
        # cubic convolution, a = -0.5 (the GDALResampleAlg GRA_Cubic
        # kernel of alg/gdalwarpkernel.cpp — Catmull-Rom family)
        def wcub(t):
            at = np.abs(t)
            a = -0.5
            return np.where(
                at <= 1.0,
                (a + 2) * at ** 3 - (a + 3) * at ** 2 + 1,
                np.where(at < 2.0,
                         a * at ** 3 - 5 * a * at ** 2 + 8 * a * at
                         - 4 * a, 0.0),
            )

        fx = lx - 0.5
        fy = ly - 0.5
        x0 = np.floor(fx).astype(np.int64)
        y0 = np.floor(fy).astype(np.int64)
        out = np.zeros(lx.shape, dtype=np.float64)
        wsum = np.zeros(lx.shape, dtype=np.float64)
        for dy in (-1, 0, 1, 2):
            for dx in (-1, 0, 1, 2):
                xx = x0 + dx
                yy = y0 + dy
                wgt = wcub(fx - xx) * wcub(fy - yy)
                ok = (xx >= 0) & (xx < w) & (yy >= 0) & (yy < h)
                v = patch[np.clip(yy, 0, h - 1), np.clip(xx, 0, w - 1)]
                if nodata is not None:
                    ok &= v != nodata
                out += np.where(ok, wgt * v, 0.0)
                wsum += np.where(ok, wgt, 0.0)
        return np.where(wsum != 0, out / np.where(wsum == 0, 1, wsum),
                        fill)
    if resample in ("lanczos", "cubicspline"):
        # lanczos: windowed sinc, a=3 (GRA_Lanczos, 6x6 support);
        # cubicspline: cubic B-spline weights (GRA_CubicSpline, 4x4)
        if resample == "lanczos":
            support = 3

            def wfn(t):
                at = np.abs(t)
                with np.errstate(divide="ignore", invalid="ignore"):
                    w_ = (3.0 * np.sin(np.pi * at)
                          * np.sin(np.pi * at / 3.0)
                          / (np.pi * np.pi * at * at))
                return np.where(at < 1e-12, 1.0,
                                np.where(at < 3.0, w_, 0.0))
        else:
            support = 2

            def wfn(t):
                at = np.abs(t)
                return np.where(
                    at <= 1.0,
                    (4.0 - 6.0 * at ** 2 + 3.0 * at ** 3) / 6.0,
                    np.where(at < 2.0, ((2.0 - at) ** 3) / 6.0, 0.0),
                )

        fx = lx - 0.5
        fy = ly - 0.5
        x0 = np.floor(fx).astype(np.int64)
        y0 = np.floor(fy).astype(np.int64)
        out = np.zeros(lx.shape, dtype=np.float64)
        wsum = np.zeros(lx.shape, dtype=np.float64)
        for dy in range(-support + 1, support + 1):
            for dx in range(-support + 1, support + 1):
                xx = x0 + dx
                yy = y0 + dy
                wgt = wfn(fx - xx) * wfn(fy - yy)
                ok = (xx >= 0) & (xx < w) & (yy >= 0) & (yy < h)
                v = patch[np.clip(yy, 0, h - 1), np.clip(xx, 0, w - 1)]
                if nodata is not None:
                    ok &= v != nodata
                out += np.where(ok, wgt * v, 0.0)
                wsum += np.where(ok, wgt, 0.0)
        return np.where(wsum != 0, out / np.where(wsum == 0, 1, wsum),
                        fill)
    if resample in ("min", "max", "med", "q1", "q3", "sum", "rms",
                    "mode", "average"):
        return _footprint_stat(patch, lx, ly, resample, nodata, fill)
    raise ValueError(f"unsupported resample {resample}")


def _footprint_stat(patch, lx, ly, stat, nodata, fill):
    """Box-footprint statistical kernels (GDALResampleAlg
    GRA_Average/Min/Max/Med/Q1/Q3/Sum/RMS/Mode,
    alg/gdalwarper.h:34-68): aggregate source pixels whose centers
    fall in each dst pixel's source footprint.

    Dispatch (r7): every CRS pair this engine warps between maps x
    from x and y from y, so the footprint intervals are SEPARABLE —
    one interval per dst column and one per dst row.  When the
    coordinate arrays are bitwise-separable the vectorized per-row
    path runs (same interval law, same reduction order as
    block.ravel() — see _footprint_stat_rows); anything else falls
    back to the original per-pixel loop, which also remains the
    reference for the bit-equality differential test."""
    if stat != "mode" and (nodata is None
                           or stat in ("min", "max")):
        # nodata + sum/average/rms stays on the loop: masked
        # substitution changes the pairwise-summation tree for
        # blocks > 128 elements; min/max are order-free
        if (lx == lx[0:1, :]).all() and (ly == ly[:, 0:1]).all():
            return _footprint_stat_rows(patch, lx, ly, stat, nodata,
                                        fill)
    return _footprint_stat_loop(patch, lx, ly, stat, nodata, fill)


def _footprint_intervals(c: np.ndarray, g: np.ndarray, n: int
                         ) -> tuple[np.ndarray, np.ndarray]:
    """The loop's per-axis window law, vectorized verbatim:
    half-open center-in-footprint bounds, nearest-pixel fallback
    for sub-pixel footprints, clamp to [0, n]."""
    r = np.abs(g) / 2
    a0 = np.ceil(c - r - 0.5).astype(np.int64)
    a1 = np.ceil(c + r - 0.5).astype(np.int64)
    narrow = a1 <= a0
    if narrow.any():
        f = np.floor(c[narrow]).astype(np.int64)
        a0[narrow] = f
        a1[narrow] = f + 1
    return np.clip(a0, 0, None), np.minimum(a1, n)


def _footprint_stat_rows(patch, lx, ly, stat, nodata, fill):
    """Vectorized separable path: gather each row's uniform-width
    blocks into a (cols, kh*kw) matrix whose last axis is laid out
    in block.ravel() order, then reduce along it — numpy's add
    reduction over a contiguous axis applies the same (pairwise)
    summation it applies to the 1-D ravel, so sums/means are
    bit-identical to the loop; min/max/median/percentile are
    order-free.  nodata masking (min/max only — the dispatcher
    routes other masked stats to the loop) substitutes +/-inf
    sentinels, with all-masked blocks restored to ``fill``."""
    h, w = patch.shape
    dx = np.gradient(lx, axis=1)
    dy = np.gradient(ly, axis=0)
    out = np.full(lx.shape, np.float64(fill))
    x0v, x1v = _footprint_intervals(lx[0], dx[0], w)
    y0v, y1v = _footprint_intervals(ly[:, 0], dy[:, 0], h)
    kws = x1v - x0v
    for j in range(lx.shape[0]):
        y0, y1 = int(y0v[j]), int(y1v[j])
        kh = y1 - y0
        if kh <= 0:
            continue
        rows = patch[y0:y1]
        for kw in np.unique(kws):
            if kw <= 0:
                continue
            cols = np.flatnonzero(kws == kw)
            idx = x0v[cols][:, None] + np.arange(kw)[None, :]
            vals = rows[:, idx]                  # (kh, C, kw)
            vals = vals.transpose(1, 0, 2).reshape(len(cols),
                                                   kh * kw)
            mask = (vals != nodata) if nodata is not None else None
            if stat == "average":
                res = vals.mean(axis=1)
            elif stat == "min":
                res = (vals.min(axis=1) if mask is None else
                       np.where(mask, vals, np.inf).min(axis=1))
            elif stat == "max":
                res = (vals.max(axis=1) if mask is None else
                       np.where(mask, vals, -np.inf).max(axis=1))
            elif stat == "sum":
                res = vals.sum(axis=1)
            elif stat == "med":
                res = np.median(vals, axis=1)
            elif stat == "q1":
                res = np.percentile(vals, 25, axis=1)
            elif stat == "q3":
                res = np.percentile(vals, 75, axis=1)
            elif stat == "rms":
                res = np.sqrt((vals.astype(np.float64) ** 2)
                              .mean(axis=1))
            else:  # pragma: no cover - dispatcher guards
                raise ValueError(stat)
            if mask is None:
                out[j, cols] = res
            else:
                ok = mask.any(axis=1)
                out[j, cols[ok]] = res[ok]
    return out


def _footprint_stat_loop(patch, lx, ly, stat, nodata, fill):
    """The original per-pixel reference loop (kept verbatim as the
    fallback and the differential-test reference)."""
    h, w = patch.shape
    dx = np.gradient(lx, axis=1)
    dy = np.gradient(ly, axis=0)
    out = np.full(lx.shape, np.float64(fill))
    for j in range(lx.shape[0]):
        for i in range(lx.shape[1]):
            # CENTER-IN-FOOTPRINT, half-open: src pixel k (center
            # k+0.5) belongs iff k+0.5 in [c-r, c+r), i.e. k in
            # [ceil(c-r-0.5), ceil(c+r-0.5)).  The decision edges sit
            # at HALF-integers, so the exact-alignment case (integer
            # window bounds, e.g. an aligned 2x downscale) is stable
            # under float noise — floor/ceil on the raw bounds sat on
            # knife-edge integers and any epsilon at Mercator-scale
            # coords widened a 2x2 window to 3x2, inflating SUM by
            # ~25% (caught by the q52 mass-conservation oracle).
            rx = abs(dx[j, i]) / 2
            ry = abs(dy[j, i]) / 2
            x0 = int(np.ceil(lx[j, i] - rx - 0.5))
            x1 = int(np.ceil(lx[j, i] + rx - 0.5))
            y0 = int(np.ceil(ly[j, i] - ry - 0.5))
            y1 = int(np.ceil(ly[j, i] + ry - 0.5))
            if x1 <= x0:          # footprint narrower than a pixel:
                x0 = int(np.floor(lx[j, i]))
                x1 = x0 + 1       # fall back to the nearest pixel
            if y1 <= y0:
                y0 = int(np.floor(ly[j, i]))
                y1 = y0 + 1
            x0, x1 = max(x0, 0), min(x1, w)
            y0, y1 = max(y0, 0), min(y1, h)
            if x1 <= x0 or y1 <= y0:
                continue
            block = patch[y0:y1, x0:x1].ravel()
            if nodata is not None:
                block = block[block != nodata]
            if not block.size:
                continue
            if stat == "average":
                out[j, i] = block.mean()
            elif stat == "min":
                out[j, i] = block.min()
            elif stat == "max":
                out[j, i] = block.max()
            elif stat == "sum":
                out[j, i] = block.sum()
            elif stat == "med":
                out[j, i] = np.median(block)
            elif stat == "q1":
                out[j, i] = np.percentile(block, 25)
            elif stat == "q3":
                out[j, i] = np.percentile(block, 75)
            elif stat == "rms":
                out[j, i] = np.sqrt((block.astype(np.float64) ** 2)
                                    .mean())
            elif stat == "mode":
                vals, cnts = np.unique(block, return_counts=True)
                out[j, i] = vals[np.argmax(cnts)]
    return out


# --- distributed warp ---------------------------------------------------

def warp_tiles(
    src_tiles: DataFrame,
    src_grid: GridSpec, dst_grid: GridSpec,
    src_crs: str, dst_crs: str,
    resample: str = "near",
    nodata: float | None = None,
    tile_size: int = 256,
    dtype: str | None = None,
    inv_fn=None,
) -> DataFrame:
    """Warp a tiled raster from (src_grid, src_crs) to (dst_grid,
    dst_crs).  Returns TILE_SCHEMA rows on dst_grid's tile lattice.

    ``inv_fn`` overrides the CRS transform with an arbitrary
    vectorized dst-world -> src-world inverse — the GCP polynomial /
    thin-plate-spline transformers from functions/gcp.py plug in
    here (the reference's GDALCreateGCPTransformer /
    GDALCreateTPSTransformer warp path)."""
    spark = src_tiles.sparkSession
    inv = inv_fn if inv_fn is not None else \
        transform_fn(src_crs, dst_crs)

    n_dtx = (dst_grid.width + tile_size - 1) // tile_size
    n_dty = (dst_grid.height + tile_size - 1) // tile_size
    n_stx = (src_grid.width + tile_size - 1) // tile_size
    n_sty = (src_grid.height + tile_size - 1) // tile_size

    # dst tile -> src tile cover (metadata math, vectorized driver-side)
    pairs = {"dtx": [], "dty": [], "tile_x": [], "tile_y": []}
    for dty in range(n_dty):
        for dtx in range(n_dtx):
            # sample the dst tile border in pixel space (corners +
            # edge midpoints capture curvature for these CRS pairs)
            xs = np.array([0, 0.5, 1.0, 0, 1.0, 0, 0.5, 1.0]) * tile_size \
                + dtx * tile_size
            ys = np.array([0, 0, 0, 0.5, 0.5, 1.0, 1.0, 1.0]) * tile_size \
                + dty * tile_size
            wx = dst_grid.x0 + xs * dst_grid.px_w
            wy = dst_grid.y1 - ys * dst_grid.px_h
            sx_w, sy_w = inv(wx, wy)
            spx = (sx_w - src_grid.x0) / src_grid.px_w
            spy = (src_grid.y1 - sy_w) / src_grid.px_h
            pad = 2.0
            tx0 = int(np.clip((spx.min() - pad) // tile_size, 0, n_stx - 1))
            tx1 = int(np.clip((spx.max() + pad) // tile_size, 0, n_stx - 1))
            ty0 = int(np.clip((spy.min() - pad) // tile_size, 0, n_sty - 1))
            ty1 = int(np.clip((spy.max() + pad) // tile_size, 0, n_sty - 1))
            if spx.max() < -pad or spx.min() > src_grid.width + pad or \
               spy.max() < -pad or spy.min() > src_grid.height + pad:
                continue
            for sty in range(ty0, ty1 + 1):
                for stx in range(tx0, tx1 + 1):
                    pairs["dtx"].append(dtx)
                    pairs["dty"].append(dty)
                    pairs["tile_x"].append(stx)
                    pairs["tile_y"].append(sty)
    pair_df = spark.createDataFrame(pd.DataFrame(pairs))

    joined = pair_df.join(
        src_tiles.withColumnRenamed("zoom", "src_zoom"),
        ["tile_x", "tile_y"],
    )

    sg = (src_grid.x0, src_grid.y1, src_grid.px_w, src_grid.px_h,
          src_grid.width, src_grid.height)
    dg = (dst_grid.x0, dst_grid.y1, dst_grid.px_w, dst_grid.px_h,
          dst_grid.width, dst_grid.height)

    def render(key, pdf: pd.DataFrame) -> pd.DataFrame:
        dtx, dty = int(key[0]), int(key[1])
        ts = tile_size
        dt_out = np.dtype(dtype or
                          pdf["dtype"].iloc[0].split(":")[-1])
        # assemble the source patch bbox covering all needed tiles
        txs = pdf["tile_x"].astype(int)
        tys = pdf["tile_y"].astype(int)
        px0 = txs.min() * ts
        py0 = tys.min() * ts
        pw = (txs.max() - txs.min() + 1) * ts
        ph = (tys.max() - tys.min() + 1) * ts
        patch = np.full((ph, pw),
                        np.float64(nodata if nodata is not None else 0))
        for _, r in pdf.iterrows():
            from gdal_spark.operators.tiling import decode_tile

            sub = decode_tile(r["data"], r["dtype"], ts)
            ox = (int(r["tile_x"]) - txs.min()) * ts
            oy = (int(r["tile_y"]) - tys.min()) * ts
            patch[oy:oy + ts, ox:ox + ts] = sub
        # dst pixel centers -> world -> src world -> src pixel coords
        jj, ii = np.mgrid[0:ts, 0:ts]
        gx = dtx * ts + ii + 0.5
        gy = dty * ts + jj + 0.5
        wx = dg[0] + gx * dg[2]
        wy = dg[1] - gy * dg[3]
        sxw, syw = inv(wx, wy)
        spx = (sxw - sg[0]) / sg[2]
        spy = (sg[1] - syw) / sg[3]
        out = resample_patch(patch, px0, py0, spx, spy, resample, nodata)
        arr = _cast_to(out, dt_out)
        return pd.DataFrame({
            "zoom": [-1], "tile_x": [dtx], "tile_y": [dty], "band": [1],
            "data": [arr.tobytes()], "dtype": [str(dt_out)],
            "tile_size": [ts],
        })

    # explicit-width hash repartition on the group keys: the groupBy
    # alone would let AQE coalesce the exchange by BYTES, and with
    # compressed tile payloads the whole CPU-bound render collapses
    # onto ~1 task (measured 6 -> 37 s when the source tiles became
    # deflate-coded); REPARTITION_BY_NUM pins the width and satisfies
    # the groupBy's distribution, so no second exchange appears
    par = spark.sparkContext.defaultParallelism
    return (
        joined.repartition(par, "dtx", "dty")
        .groupBy("dtx", "dty")
        .applyInPandas(render, TILE_SCHEMA)
    )


def _cast_to(arr: np.ndarray, dt: np.dtype) -> np.ndarray:
    """GDALCopyWord cast: round-half-away + clamp for integer types."""
    if np.issubdtype(dt, np.integer):
        info = np.iinfo(dt)
        r = np.where(arr >= 0, np.floor(arr + 0.5), np.ceil(arr - 0.5))
        return np.clip(r, info.min, info.max).astype(dt)
    return arr.astype(dt)


# --- translate ---------------------------------------------------------

def translate_grid(src_grid: GridSpec, srcwin: tuple[int, int, int, int],
                   outsize: tuple[int, int] | None = None) -> GridSpec:
    """-srcwin (xoff, yoff, xsize, ysize) + -outsize -> output grid
    (apps/gdal_translate_lib.cpp window/outsize semantics)."""
    xoff, yoff, xsize, ysize = srcwin
    ow, oh = outsize or (xsize, ysize)
    return GridSpec(
        x0=src_grid.x0 + xoff * src_grid.px_w,
        y1=src_grid.y1 - yoff * src_grid.px_h,
        px_w=src_grid.px_w * xsize / ow,
        px_h=src_grid.px_h * ysize / oh,
        width=ow, height=oh,
    )


def translate_tiles(
    src_tiles: DataFrame, src_grid: GridSpec,
    srcwin: tuple[int, int, int, int],
    outsize: tuple[int, int] | None = None,
    resample: str = "near",
    ot: str | None = None,
    scale: tuple[float, float, float, float] | None = None,
    exponent: float | None = None,
    nodata: float | None = None,
    tile_size: int = 256,
    crs: str = "EPSG:3857",
) -> DataFrame:
    """gdal_translate: window + resize + rescale + type cast
    (apps/gdal_translate_lib.cpp:108-182 options).

    ``scale``: (src_min, src_max, dst_min, dst_max) linear rescale;
    ``exponent``: non-linear power rescale applied to the normalized
    value (gdal_translate -scale/-exponent semantics).
    """
    dst_grid = translate_grid(src_grid, srcwin, outsize)
    out = warp_tiles(src_tiles, src_grid, dst_grid, crs, crs, resample,
                     nodata, tile_size, dtype=None)
    if scale is None and ot is None:
        return out

    def post(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            dts = []
            for _, r in b.iterrows():
                ts = int(r["tile_size"])
                from gdal_spark.operators.tiling import decode_tile

                arr = decode_tile(r["data"], r["dtype"], ts) \
                    .astype(np.float64)
                if scale is not None:
                    s0, s1, d0, d1 = scale
                    norm = (arr - s0) / (s1 - s0)
                    norm = np.clip(norm, 0.0, 1.0)
                    if exponent is not None:
                        norm = norm ** exponent
                    arr = d0 + norm * (d1 - d0)
                dt = np.dtype(ot) if ot else \
                    np.dtype(r["dtype"].split(":")[-1])
                rows.append(_cast_to(arr, dt).tobytes())
                dts.append(str(dt))
            out_b = b.copy()
            out_b["data"] = rows
            out_b["dtype"] = dts
            yield out_b

    return out.mapInPandas(post, TILE_SCHEMA)


def tiles_from_array(spark: SparkSession, arr: np.ndarray,
                     tile_size: int = 256) -> tuple[DataFrame, int, int]:
    """Split a full raster into TILE_SCHEMA rows (tests / ingestion)."""
    h, w = arr.shape
    rows = []
    for ty in range(0, (h + tile_size - 1) // tile_size):
        for tx in range(0, (w + tile_size - 1) // tile_size):
            sub = np.zeros((tile_size, tile_size), dtype=arr.dtype)
            piece = arr[ty * tile_size:(ty + 1) * tile_size,
                        tx * tile_size:(tx + 1) * tile_size]
            sub[:piece.shape[0], :piece.shape[1]] = piece
            rows.append({
                "zoom": -1, "tile_x": tx, "tile_y": ty, "band": 1,
                "data": sub.tobytes(), "dtype": str(arr.dtype),
                "tile_size": tile_size,
            })
    return spark.createDataFrame(pd.DataFrame(rows)), w, h
