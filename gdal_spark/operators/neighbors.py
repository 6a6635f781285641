"""Generalized focal / convolution operator — the ``gdal raster
neighbors`` pipeline step.

Reference: apps/gdalalg_raster_neighbors.cpp (kernel-name table :48,
kernel resolution + default-method rules :420-516) executing through
frmts/vrt/vrtfilters.cpp ``VRTKernelFilteredSource::FilterData``
(:480-700).  Semantics re-derived from that loop:

- per center pixel: center == nodata -> output nodata unchanged;
- every window pixel contributes ``value * coef``, SKIPPING
  nodata/NaN pixels and zero coefficients;
- method ``mean``  = sum(contrib) / sum(coef over contributing px)
  (the normalized path), ``sum`` = raw convolution,
  ``min``/``max``/``median``/``stddev``/``mode`` operate on the
  WEIGHTED values (stddev is population /n; median averages the two
  middle values on even counts);
- zero contributing pixels -> nodata for the normalized methods
  (0.0 when the band declares no nodata), but raw ``sum`` yields 0.0
  (the reference emits dfSum before any valid-count check);
- at the raster boundary the reference REPLICATES edge pixels
  outward (vrtfilters.cpp:338 "we replicate the edge").

Distribution: the engine's one halo exchange (operators/halo.py)
ships each tile's w = size//2 -wide border blocks to its 8 neighbours
(a narrow shuffle, ~2w/ts of the tile bytes), each destination
assembles a (ts+2w)^2 canvas, and ONE vectorized sliding_window_view
stencil renders the tile.  Interior missing tiles (sparse rasters)
stay NaN and are skipped like nodata; tiles on the declared raster
boundary replicate their own edge, matching the reference on dense
rasters.

Deviation (declared): ``mode`` ties take the SMALLEST weighted value;
the reference keeps whichever value reached the top count first in
window scan order, which is not reproducible under a different
traversal.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from gdal_spark.operators.halo import (
    assemble_halo_canvas, emit_halos, render_by_tile,
)
from gdal_spark.operators.tiling import TILE_SCHEMA
from gdal_spark.session import kernel_name

# kernel-name table, apps/gdalalg_raster_neighbors.cpp:48-77
# (classic public convolution kernels; see the reference's own
# citation of Kernel_(image_processing))
_NAMED = {
    "u": (3, [0, 0, 0, -1, 0, 1, 0, 0, 0]),
    "v": (3, [0, -1, 0, 0, 0, 0, 0, 1, 0]),
    "edge1": (3, [0, -1, 0, -1, 4, -1, 0, -1, 0]),
    "edge2": (3, [-1, -1, -1, -1, 8, -1, -1, -1, -1]),
    "sharpen": (3, [0, -1, 0, -1, 5, -1, 0, -1, 0]),
    "gaussian-3x3": (3, [1, 2, 1, 2, 4, 2, 1, 2, 1]),
    "gaussian-5x5": (5, [1, 4, 6, 4, 1, 4, 16, 24, 16, 4,
                         6, 24, 36, 24, 6, 4, 16, 24, 16, 4,
                         1, 4, 6, 4, 1]),
    "unsharp-masking-5x5": (5, [1, 4, 6, 4, 1, 4, 16, 24, 16, 4,
                                6, 24, -476, 24, 6,
                                4, 16, 24, 16, 4, 1, 4, 6, 4, 1]),
}

METHODS = ("mean", "sum", "min", "max", "stddev", "median", "mode")


def resolve_kernel(kernel, method: str | None, size: int
                   ) -> tuple[int, np.ndarray, str]:
    """-> (size, coefficient matrix, method) per the reference's
    resolution rules (gdalalg_raster_neighbors.cpp:420-516)."""
    if isinstance(kernel, str) and kernel.startswith("["):
        vals = [float(t) for t in
                kernel.strip("[] ").replace(",", " ").split()]
        kernel = np.asarray(vals)
    if isinstance(kernel, (list, tuple, np.ndarray)):
        coefs = np.asarray(kernel, dtype=np.float64)
        if coefs.ndim == 1:
            k = int(np.floor(np.sqrt(coefs.size) + 0.5))
            if k * k != coefs.size or k % 2 != 1:
                raise ValueError(
                    "custom kernel needs an odd-sized square matrix")
            coefs = coefs.reshape(k, k)
        k = coefs.shape[0]
        if coefs.shape != (k, k) or k % 2 != 1:
            raise ValueError("custom kernel must be odd square")
        zero_sum = abs(float(coefs.sum())) < 1e-10
        if method is None:
            method = "sum" if zero_sum else "mean"
        if method == "mean" and zero_sum:
            raise ValueError(
                "method='mean' needs a non-zero-sum kernel; use 'sum'")
        return k, coefs, method

    name = str(kernel)
    if size == 0:
        size = 5 if name == "unsharp-masking" else 3
    if size % 2 != 1:
        raise ValueError("'size' must be odd")
    if method is None:
        method = "sum" if name in ("u", "v", "edge1", "edge2") \
            else "mean"
    if name == "equal":
        w = 1.0 / (size * size) if method == "mean" else 1.0
        return size, np.full((size, size), w), method
    if name == "gaussian":
        if size not in (3, 5):
            raise ValueError("gaussian kernel supports size 3 or 5")
        k, vals = _NAMED[f"gaussian-{size}x{size}"]
    elif name == "unsharp-masking":
        if size != 5:
            raise ValueError("unsharp-masking supports size 5 only")
        k, vals = _NAMED["unsharp-masking-5x5"]
    elif name in _NAMED:
        if size != 3:
            raise ValueError(f"kernel {name!r} supports size 3 only")
        k, vals = _NAMED[name]
    else:
        raise ValueError(
            f"unknown kernel {name!r}; valid: u v equal edge1 edge2 "
            f"sharpen gaussian unsharp-masking or a [..] matrix")
    arr = np.asarray(vals, dtype=np.float64).reshape(k, k)
    if name in ("gaussian", "unsharp-masking"):
        arr = arr / arr.sum()           # normalizeCoefs=true
    elif name in ("u", "v"):
        arr = arr * 0.5                 # weightIfNotNormalized=0.5
    return k, arr, method


def _focal(vals: np.ndarray, valid: np.ndarray, coef: np.ndarray,
           method: str, fillv: float) -> np.ndarray:
    """vals/valid: (ts, ts, K*K) weighted window values + mask."""
    count = valid.sum(axis=-1)
    if method == "sum":
        return np.where(valid, vals, 0.0).sum(axis=-1)
    if method == "mean":
        s = np.where(valid, vals, 0.0).sum(axis=-1)
        ks = np.where(valid, coef, 0.0).sum(axis=-1)
        with np.errstate(invalid="ignore", divide="ignore"):
            out = s / ks
        return np.where((count == 0) | (ks == 0.0), fillv, out)
    if method == "min":
        out = np.where(valid, vals, np.inf).min(axis=-1)
        return np.where(count == 0, fillv, out)
    if method == "max":
        out = np.where(valid, vals, -np.inf).max(axis=-1)
        return np.where(count == 0, fillv, out)
    if method == "stddev":
        s = np.where(valid, vals, 0.0).sum(axis=-1)
        with np.errstate(invalid="ignore", divide="ignore"):
            m = s / count
            m2 = np.where(valid, (vals - m[..., None]) ** 2,
                          0.0).sum(axis=-1)
            out = np.sqrt(m2 / count)
        return np.where(count == 0, fillv, out)
    if method == "median":
        masked = np.where(valid, vals, np.nan)
        with np.errstate(invalid="ignore"):
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                out = np.nanmedian(masked, axis=-1)
        return np.where(count == 0, fillv, out)
    if method == "mode":
        kk = vals.shape[-1]
        s = np.sort(np.where(valid, vals, np.inf), axis=-1)
        idx = np.arange(kk)
        new = np.ones(s.shape, dtype=bool)
        new[..., 1:] = s[..., 1:] != s[..., :-1]
        start = np.maximum.accumulate(np.where(new, idx, 0), axis=-1)
        runlen = idx - start + 1
        runlen = np.where(np.isinf(s), 0, runlen)
        best = np.argmax(runlen, axis=-1)
        out = np.take_along_axis(s, best[..., None], axis=-1)[..., 0]
        return np.where(count == 0, fillv, out)
    raise ValueError(f"unknown method {method!r}; valid: {METHODS}")


def neighbors_tiles(tiles: DataFrame, kernel="equal",
                    method: str | None = None, size: int = 0,
                    nodata: float | None = None,
                    extent_tiles: tuple[int, int, int, int] | None = None,
                    ) -> DataFrame:
    """``gdal raster neighbors``: focal statistics / convolution over
    a distributed tile frame -> float64 tile frame.

    kernel: a reference kernel name (``equal u v edge1 edge2 sharpen
    gaussian unsharp-masking``), a ``"[a,b,...]"`` string, or an
    odd-square coefficient matrix.  method: one of METHODS (default
    per the reference: zero-sum kernels -> 'sum', else 'mean').
    extent_tiles: (min_tx, min_ty, max_tx, max_ty) raster boundary
    for edge replication; inferred with one bounded JVM agg when
    omitted.
    """
    k, coefs, method = resolve_kernel(kernel, method, size)
    if method not in METHODS:
        raise ValueError(f"unknown method {method!r}; valid: {METHODS}")
    w = k // 2

    if extent_tiles is None:
        # one 5-scalar agg row — bounded driver read; the halo
        # groups by (zoom, x, y, band), but edge REPLICATION needs
        # one extent, so mixed-zoom frames must pass it explicitly
        row = tiles.agg(
            F.min("tile_x"), F.min("tile_y"),
            F.max("tile_x"), F.max("tile_y"),
            F.countDistinct("zoom").alias("nz")).collect()[0]
        if row[0] is None:
            extent_tiles = (0, 0, 0, 0)
        elif int(row["nz"]) > 1:
            raise ValueError(
                "neighbors_tiles cannot infer one raster boundary "
                "from a mixed-zoom frame; pass extent_tiles= or "
                "filter to one zoom")
        else:
            extent_tiles = (int(row[0]), int(row[1]),
                            int(row[2]), int(row[3]))
    x0, y0, x1, y1 = extent_tiles
    coef_flat = coefs.reshape(-1)

    @kernel_name("operators.neighbors.focal")
    def render(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ts = int(pdf["tile_size"].iloc[0])
        canvas = assemble_halo_canvas(pdf, ts, w, fill=np.nan)
        if canvas is None:          # halo addressed to a hole
            return pd.DataFrame({f.name: [] for f in TILE_SCHEMA.fields})
        if nodata is not None:
            canvas[canvas == nodata] = np.nan
        arr = canvas[w:w + ts, w:w + ts]
        # edge replication at the declared raster boundary
        # (vrtfilters.cpp:338; left/right first, then whole rows)
        zoom, tx, ty = int(key[0]), int(key[1]), int(key[2])
        if w:
            if tx == x0:
                canvas[:, :w] = canvas[:, w:w + 1]
            if tx == x1:
                canvas[:, -w:] = canvas[:, -w - 1:-w]
            if ty == y0:
                canvas[:w, :] = canvas[w:w + 1, :]
            if ty == y1:
                canvas[-w:, :] = canvas[-w - 1:-w, :]

        win = np.lib.stride_tricks.sliding_window_view(canvas, (k, k))
        vals = win.reshape(ts, ts, k * k) * coef_flat
        valid = (~np.isnan(win.reshape(ts, ts, k * k))) \
            & (coef_flat != 0.0)
        fillv = float(nodata) if nodata is not None else 0.0
        out = _focal(vals, valid, coef_flat, method, fillv)
        if nodata is not None:      # center nodata passes through
            out = np.where(np.isnan(arr), nodata, out)
        else:
            out = np.where(np.isnan(arr), 0.0, out)
        return pd.DataFrame({
            "zoom": [zoom], "tile_x": [tx], "tile_y": [ty],
            "band": [int(key[3])],
            "data": [np.ascontiguousarray(out).tobytes()],
            "dtype": ["float64"], "tile_size": [ts],
        })

    return render_by_tile(emit_halos(tiles, w), render, TILE_SCHEMA)
