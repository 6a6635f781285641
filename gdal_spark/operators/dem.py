"""DEM / focal-window operators: hillshade, slope, aspect, TPI, TRI,
roughness.

The reference implements these as one generic 3x3 processing loop
(GDALGeneric3x3ProcessingAlg, apps/gdaldem_lib.cpp:206-253) over
scanlines; this engine renders the same kernels per tile over the
engine's one halo exchange (operators/halo.py): every tile ships its
1-pixel border strips to its 8 neighbours, each destination assembles
a (ts+2, ts+2) canvas (missing neighbours are nodata and excluded,
GDAL's edge handling), and a vectorized numpy stencil computes the
output tile.

Formulas (Horn's method, the reference's default):
  dz/dx = ((c + 2f + i) - (a + 2d + g)) / (8 * xres)
  dz/dy = ((g + 2h + i) - (a + 2b + c)) / (8 * yres)
  slope = atan(z * hypot(dzdx, dzdy))            [degrees]
  aspect = atan2(dzdy, -dzdx)                    [degrees, geographic]
  hillshade = 255*(cos(zen)cos(s) + sin(zen)sin(s)cos(az - asp))
  TPI = center - mean(8 neighbors)
  TRI = mean(|neighbor - center|)                 (Wilson)
  roughness = max(window) - min(window)
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from gdal_spark.operators.halo import (
    assemble_halo_canvas, emit_halos, render_by_tile,
)
from gdal_spark.operators.tiling import TILE_SCHEMA
from gdal_spark.session import kernel_name


def focal_tiles(tiles: DataFrame, op: str, xres: float = 1.0,
                yres: float = 1.0, nodata: float | None = None,
                z_factor: float = 1.0, azimuth: float = 315.0,
                altitude: float = 45.0,
                alg: str = "horn") -> DataFrame:
    """Apply a 3x3 focal op to every tile (halo-exchanged).

    ``alg``: gradient algorithm for slope/aspect/hillshade —
    'horn' (the reference default) or 'zt' (Zevenbergen-Thorne
    central differences, gdaldem --alg ZevenbergenThorne,
    apps/gdaldem_lib.cpp:798)."""

    @kernel_name("operators.dem.focal")
    def render(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ts = int(pdf["tile_size"].iloc[0])
        canvas = assemble_halo_canvas(pdf, ts, 1, fill=np.nan)
        if canvas is None:
            return pd.DataFrame(
                {k.name: [] for k in TILE_SCHEMA.fields})
        if nodata is not None:
            canvas[canvas == nodata] = np.nan
        out = focal_kernel(canvas, op, xres, yres, z_factor,
                           azimuth, altitude, alg)
        out = np.where(np.isnan(out), 0.0 if nodata is None else nodata,
                       out)
        return pd.DataFrame({
            "zoom": [int(key[0])], "tile_x": [int(key[1])],
            "tile_y": [int(key[2])], "band": [int(key[3])],
            "data": [out.astype(np.float64).tobytes()],
            "dtype": ["float64"], "tile_size": [ts],
        })

    return render_by_tile(emit_halos(tiles, 1), render, TILE_SCHEMA)


def focal_kernel(canvas: np.ndarray, op: str, xres: float, yres: float,
                 z_factor: float, azimuth: float, altitude: float,
                 alg: str = "horn") -> np.ndarray:
    """3x3 stencil over a haloed canvas -> (ts, ts) output."""
    a = canvas[:-2, :-2]
    b = canvas[:-2, 1:-1]
    c = canvas[:-2, 2:]
    d = canvas[1:-1, :-2]
    e = canvas[1:-1, 1:-1]
    f = canvas[1:-1, 2:]
    g = canvas[2:, :-2]
    h = canvas[2:, 1:-1]
    i = canvas[2:, 2:]
    if op in ("slope", "aspect", "hillshade",
              "hillshade-combined", "hillshade-multidirectional",
              "hillshade-igor"):
        if alg == "zt":
            # Zevenbergen-Thorne central differences (zf = z/2 in
            # the reference; the /2 lives in the denominator here)
            dzdx = (f - d) / (2.0 * xres)
            dzdy = (h - b) / (2.0 * yres)
        else:
            dzdx = ((c + 2 * f + i) - (a + 2 * d + g)) / (8.0 * xres)
            dzdy = ((g + 2 * h + i) - (a + 2 * b + c)) / (8.0 * yres)
        if op.startswith("hillshade-"):
            # gdaldem -combined / -multidirectional / -igor
            # (apps/gdaldem_lib.cpp GDALHillshadeCombinedAlg:1151,
            # MultiDirectionalAlg:1253, IgorAlg:947), re-expressed
            # in u = zf*X = -z*dzdx, v = zf*Y = -z*dzdy (the
            # reference's Horn gradients X, Y carry 1/xres and
            # 1/gt5 = -1/yres; zf = z/8)
            u = -z_factor * dzdx
            v = -z_factor * dzdy
            alt_r = np.radians(altitude)
            sin_a, cos_a = np.sin(alt_r), np.cos(alt_r)
            r2 = u * u + v * v
            inv_sq = 1.0 / np.sqrt(1.0 + r2)
            if op == "hillshade-multidirectional":
                # USGS OF 92-422 four-azimuth weighting
                c225 = np.cos(np.radians(225.0))
                vals = [
                    np.maximum(sin_a + (u - v) * c225 * cos_a, 0.0),
                    np.maximum(sin_a - u * cos_a, 0.0),
                    np.maximum(sin_a + (u + v) * c225 * cos_a, 0.0),
                    np.maximum(sin_a - v * cos_a, 0.0),
                ]
                w = [0.5 * r2 - u * v, u * u,
                     r2 - (0.5 * r2 - u * v), v * v]
                with np.errstate(invalid="ignore",
                                 divide="ignore"):
                    wm = sum(wi * vi for wi, vi in zip(w, vals)) \
                        / (2.0 * r2)
                out = 1.0 + 254.0 * wm * inv_sq
                return np.where(r2 == 0.0,
                                1.0 + 254.0 * sin_a, out)
            az_r = np.radians(azimuth)
            if op == "hillshade-combined":
                shade = (sin_a - cos_a * (v * np.cos(az_r)
                                          - u * np.sin(az_r))) \
                    * inv_sq
                acang = np.arccos(np.clip(shade, -1.0, 1.0))
                cang = 1.0 - acang * np.arctan(np.sqrt(r2)) \
                    * (4.0 / (np.pi * np.pi))
                return np.where(cang <= 0.0, 1.0,
                                1.0 + 254.0 * cang)
            # igor: slope strength x angular distance to the
            # anti-light direction
            slope_deg = np.degrees(np.arctan(np.sqrt(r2)))
            aspect = np.arctan2(8.0 * yres * dzdy,
                                -8.0 * xres * dzdx)
            target = 1.5 * np.pi - az_r
            diff = np.mod(np.abs(aspect - target), 2.0 * np.pi)
            diff = np.minimum(diff, 2.0 * np.pi - diff)
            aspect_strength = 1.0 - diff / np.pi
            return 255.0 * (1.0 - (slope_deg / 90.0)
                            * aspect_strength)
        if op == "slope":
            return np.degrees(np.arctan(
                z_factor * np.hypot(dzdx, dzdy)))
        if op == "aspect":
            asp = np.degrees(np.arctan2(dzdy, -dzdx))
            asp = np.where(asp < 0, 90.0 - asp,
                           np.where(asp > 90.0, 360.0 - asp + 90.0,
                                    90.0 - asp))
            return asp
        zen = np.radians(90.0 - altitude)
        az = np.radians(azimuth)
        slope_r = np.arctan(z_factor * np.hypot(dzdx, dzdy))
        aspect_r = np.arctan2(dzdy, -dzdx)
        shade = (np.cos(zen) * np.cos(slope_r)
                 + np.sin(zen) * np.sin(slope_r)
                 * np.cos(az - np.pi / 2.0 - aspect_r))
        return np.clip(1.0 + 254.0 * shade, 1.0, 255.0)
    neigh = np.stack([a, b, c, d, f, g, h, i])
    if op == "tpi":
        return e - np.nanmean(neigh, axis=0)
    if op == "tri":
        return np.nanmean(np.abs(neigh - e), axis=0)
    if op == "roughness":
        allc = np.stack([a, b, c, d, e, f, g, h, i])
        return np.nanmax(allc, axis=0) - np.nanmin(allc, axis=0)
    raise ValueError(f"unknown focal op {op}")


# --------------------------------------------------------------------
# pixel functions / calc / reclassify / mosaic
# --------------------------------------------------------------------

def raster_calc(named_tiles: dict[str, DataFrame], fn,
                dtype: str = "float64",
                codec: str | None = None) -> DataFrame:
    """Banded raster algebra: align tiles of several rasters by
    (tile_x, tile_y) and apply ``fn(**arrays) -> array`` per tile —
    the engine's VRT pixel-function / gdal raster calc equivalent
    (frmts/vrt/pixelfunctions.cpp; apps/gdalalg_raster_calc.cpp).

    ``codec="deflate"`` emits compressed tiles (mostly-zero outputs
    like validity masks shrink ~1000x; every tile consumer decodes
    via decode_tile)."""
    names = list(named_tiles)
    joined = None
    for name in names:
        t = named_tiles[name].select(
            "tile_x", "tile_y", "zoom", "tile_size",
            F.col("data").alias(f"data_{name}"),
            F.col("dtype").alias(f"dtype_{name}"),
        )
        joined = t if joined is None else joined.join(
            t.drop("zoom", "tile_size"), ["tile_x", "tile_y"])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = {k.name: [] for k in TILE_SCHEMA.fields}
            for _, r in b.iterrows():
                ts = int(r["tile_size"])
                from gdal_spark.operators.tiling import decode_tile

                arrays = {
                    name: decode_tile(r[f"data_{name}"],
                                      r[f"dtype_{name}"], ts)
                    .astype(np.float64)
                    for name in names
                }
                out = np.asarray(fn(**arrays)).astype(np.dtype(dtype))
                if codec is None:
                    payload, dts = out.tobytes(), dtype
                else:
                    from gdal_spark.operators.tiling import encode_tile

                    payload, dts = encode_tile(out, codec)
                rows["zoom"].append(int(r["zoom"]))
                rows["tile_x"].append(int(r["tile_x"]))
                rows["tile_y"].append(int(r["tile_y"]))
                rows["band"].append(1)
                rows["data"].append(payload)
                rows["dtype"].append(dts)
                rows["tile_size"].append(ts)
            yield pd.DataFrame(rows)

    return joined.mapInPandas(kernel, TILE_SCHEMA)


def reclassify(tiles: DataFrame, mapping: list[tuple[float, float, float]],
               default: float | None = None,
               dtype: str = "float64") -> DataFrame:
    """Range LUT reclass: [(lo, hi, out), ...], lo <= v < hi
    (frmts/vrt/vrtreclassifier.cpp semantics on range rules)."""

    def fn(x):
        out = np.full_like(x, np.nan if default is None else default)
        for lo, hi, val in mapping:
            out = np.where((x >= lo) & (x < hi), val, out)
        return out

    return raster_calc({"x": tiles}, fn, dtype)


def mosaic(tile_sets: list[DataFrame], rule: str = "last") -> DataFrame:
    """N -> 1 mosaic (apps/gdalalg_raster_mosaic.cpp): stack tile sets,
    combine per tile key by rule: last (later input wins), first,
    max, min, sum."""
    tagged = []
    for idx, t in enumerate(tile_sets):
        tagged.append(t.withColumn("src", F.lit(idx)))
    allt = tagged[0]
    for t in tagged[1:]:
        allt = allt.unionByName(t)

    def combine(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("src")
        ts = int(pdf["tile_size"].iloc[0])
        dts = pdf["dtype"].iloc[0]
        dt = np.dtype(dts.split(":")[-1])
        from gdal_spark.operators.tiling import decode_tile

        arrays = [decode_tile(r["data"], dts, ts)
                  for _, r in pdf.iterrows()]
        if rule == "last":
            out = arrays[-1]
        elif rule == "first":
            out = arrays[0]
        elif rule == "max":
            out = np.maximum.reduce(arrays)
        elif rule == "min":
            out = np.minimum.reduce(arrays)
        elif rule == "sum":
            out = np.add.reduce([a.astype(np.float64) for a in arrays]) \
                .astype(dt)
        else:
            raise ValueError(f"unknown mosaic rule {rule}")
        first = pdf.iloc[0]
        return pd.DataFrame({
            "zoom": [int(first["zoom"])], "tile_x": [int(key[0])],
            "tile_y": [int(key[1])], "band": [int(first["band"])],
            "data": [np.ascontiguousarray(out).tobytes()],
            "dtype": [str(dt)], "tile_size": [ts],
        })

    # hash repartition with an EXPLICIT width, not repartitionByRange:
    # the range sampler re-executes the upstream union per action, and
    # a width-less shuffle lets AQE coalesce the CPU-bound combine to
    # ~1 task (both CLAUDE.md lessons).  Output is order-independent —
    # combine sorts by the explicit src column.
    par = allt.sparkSession.sparkContext.defaultParallelism
    return (
        allt.repartition(par, "tile_x", "tile_y")
        .groupBy("tile_x", "tile_y")
        .applyInPandas(combine, TILE_SCHEMA)
    )


def color_relief(tiles: DataFrame,
                 ramp: list[tuple[float, int, int, int]],
                 interpolate: bool = True,
                 nodata: float | None = None) -> DataFrame:
    """gdaldem color-relief (apps/gdaldem_lib.cpp ColorAssociation
    handling): elevation -> RGB through a color ramp.

    ``ramp``: [(elevation, r, g, b), ...]; with ``interpolate`` colors
    blend linearly between ramp entries (the default gdaldem mode),
    otherwise each pixel takes the color of the nearest lower entry
    (-exact_color_entry / -nearest_color_entry family).  Output: three
    TILE_SCHEMA rows per input tile (band 1=R, 2=G, 3=B, uint8)."""
    entries = sorted((float(e), int(r), int(g), int(b))
                     for e, r, g, b in ramp)
    elev = np.array([e[0] for e in entries])
    chans = np.array([[e[1] for e in entries],
                      [e[2] for e in entries],
                      [e[3] for e in entries]], dtype=np.float64)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gdal_spark.operators.tiling import decode_tile, encode_tile

        for b in batches:
            rows = {k.name: [] for k in TILE_SCHEMA.fields}
            for _, r in b.iterrows():
                ts = int(r["tile_size"])
                arr = decode_tile(r["data"], r["dtype"], ts) \
                    .astype(np.float64)
                mask = np.zeros(arr.shape, dtype=bool)
                if nodata is not None:
                    mask = arr == nodata
                mask |= np.isnan(arr)
                for band in (1, 2, 3):
                    if interpolate:
                        out = np.interp(arr, elev, chans[band - 1])
                    else:
                        idx = np.clip(
                            np.searchsorted(elev, arr, side="right") - 1,
                            0, len(elev) - 1)
                        out = chans[band - 1][idx]
                    out = np.where(mask, 0.0, out)
                    out8 = np.clip(np.floor(out + 0.5), 0, 255) \
                        .astype(np.uint8)
                    payload, dts = encode_tile(out8, None)
                    rows["zoom"].append(int(r["zoom"]))
                    rows["tile_x"].append(int(r["tile_x"]))
                    rows["tile_y"].append(int(r["tile_y"]))
                    rows["band"].append(band)
                    rows["data"].append(payload)
                    rows["dtype"].append(dts)
                    rows["tile_size"].append(ts)
            if rows["zoom"]:
                yield pd.DataFrame(rows)

    return tiles.mapInPandas(kernel, TILE_SCHEMA)
