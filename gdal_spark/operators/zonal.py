"""Zonal statistics: per-polygon raster aggregation.

Re-creates the reference's zonal statistics (alg/zonal.cpp:277-301:
COUNT MIN MAX MEAN SUM MINORITY MAJORITY VARIETY ...) as the flagship
"raster x vector then SQL" composition:

  1. the zone layer is driver-side by contract, so the driver parses
     it once with rasterize's ``layer_entries`` (zone id = fid + 1)
     and lists each tile's zones with ``tile_cover``; both ride in the
     kernel's closure;
  2. a map-only Arrow kernel over the value tiles renders each
     covered tile's zone raster in place with rasterize's
     ``render_tile`` (same scanline law, same later-zone-wins burn
     order; a tile no zone covers is skipped) and emits per-tile
     per-zone partials (count, sum, sum2, min, max);
  3. one Catalyst groupBy on zone - 1 finishes the aggregation.

MAJORITY/MINORITY/VARIETY use (zone, value) count rows + a window —
also pure DataFrame ops after the kernel.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StructField, StructType
)

from gdal_spark.operators.rasterize import (
    GridSpec, layer_entries, render_tile, tile_cover,
)
from gdal_spark.operators.tiling import decode_tile
from gdal_spark.session import kernel_name

_PARTIAL = StructType([
    StructField("zone", LongType()),
    StructField("cnt", LongType()),
    StructField("vsum", DoubleType()),
    StructField("vsum2", DoubleType()),
    StructField("vmin", DoubleType()),
    StructField("vmax", DoubleType()),
])

_VALCOUNT = StructType([
    StructField("zone", LongType()),
    StructField("value", DoubleType()),
    StructField("cnt", LongType()),
])


def _zone_pixels(zones_pdf: pd.DataFrame, grid: GridSpec, tile_size: int,
                 nodata: float | None, all_touched: bool):
    """The zone layer, parsed once on the driver with ``layer_entries``
    (zone id = fid + 1, 0 is outside every zone) and indexed with
    ``tile_cover``, as a function of one value-tile batch.  It yields,
    per tile some zone covers, the (zone id, value) arrays of its
    pixels inside a zone and not *nodata*, when there are any."""
    entries = layer_entries(zones_pdf, grid,
                            zones_pdf["fid"].astype(np.int64) + 1,
                            tile_size)
    cover = tile_cover(entries)

    def pixels(b: pd.DataFrame) -> Iterator[tuple[np.ndarray, np.ndarray]]:
        for tx, ty, data, dtype in zip(b["tile_x"], b["tile_y"], b["data"],
                                       b["dtype"]):
            idx = cover.get((int(tx), int(ty)))
            if idx is None:
                continue
            zones = render_tile(entries, idx, int(tx), int(ty), grid,
                                tile_size, "int64", all_touched)
            mask = zones >= 1
            if not mask.any():
                continue
            vals = decode_tile(data, dtype, tile_size).astype(np.float64)
            if nodata is not None:
                mask &= vals != nodata
            if mask.any():
                yield zones[mask], vals[mask]

    return pixels


# aggregates of the per-tile partials.  A constant zone has variance 0,
# but E[v^2] - E[v]^2 can cancel to a tiny negative (sqrt -> NaN) or
# positive residue, so min = max gives 0 outright.
_STATS = (
    "sum(cnt) AS `count`",
    "sum(vsum) AS `sum`",
    "sum(vsum) / sum(cnt) AS mean",
    "min(vmin) AS `min`",
    "max(vmax) AS `max`",
    "CASE WHEN min(vmin) = max(vmax) THEN 0D ELSE sqrt(greatest("
    "sum(vsum2) / sum(cnt) - power(sum(vsum) / sum(cnt), 2), 0D)) END"
    " AS stddev_pop",
)


def zonal_stats(
    spark: SparkSession,
    value_tiles: DataFrame,
    zones_pdf: pd.DataFrame,
    grid: GridSpec,
    nodata: float | None = None,
    tile_size: int = 256,
    all_touched: bool = False,
) -> DataFrame:
    """-> (zone, count, sum, mean, min, max, stddev_pop).

    ``zones_pdf``: fid + geometry(WKB).  Zone ids burn as fid + 1 over a
    0 background; pixels outside every polygon are dropped.
    """
    pixels = _zone_pixels(zones_pdf, grid, tile_size, nodata, all_touched)

    @kernel_name("operators.zonal.partials")
    def zonal_partials(batches: Iterator[pd.DataFrame]
                       ) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = {k: [] for k in
                    ("zone", "cnt", "vsum", "vsum2", "vmin", "vmax")}
            for z, v in pixels(b):
                order = np.argsort(z, kind="stable")
                z, v = z[order], v[order]
                starts = np.flatnonzero(np.r_[True, z[1:] != z[:-1]])
                ends = np.r_[starts[1:], len(z)]
                rows["zone"].append(z[starts])
                rows["cnt"].append(ends - starts)
                rows["vsum"].append(np.add.reduceat(v, starts))
                rows["vsum2"].append(np.add.reduceat(v * v, starts))
                rows["vmin"].append(np.minimum.reduceat(v, starts))
                rows["vmax"].append(np.maximum.reduceat(v, starts))
            if rows["zone"]:
                yield pd.DataFrame({
                    k: np.concatenate(rows[k]) for k in rows
                })

    return (value_tiles.mapInPandas(zonal_partials, _PARTIAL)
            .groupBy(F.expr("zone - 1 AS zone"))
            .agg(*map(F.expr, _STATS)))


def zonal_value_counts(
    spark: SparkSession,
    value_tiles: DataFrame,
    zones_pdf: pd.DataFrame,
    grid: GridSpec,
    nodata: float | None = None,
    tile_size: int = 256,
) -> DataFrame:
    """(zone, value, cnt) rows — basis for MAJORITY/MINORITY/VARIETY."""
    pixels = _zone_pixels(zones_pdf, grid, tile_size, nodata, False)

    @kernel_name("operators.zonal.value_counts")
    def zonal_value_counts_kernel(batches: Iterator[pd.DataFrame]
                                  ) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = {"zone": [], "value": [], "cnt": []}
            for z, v in pixels(b):
                key = np.stack([z, v])
                uq, cnt = np.unique(key, axis=1, return_counts=True)
                rows["zone"].append(uq[0].astype(np.int64))
                rows["value"].append(uq[1])
                rows["cnt"].append(cnt.astype(np.int64))
            if rows["zone"]:
                yield pd.DataFrame({
                    k: np.concatenate(rows[k]) for k in rows
                })

    return (value_tiles.mapInPandas(zonal_value_counts_kernel, _VALCOUNT)
            .groupBy(F.expr("zone - 1 AS zone"), "value")
            .agg(F.expr("sum(cnt) AS cnt")))


def zonal_majority(counts: DataFrame) -> DataFrame:
    """(zone, majority, minority, variety) from zonal_value_counts."""
    w_maj = Window.partitionBy("zone").orderBy(F.desc("cnt"), F.asc("value"))
    w_min = Window.partitionBy("zone").orderBy(F.asc("cnt"), F.asc("value"))
    return (
        counts
        .withColumn("rmaj", F.row_number().over(w_maj))
        .withColumn("rmin", F.row_number().over(w_min))
        .groupBy("zone")
        .agg(
            F.max(F.when(F.col("rmaj") == 1, F.col("value")))
            .alias("majority"),
            F.max(F.when(F.col("rmin") == 1, F.col("value")))
            .alias("minority"),
            F.countDistinct("value").alias("variety"),
        )
    )
