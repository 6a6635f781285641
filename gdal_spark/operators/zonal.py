"""Zonal statistics: per-polygon raster aggregation.

Re-creates the reference's zonal statistics (alg/zonal.cpp:277-301:
COUNT MIN MAX MEAN SUM MINORITY MAJORITY VARIETY ...) as the flagship
"raster x vector then SQL" composition:

  1. rasterize the zone polygons onto the value raster's grid (zone id
     burn, REPLACE, later-zone-wins like sequential feature burn);
  2. join zone tiles with value tiles on (tile_x, tile_y);
  3. an Arrow kernel emits per-tile per-zone partials
     (count, sum, sum2, min, max) — map-side combine;
  4. a plain Catalyst groupBy(zone) finishes the aggregation.

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

from gdal_spark.operators.rasterize import GridSpec
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


def _zone_render_bc(spark, zones_pdf: pd.DataFrame, grid: GridSpec,
                    tile_size: int):
    """Broadcast the zone layer as pixel-space rings + per-zone tile
    bboxes.  The zonal kernels render each value tile's zone raster
    IN PLACE with the exact rasterize law (same scanline fill, same
    sequential later-zone-wins burn order) — the zones_pdf API is
    driver-side by contract, so shipping rings instead of a
    rasterized+shuffled zone tile layer removes the zone rasterize
    stage AND the value-tile join exchange: zonal becomes map-only
    over the value tiles plus ONE aggregation shuffle."""
    from gdal_spark.geometry.wkb import parse_wkb

    entries = []
    for order, (_, r) in enumerate(zones_pdf.iterrows()):
        g = parse_wkb(bytes(r["geometry"]))
        rings_px = [grid.to_px(ring) for ring in g.rings()]
        burn = float(int(r["fid"]) + 1)          # 0 = outside
        allc = np.vstack(rings_px)
        entries.append((rings_px, burn, g.kind,
                        allc[:, 0].min() // tile_size,
                        allc[:, 0].max() // tile_size,
                        allc[:, 1].min() // tile_size,
                        allc[:, 1].max() // tile_size))
    return spark.sparkContext.broadcast(entries)


def _render_zone_tile(entries, tx: int, ty: int, grid: GridSpec,
                      tile_size: int, all_touched: bool) -> np.ndarray:
    """int64 zone raster of ONE tile: the same per-tile render the
    distributed rasterize's kernel runs (rasterize_chunk on rings
    shifted into tile-local space, sequential burn order)."""
    from gdal_spark.operators.rasterize import rasterize_chunk

    ox, oy = tx * tile_size, ty * tile_size
    w = min(tile_size, grid.width - ox)
    h = min(tile_size, grid.height - oy)
    local = []
    for rings_px, burn, kind, tx0, tx1, ty0, ty1 in entries:
        if tx0 <= tx <= tx1 and ty0 <= ty <= ty1:
            local.append(([r - np.array([[ox, oy]]) for r in rings_px],
                          burn, kind))
    if not local:
        return np.zeros((tile_size, tile_size), dtype=np.int64)
    arr = rasterize_chunk((h, w), local, "int64", all_touched,
                          "replace")
    if (h, w) != (tile_size, tile_size):
        full = np.zeros((tile_size, tile_size), dtype=arr.dtype)
        full[:h, :w] = arr
        arr = full
    return arr


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

    ``zones_pdf``: fid + geometry(WKB).  Zone ids burn over a -1
    background; zone -1 (outside every polygon) is dropped.
    """
    bc = _zone_render_bc(spark, zones_pdf, grid, tile_size)

    @kernel_name("operators.zonal.partials")
    def zonal_partials(batches: Iterator[pd.DataFrame]
                       ) -> Iterator[pd.DataFrame]:
        entries = bc.value
        for b in batches:
            rows = {k: [] for k in
                    ("zone", "cnt", "vsum", "vsum2", "vmin", "vmax")}
            for ts, tx, ty, data, dtype in zip(
                    b["tile_size"], b["tile_x"], b["tile_y"], b["data"],
                    b["dtype"]):
                ts = int(ts)
                zones = _render_zone_tile(entries, int(tx), int(ty),
                                          grid, ts, all_touched)
                mask = zones >= 1
                if not mask.any():
                    continue
                vals = decode_tile(data, dtype, ts).astype(np.float64)
                if nodata is not None:
                    mask &= vals != nodata
                z = zones[mask]
                v = vals[mask]
                if len(z) == 0:
                    continue
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

    partials = value_tiles.mapInPandas(zonal_partials, _PARTIAL)
    return (
        partials.groupBy("zone")
        .agg(
            F.sum("cnt").alias("count"),
            F.sum("vsum").alias("sum"),
            (F.sum("vsum") / F.sum("cnt")).alias("mean"),
            F.min("vmin").alias("min"),
            F.max("vmax").alias("max"),
            # a constant zone has variance 0, but E[v^2] - E[v]^2 can
            # cancel to a tiny negative (sqrt -> NaN) or positive residue
            F.when(F.min("vmin") == F.max("vmax"), F.lit(0.0)).otherwise(
                F.sqrt(F.greatest(
                    F.sum("vsum2") / F.sum("cnt")
                    - (F.sum("vsum") / F.sum("cnt")) ** 2, F.lit(0.0)))
            ).alias("stddev_pop"),
        )
        .withColumn("zone", F.col("zone") - 1)  # un-offset fid
    )


def zonal_value_counts(
    spark: SparkSession,
    value_tiles: DataFrame,
    zones_pdf: pd.DataFrame,
    grid: GridSpec,
    nodata: float | None = None,
    tile_size: int = 256,
) -> DataFrame:
    """(zone, value, cnt) rows — basis for MAJORITY/MINORITY/VARIETY."""
    bc = _zone_render_bc(spark, zones_pdf, grid, tile_size)

    @kernel_name("operators.zonal.value_counts")
    def zonal_value_counts_kernel(batches: Iterator[pd.DataFrame]
                                  ) -> Iterator[pd.DataFrame]:
        entries = bc.value
        for b in batches:
            rows = {"zone": [], "value": [], "cnt": []}
            for ts, tx, ty, data, dtype in zip(
                    b["tile_size"], b["tile_x"], b["tile_y"], b["data"],
                    b["dtype"]):
                ts = int(ts)
                zones = _render_zone_tile(entries, int(tx), int(ty),
                                          grid, ts, False)
                mask = zones >= 1
                if not mask.any():
                    continue
                vals = decode_tile(data, dtype, ts).astype(np.float64)
                if nodata is not None:
                    mask &= vals != nodata
                if not mask.any():
                    continue
                key = np.stack([zones[mask], vals[mask]])
                uq, cnt = np.unique(key, axis=1, return_counts=True)
                rows["zone"].append(uq[0].astype(np.int64))
                rows["value"].append(uq[1])
                rows["cnt"].append(cnt.astype(np.int64))
            if rows["zone"]:
                yield pd.DataFrame({
                    k: np.concatenate(rows[k]) for k in rows
                })

    counts = (
        value_tiles.mapInPandas(zonal_value_counts_kernel, _VALCOUNT)
        .groupBy("zone", "value").agg(F.sum("cnt").alias("cnt"))
    )
    return counts.withColumn("zone", F.col("zone") - 1)


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
