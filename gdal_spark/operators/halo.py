"""The halo exchange every neighbourhood operator runs through.

GDAL reads a focal window over overlapping scanlines
(GDALGeneric3x3ProcessingAlg, apps/gdaldem_lib.cpp:206-253) and
computes proximity per block with a halo (alg/gdalproximity.cpp).
Here a tile's k-pixel neighbourhood crosses ONE exchange:

  1. ``emit_halos`` sends every tile's centre row to itself and its
     k-wide border blocks to its 8 neighbour tiles;
  2. ``render_by_tile`` hash-partitions the rows on the tile key
     (zoom, tile_x, tile_y, band) at defaultParallelism and hands
     each group to the operator's render;
  3. the render calls ``assemble_halo_canvas`` for the (ts+2k)^2
     canvas and runs its kernel on it.

Wire format (``_HALO_SCHEMA``): ``rel`` 0 is the centre, 1..8 a block
from the neighbour at ``-_REL[rel]`` of the destination.  A block
whose elements are all equal ships as one value with ``h = -1`` (most
tiles of a sparse density raster are all-zero, so a 512 KB tile
crosses as 8 bytes).  Any other centre passes the tile's
original payload through, deflate-coded or not, under its codec-aware
dtype string; other blocks ship raw in the element dtype.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StringType, StructField, StructType
)

from gdal_spark.operators.tiling import decode_tile
from gdal_spark.session import kernel_name

_HALO_SCHEMA = StructType([
    StructField("zoom", IntegerType()),
    StructField("tile_x", LongType()),
    StructField("tile_y", LongType()),
    StructField("band", IntegerType()),
    StructField("rel", IntegerType()),      # 0 = centre, 1..8 a block
    StructField("data", BinaryType()),
    StructField("dtype", StringType()),
    StructField("tile_size", IntegerType()),
    StructField("h", IntegerType()),        # block rows, -1 = constant
])

_TILE_KEY = ("zoom", "tile_x", "tile_y", "band")

# rel -> the DESTINATION tile's offset (dx, dy) from the source
_REL = {1: (-1, -1), 2: (0, -1), 3: (1, -1), 4: (-1, 0),
        5: (1, 0), 6: (-1, 1), 7: (0, 1), 8: (1, 1)}


def _source_span(d: int, k: int, ts: int) -> slice:
    """Rows (or columns) of a source tile that face a destination at
    offset ``d`` along that axis."""
    return slice(0, k) if d < 0 else slice(ts - k, ts) if d > 0 \
        else slice(0, ts)


def _canvas_span(d: int, k: int, ts: int) -> slice:
    """Canvas rows (or columns) a block from the source whose
    destination lies at offset ``d`` fills: the opposite side."""
    return slice(ts + k, ts + 2 * k) if d < 0 else slice(0, k) if d > 0 \
        else slice(k, k + ts)


def emit_halos(tiles: DataFrame, k: int) -> DataFrame:
    """Centre rows plus 8 k-wide border blocks addressed to the
    neighbour tiles, in ``_HALO_SCHEMA``.  ``k == 0`` emits centres
    only; ``k`` above a tile's size raises ValueError."""

    @kernel_name("operators.halo.emit")
    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for zoom, tx, ty, band, data, dts, ts in zip(
                    b["zoom"], b["tile_x"], b["tile_y"], b["band"],
                    b["data"], b["dtype"], b["tile_size"]):
                zoom, tx, ty = int(zoom), int(tx), int(ty)
                band, ts = int(band), int(ts)
                if k > ts:
                    raise ValueError(
                        f"halo width {k} exceeds tile size {ts}")
                arr = decode_tile(data, dts, ts)
                dt = str(arr.dtype)
                const = bool((arr == arr.flat[0]).all())
                if const:
                    rows.append((zoom, tx, ty, band, 0,
                                 arr.flat[:1].tobytes(), dt, ts, -1))
                else:
                    rows.append((zoom, tx, ty, band, 0, data, dts, ts, ts))
                if k == 0:
                    continue
                for rel, (dx, dy) in _REL.items():
                    ntx, nty = tx + dx, ty + dy
                    if ntx < 0 or nty < 0:
                        continue
                    blk = arr[_source_span(dy, k, ts),
                              _source_span(dx, k, ts)]
                    if const or (blk == blk.flat[0]).all():
                        rows.append((zoom, ntx, nty, band, rel,
                                     blk.flat[:1].tobytes(), dt, ts, -1))
                    else:
                        rows.append((zoom, ntx, nty, band, rel,
                                     np.ascontiguousarray(blk).tobytes(),
                                     dt, ts, blk.shape[0]))
            yield pd.DataFrame(rows, columns=_HALO_SCHEMA.fieldNames())

    return tiles.mapInPandas(emit, _HALO_SCHEMA)


def assemble_halo_canvas(pdf: pd.DataFrame, ts: int, k: int,
                         fill: float) -> np.ndarray | None:
    """Place one tile's centre and k-halo blocks into a float64
    (ts+2k, ts+2k) canvas; cells no row provides hold ``fill``.
    Returns None for a group with no centre row (a halo addressed to
    a hole)."""
    if not (pdf["rel"] == 0).any():
        return None
    canvas = np.full((ts + 2 * k, ts + 2 * k), fill, dtype=np.float64)
    for rel, data, dts, h in zip(pdf["rel"], pdf["data"], pdf["dtype"],
                                 pdf["h"]):
        dx, dy = _REL.get(int(rel), (0, 0))
        ys, xs = _canvas_span(dy, k, ts), _canvas_span(dx, k, ts)
        if int(h) == -1:
            canvas[ys, xs] = np.frombuffer(data, dtype=np.dtype(dts))[0]
        elif rel == 0:
            canvas[ys, xs] = decode_tile(data, dts, ts)
        else:
            canvas[ys, xs] = np.frombuffer(data, dtype=np.dtype(dts)) \
                .reshape(int(h), -1)
    return canvas


def render_by_tile(halos: DataFrame, render, schema) -> DataFrame:
    """``render(key, pdf)`` once per tile key (zoom, tile_x, tile_y,
    band) over ``emit_halos`` rows.  The hash repartition pins the
    render at defaultParallelism tasks: a width-less groupBy lets AQE
    coalesce the now-small halo shuffle onto ~1 task and serialize
    the CPU-bound render, and repartitionByRange would run a sampling
    job that recomputes the upstream (CLAUDE.md lessons)."""
    par = halos.sparkSession.sparkContext.defaultParallelism
    return (halos.repartition(par, *_TILE_KEY)
            .groupBy(*_TILE_KEY)
            .applyInPandas(render, schema))
