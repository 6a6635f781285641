"""Direct micro-timings of the engine's single-node kernels.

Each kernel runs on seeded inputs shaped like the data its workload
feeds it, and only in the traced run of that workload; the reported
figure is the median over repeated calls.  These run in the benchmark's
own process, outside Spark, so they isolate kernel cost from scheduling
and Arrow transfer.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

TILE = 256


def _median_call_s(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def _star_ring(rng: np.random.Generator, cx: float, cy: float,
               r: float, n: int) -> np.ndarray:
    """Closed star-shaped ring (simple, non-convex) with n vertices."""
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = r * rng.uniform(0.5, 1.0, n)
    ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    return np.vstack([ring, ring[:1]])


def _density_tile(rng: np.random.Generator) -> np.ndarray:
    """A sparse page-density tile (Zipf-hot pixel counts), as the
    pyramid merge kernel hands it to the deflate encoder."""
    dens = np.zeros(TILE * TILE, dtype=np.int64)
    hot = rng.choice(TILE * TILE, 400, replace=False)
    dens[hot] = rng.zipf(1.5, 400).clip(max=10_000)
    return dens.reshape(TILE, TILE)


def _geojoin(rng: np.random.Generator) -> dict[str, float]:
    from gdal_spark.geometry.pip import points_in_rings

    # point-in-polygon: 100k points against a 64-vertex star
    n_pts = 100_000
    ring = _star_ring(rng, 0.0, 0.0, 10.0, 64)
    px = rng.uniform(-10, 10, n_pts)
    py = rng.uniform(-10, 10, n_pts)
    return {"geometry.pip.points_per_s": n_pts / _median_call_s(
        lambda: points_in_rings(px, py, [ring]), 7)}


def _tile_pyramid(rng: np.random.Generator) -> dict[str, float]:
    from gdal_spark.operators.png import decode_png, encode_png
    from gdal_spark.operators.tiling import encode_tile

    dens = _density_tile(rng)
    # the png sink writes the tile as uint8; the tile reader decodes it
    img = np.clip(dens, 0, 255).astype(np.uint8)
    blob = encode_png(img)
    return {
        "tiling.encode_tile_us": 1e6 * _median_call_s(
            lambda: encode_tile(dens, "deflate"), 51),
        "png.encode_us": 1e6 * _median_call_s(lambda: encode_png(img), 31),
        "png.decode_us": 1e6 * _median_call_s(lambda: decode_png(blob), 31),
    }


def _raster_algebra(rng: np.random.Generator) -> dict[str, float]:
    from gdal_spark.operators.polygonize import label_tile
    from gdal_spark.operators.rasterize import (
        fill_polygon_scanline, rasterize_chunk,
    )

    # scanline fill of one 32-vertex polygon spanning a tile
    poly = [_star_ring(rng, TILE / 2, TILE / 2, TILE / 2 - 2, 32)]
    grid = np.zeros((TILE, TILE), dtype=np.int32)
    out = {"rasterize.fill_us": 1e6 * _median_call_s(
        lambda: fill_polygon_scanline(grid, poly, 1.0), 21)}

    # connected-component labelling of a tile of overlapping polygons
    blobs = [(
        [_star_ring(rng, *rng.uniform(16, TILE - 16, 2), 24.0, 12)],
        float(v),
    ) for v in rng.integers(1, 4, 40)]
    labelled = rasterize_chunk((TILE, TILE), blobs, "int32")
    out["polygonize.label_tile_ms"] = 1e3 * _median_call_s(
        lambda: label_tile(labelled, nodata=0), 11)
    return out


# each workload times only the kernels it exercises
_KERNELS = {"geojoin": _geojoin, "tile_pyramid": _tile_pyramid,
            "raster_algebra": _raster_algebra}


def kernel_metrics(workload: str, seed: int) -> dict[str, float]:
    return _KERNELS[workload](np.random.default_rng(seed))
