"""Zonal stats vs a driver-side numpy oracle."""

import numpy as np
import pandas as pd
import pytest

from gdal_spark.geometry.wkb import polygon_wkb
from gdal_spark.operators.rasterize import GridSpec, rasterize_chunk
from gdal_spark.operators.warp import tiles_from_array
from gdal_spark.operators.zonal import (
    zonal_majority, zonal_stats, zonal_value_counts,
)

RNG = np.random.RandomState(9)


def _zones_pdf():
    rows = []
    rects = [(5, 5, 40, 30), (50, 10, 90, 60), (20, 40, 70, 90)]
    for fid, (x0, y0, x1, y1) in enumerate(rects):
        ring = np.array([(x0, y0), (x1, y0), (x1, y1), (x0, y1),
                         (x0, y0)], dtype=float)
        rows.append({"fid": fid, "geometry": polygon_wkb([ring])})
    return pd.DataFrame(rows)


def test_zonal_stats_matches_numpy(spark):
    arr = RNG.randint(0, 100, (96, 96)).astype(np.float64)
    tiles, w, h = tiles_from_array(spark, arr, tile_size=32)
    grid = GridSpec(0.0, float(h), 1.0, 1.0, w, h)
    zones = _zones_pdf()
    got = (
        zonal_stats(spark, tiles, zones, grid, tile_size=32)
        .toPandas().sort_values("zone").reset_index(drop=True)
    )
    # oracle: rasterize zones (later zone wins) then numpy groupby
    geoms = []
    from gdal_spark.geometry.wkb import parse_wkb

    for _, r in zones.iterrows():
        rings = [grid.to_px(x) for x in parse_wkb(r["geometry"]).rings()]
        geoms.append((rings, float(r["fid"] + 1)))
    zr = rasterize_chunk((h, w), geoms, "int64")
    for zone in range(3):
        sel = arr[zr == zone + 1]
        row = got[got["zone"] == zone].iloc[0]
        assert row["count"] == sel.size
        np.testing.assert_allclose(row["sum"], sel.sum())
        np.testing.assert_allclose(row["mean"], sel.mean())
        assert row["min"] == sel.min() and row["max"] == sel.max()
        np.testing.assert_allclose(row["stddev_pop"], sel.std(),
                                   rtol=1e-9)


def test_zonal_majority(spark):
    arr = np.zeros((64, 64), dtype=np.float64)
    arr[:, 32:] = 7.0
    arr[0, 0] = 3.0
    tiles, w, h = tiles_from_array(spark, arr, tile_size=32)
    grid = GridSpec(0.0, float(h), 1.0, 1.0, w, h)
    ring = np.array([(0, 0), (64, 0), (64, 64), (0, 64), (0, 0)],
                    dtype=float)
    zones = pd.DataFrame([{"fid": 0, "geometry": polygon_wkb([ring])}])
    counts = zonal_value_counts(spark, tiles, zones, grid, tile_size=32)
    out = zonal_majority(counts).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert r["majority"] == 7.0   # 2048 sevens vs 2047 zeros
    assert r["minority"] == 3.0   # single pixel
    assert r["variety"] == 3


def test_zonal_nodata_excluded(spark):
    arr = np.full((32, 32), 5.0)
    arr[:16, :] = -9999.0
    tiles, w, h = tiles_from_array(spark, arr, tile_size=32)
    grid = GridSpec(0.0, float(h), 1.0, 1.0, w, h)
    ring = np.array([(0, 0), (32, 0), (32, 32), (0, 32), (0, 0)],
                    dtype=float)
    zones = pd.DataFrame([{"fid": 0, "geometry": polygon_wkb([ring])}])
    got = zonal_stats(spark, tiles, zones, grid, nodata=-9999.0,
                      tile_size=32).toPandas()
    assert got.iloc[0]["count"] == 16 * 32
    assert got.iloc[0]["mean"] == 5.0


def test_zonal_stddev_of_constant_zones_is_zero(spark):
    """A constant zone's E[v^2] - E[v]^2 cancels to a tiny negative
    (sqrt -> NaN) or positive residue for these value/size pairs; its
    stddev_pop must be exactly 0."""
    sizes = (3, 6, 7, 8, 11)
    zones = pd.DataFrame([
        {"fid": fid, "geometry": polygon_wkb([np.array(
            [(0, 2 * fid), (n, 2 * fid), (n, 2 * fid + 1),
             (0, 2 * fid + 1), (0, 2 * fid)], dtype=float)])}
        for fid, n in enumerate(sizes)])
    for value in (0.1, 3.3, 0.7):
        arr = np.full((32, 32), value)
        tiles, w, h = tiles_from_array(spark, arr, tile_size=32)
        grid = GridSpec(0.0, float(h), 1.0, 1.0, w, h)
        got = (zonal_stats(spark, tiles, zones, grid, tile_size=32)
               .toPandas().sort_values("zone"))
        assert got["count"].tolist() == list(sizes)
        assert (got["min"] == value).all() and (got["max"] == value).all()
        assert got["stddev_pop"].tolist() == [0.0] * len(sizes), value


@pytest.mark.parametrize("op", ["rasterize", "zonal_stats",
                                "zonal_value_counts"])
def test_empty_and_null_features_burn_nothing(spark, op):
    """A layer holding an EMPTY polygon and a NULL geometry next to a
    square gives what the square alone gives (GDAL burns nothing for
    a feature with no rings)."""
    from gdal_spark.operators.rasterize import rasterize

    square = polygon_wkb([np.array([(4, 4), (40, 4), (40, 28), (4, 28),
                                    (4, 4)], dtype=float)])
    empty = bytes.fromhex("010300000000000000")
    alone = pd.DataFrame({"fid": [2], "geometry": [square]})
    mixed = pd.DataFrame({"fid": [0, 1, 2],
                          "geometry": [empty, None, square]})
    arr = RNG.randint(0, 5, (64, 64)).astype(np.float64)
    tiles, w, h = tiles_from_array(spark, arr, tile_size=32)
    grid = GridSpec(0.0, float(h), 1.0, 1.0, w, h)

    def run(layer):
        if op == "rasterize":
            out, keys = rasterize(spark, layer, grid, burn_value=1.0,
                                  tile_size=32), ["tile_x", "tile_y"]
        elif op == "zonal_stats":
            out, keys = zonal_stats(spark, tiles, layer, grid,
                                    tile_size=32), ["zone"]
        else:
            out, keys = zonal_value_counts(spark, tiles, layer, grid,
                                           tile_size=32), ["zone", "value"]
        return out.toPandas().sort_values(keys).reset_index(drop=True)

    want = run(alone)
    assert len(want)
    pd.testing.assert_frame_equal(run(mixed), want)
