"""Tiling engine: density tiles, pyramid reduce, conventions.

Golden suite #2 of FIXTURES.md: tile assignment equals the reference
math (validated in test_geo_functions); here we verify mass
conservation and pyramid semantics."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal_spark.operators.tiling import (
    _merge_sparse, build_pyramid, overview_reduce, page_density_tiles,
    sparse_pyramid, tile_y_file, tiles_to_arrays,
)
from gdal_spark.sources.pages import pages_df

N = 4000


def test_density_tiles_conserve_mass(spark):
    pts = pages_df(spark, N, partitions=4).select("lon", "lat")
    tiles = page_density_tiles(pts, zoom=4)
    pdf = tiles.toPandas()
    arrays = tiles_to_arrays(pdf)
    total = sum(a.sum() for a in arrays.values())
    assert total == N
    # every tile index within the z=4 matrix
    assert pdf["tile_x"].between(0, 15).all()
    assert pdf["tile_y"].between(0, 15).all()


def test_density_matches_driverside_histogram(spark):
    pts = pages_df(spark, 1000, partitions=4).select("lon", "lat")
    tiles = page_density_tiles(pts, zoom=3, tile_size=64)
    arrays = tiles_to_arrays(tiles.toPandas())
    # driver-side oracle
    pdf = pts.toPandas()
    from gdal_spark.functions import geo

    res = geo.tile_span(3) / 64
    mx = pdf["lon"].to_numpy() * geo.ORIGIN / 180.0
    lat = np.clip(pdf["lat"].to_numpy(), -geo.MERC_LAT_MAX,
                  geo.MERC_LAT_MAX)
    my = np.log(np.tan((90 + lat) * np.pi / 360)) / np.pi * geo.ORIGIN
    px = np.clip(np.floor((mx + geo.ORIGIN) / res + 1e-3), 0,
                 8 * 64 - 1).astype(np.int64)
    py = np.clip(np.floor((geo.ORIGIN - my) / res + 1e-3), 0,
                 8 * 64 - 1).astype(np.int64)
    want: dict = {}
    for x, y in zip(px, py):
        t = (3, x // 64, y // 64, 1)
        a = want.setdefault(t, np.zeros((64, 64), dtype=np.uint32))
        a[y % 64, x % 64] += 1
    assert set(arrays) == set(want)
    for k in want:
        np.testing.assert_array_equal(arrays[k], want[k])


def test_overview_reduce_sum(spark):
    pts = pages_df(spark, 2000, partitions=4).select("lon", "lat")
    base = page_density_tiles(pts, zoom=4, tile_size=32).cache()
    ov = overview_reduce(base, "sum")
    base_a = tiles_to_arrays(base.toPandas())
    ov_a = tiles_to_arrays(ov.toPandas())
    assert all(k[0] == 3 for k in ov_a)
    # parent pixel = sum of the 2x2 child block, children mapped by parity
    total_base = sum(a.sum() for a in base_a.values())
    total_ov = sum(a.sum() for a in ov_a.values())
    assert total_base == total_ov == 2000
    # spot-check one parent against its children
    (z, px_, py_, b), parr = next(iter(ov_a.items()))
    acc = np.zeros((64, 64), dtype=np.int64)
    for (cz, cx, cy, cb), carr in base_a.items():
        if cx // 2 == px_ and cy // 2 == py_:
            ox, oy = cx % 2, cy % 2
            acc[oy * 32:(oy + 1) * 32, ox * 32:(ox + 1) * 32] = carr
    want = acc.reshape(32, 2, 32, 2).sum(axis=(1, 3))
    np.testing.assert_array_equal(parr, want.astype(np.uint32))


def test_build_pyramid_all_zooms(spark):
    pts = pages_df(spark, 1000, partitions=4).select("lon", "lat")
    pyr = build_pyramid(pts, base_zoom=3, min_zoom=0, tile_size=32)
    pdf = pyr.toPandas()
    zooms = sorted(pdf["zoom"].unique())
    assert zooms == [0, 1, 2, 3]
    arrays = tiles_to_arrays(pdf)
    z0 = [a for (z, x, y, b), a in arrays.items() if z == 0]
    assert len(z0) == 1 and z0[0].sum() == 1000


def test_tms_convention_flip(spark):
    pts = pages_df(spark, 100, partitions=2).select("lon", "lat")
    tiles = page_density_tiles(pts, zoom=5, tile_size=16)
    flipped = tile_y_file(tiles, "tms").toPandas()
    assert (flipped["file_y"] == 31 - flipped["tile_y"]).all()
    xyz = tile_y_file(tiles, "xyz").toPandas()
    assert (xyz["file_y"] == xyz["tile_y"]).all()


def test_write_tiles_partitioned(spark, tmp_path):
    from gdal_spark.operators.tiling import write_tiles

    pts = pages_df(spark, 500, partitions=2).select("lon", "lat")
    pyr = build_pyramid(pts, base_zoom=2, min_zoom=1, tile_size=16)
    out = str(tmp_path / "tiles")
    write_tiles(pyr, out)
    back = spark.read.parquet(out)
    assert back.count() == pyr.count()
    assert set(r.zoom for r in back.select("zoom").distinct().collect()) \
        == {1, 2}


def test_tiles_as_features(spark):
    from gdal_spark.operators.tiling import tiles_as_features

    pts = pages_df(spark, 500, partitions=2).select("lon", "lat")
    tiles = page_density_tiles(pts, zoom=3, tile_size=32)
    feats = tiles_as_features(tiles, skip_value=0.0)
    pdf = feats.toPandas()
    # total pixel mass == point count; every row is a nonzero pixel
    assert pdf["value"].sum() == 500
    assert (pdf["value"] > 0).all()
    # pixel coords within the z=3 global raster
    assert pdf["px"].between(0, 8 * 32 - 1).all()
    # georeferenced variant maps pixel centers through the gt
    gt = [0.0, 2.0, 0.0, 512.0, 0.0, -2.0]
    g = tiles_as_features(tiles, gt=gt, skip_value=0.0).toPandas()
    np.testing.assert_allclose(g["x"], (g["px"] + 0.5) * 2.0)
    np.testing.assert_allclose(g["y"], 512.0 - (g["py"] + 0.5) * 2.0)


@pytest.mark.parametrize("build", [
    lambda pts, ts: page_density_tiles(pts, zoom=2, tile_size=ts),
    lambda pts, ts: build_pyramid(pts, 2, 0, tile_size=ts),
], ids=["page_density_tiles", "build_pyramid"])
@pytest.mark.parametrize("ts", [100, 1024])
def test_tile_size_outside_key_packing_rejected(spark, build, ts):
    """A pixel index rides in 2*log2(ts) bits of the tile key and in
    18 bits in the merge: 100 spilled pixels into the tile bits (18
    or 29 tiles on a 16-tile grid, mass still conserved) and 1024
    failed in a worker.  Both are refused while the frame is built."""
    pts = pages_df(spark, 200, partitions=2).select("lon", "lat")
    with pytest.raises(ValueError, match="tile_size"):
        build(pts, ts)


def _plan_lines(df) -> list[str]:
    """Executed plan of *df* after an action, AQE's final plan only."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0].splitlines()


def test_pyramid_plan_names_partial_and_merge_around_one_exchange(
        spark):
    pts = pages_df(spark, 500, partitions=2).select("lon", "lat")
    pyr = build_pyramid(pts, 3, 1, tile_size=32)
    pyr.collect()
    lines = _plan_lines(pyr)
    merge = next(i for i, s in enumerate(lines)
                 if "operators.tiling.merge" in s)
    partial = next(i for i, s in enumerate(lines)
                   if "operators.tiling.partial" in s)
    assert merge < partial
    assert sum("Exchange" in s for s in lines[merge:partial]) == 1, lines


def test_merge_sparse_sums_repeated_tiles_in_one_exchange(spark):
    """A density state unioned with itself merges to doubled counts
    on the same pixels, through one Exchange and no Sort (the packed
    merge of the pyramid, not a tile-sorted stream merge)."""
    pts = pages_df(spark, 800, partitions=2).select("lon", "lat")
    sparse = sparse_pyramid(pts, 4, 4)
    rows = sparse.toPandas()
    twice = spark.createDataFrame(pd.concat([rows, rows]),
                                  schema=sparse.schema)
    merged = _merge_sparse(twice)
    got = {(r.zoom, r.tile_x, r.tile_y): (bytes(r.idx), bytes(r.cnt))
           for r in merged.collect()}
    want = {(r.zoom, r.tile_x, r.tile_y):
            (bytes(r.idx), (2 * np.frombuffer(r.cnt, np.int64)).tobytes())
            for r in rows.itertuples()}
    assert got == want
    lines = _plan_lines(merged)
    assert sum("Exchange" in s for s in lines) == 1, lines
    assert not any("Sort" in s for s in lines), lines
