"""Warp / translate: identity, window/outsize, cast/scale, CRS
roundtrip (golden suite #3: reprojected coordinates match the closed
forms to 1e-9 deg, verified in test_geo_functions; here raster
semantics)."""

import numpy as np
import pytest

from gdal_spark.operators.rasterize import GridSpec, assemble_raster
from gdal_spark.operators.warp import (
    tiles_from_array, translate_tiles, warp_tiles,
)

RNG = np.random.RandomState(3)


@pytest.fixture(scope="module")
def src(spark):
    arr = RNG.randint(0, 255, (96, 128)).astype(np.uint8)
    tiles, w, h = tiles_from_array(spark, arr, tile_size=64)
    grid = GridSpec(x0=0.0, y1=float(h), px_w=1.0, px_h=1.0,
                    width=w, height=h)
    return arr, tiles, grid


def test_identity_warp(spark, src):
    arr, tiles, grid = src
    out = warp_tiles(tiles, grid, grid, "EPSG:3857", "EPSG:3857",
                     "near", tile_size=64)
    got = assemble_raster(out.toPandas(), grid)
    np.testing.assert_array_equal(got, arr)


def test_translate_window(spark, src):
    arr, tiles, grid = src
    out = translate_tiles(tiles, grid, srcwin=(16, 8, 64, 48),
                          tile_size=64)
    dstg = GridSpec(16.0, grid.y1 - 8, 1.0, 1.0, 64, 48)
    got = assemble_raster(out.toPandas(), dstg)
    np.testing.assert_array_equal(got, arr[8:56, 16:80])


def test_translate_downscale_average(spark, src):
    arr, tiles, grid = src
    out = translate_tiles(tiles, grid, srcwin=(0, 0, 128, 96),
                          outsize=(64, 48), resample="average",
                          tile_size=64)
    dstg = GridSpec(0.0, grid.y1, 2.0, 2.0, 64, 48)
    got = assemble_raster(out.toPandas(), dstg).astype(np.float64)
    want = arr.astype(np.float64).reshape(48, 2, 64, 2).mean(axis=(1, 3))
    # average via footprint estimate: allow rounding differences
    assert np.abs(got - np.round(want)).max() <= 1.0


def test_translate_upscale_near(spark, src):
    arr, tiles, grid = src
    out = translate_tiles(tiles, grid, srcwin=(0, 0, 64, 48),
                          outsize=(128, 96), resample="near",
                          tile_size=64)
    dstg = GridSpec(0.0, grid.y1, 0.5, 0.5, 128, 96)
    got = assemble_raster(out.toPandas(), dstg)
    want = np.kron(arr[:48, :64], np.ones((2, 2), dtype=np.uint8))
    np.testing.assert_array_equal(got, want)


def test_translate_scale_and_cast(spark, src):
    arr, tiles, grid = src
    out = translate_tiles(tiles, grid, srcwin=(0, 0, 128, 96),
                          scale=(0.0, 255.0, 0.0, 1.0), ot="float32",
                          tile_size=64)
    dstg = GridSpec(0.0, grid.y1, 1.0, 1.0, 128, 96)
    got = assemble_raster(out.toPandas(), dstg)
    assert got.dtype == np.float32
    np.testing.assert_allclose(got, arr / 255.0, atol=1e-6)


def test_translate_cast_clamps(spark, src):
    arr, tiles, grid = src
    out = translate_tiles(tiles, grid, srcwin=(0, 0, 128, 96),
                          scale=(0.0, 1.0, 0.0, 1000.0), ot="uint8",
                          tile_size=64)
    dstg = GridSpec(0.0, grid.y1, 1.0, 1.0, 128, 96)
    got = assemble_raster(out.toPandas(), dstg)
    assert got.dtype == np.uint8
    assert got[arr > 0].max() == 255  # clamped


def test_warp_4326_3857_samples_correctly(spark):
    """Warp a 4326 lat/lon grid to 3857 and verify sampled values by
    back-projecting dst pixel centers (near kernel)."""
    # source: 4326 grid over the world, value = encoded (lon_idx)
    w4, h4 = 360, 170
    arr = (np.arange(h4)[:, None] * 1000 + np.arange(w4)[None, :]) \
        .astype(np.float64)
    tiles, _, _ = tiles_from_array(spark, arr, tile_size=64)
    src_grid = GridSpec(x0=-180.0, y1=85.0, px_w=1.0, px_h=1.0,
                        width=w4, height=h4)
    from gdal_spark.functions import geo

    dst_grid = GridSpec(
        x0=-geo.ORIGIN, y1=geo.ORIGIN * 0.9,
        px_w=geo.ORIGIN / 128, px_h=geo.ORIGIN / 128,
        width=256, height=230,
    )
    out = warp_tiles(tiles, src_grid, dst_grid, "EPSG:4326", "EPSG:3857",
                     "near", nodata=-1.0, tile_size=64)
    got = assemble_raster(out.toPandas(), dst_grid)
    # oracle: back-project a sample of dst pixels
    jj, ii = np.mgrid[0:dst_grid.height:17, 0:dst_grid.width:13]
    wx = dst_grid.x0 + (ii + 0.5) * dst_grid.px_w
    wy = dst_grid.y1 - (jj + 0.5) * dst_grid.px_h
    lon = wx / geo.ORIGIN * 180.0
    lat = np.degrees(2 * np.arctan(np.exp(wy / geo.ORIGIN * np.pi))
                     - np.pi / 2)
    sx = np.floor((lon + 180.0) / 1.0).astype(int)
    sy = np.floor((85.0 - lat) / 1.0).astype(int)
    inside = (sx >= 0) & (sx < w4) & (sy >= 0) & (sy < h4)
    want = np.where(inside, arr[np.clip(sy, 0, h4 - 1),
                                np.clip(sx, 0, w4 - 1)], -1.0)
    np.testing.assert_array_equal(got[jj, ii], want)


def test_cutline_clip_blend_matches_single_array(spark):
    """Cutline clip with blend distance (gdalcutline.cpp:397
    semantics): the tiled clip == the single-array kernel
    (rasterize mask -> signed EDT -> feathered alpha -> blend),
    for both the hard cut and a fractional blend, with a one-feature
    layer and a layer of hundreds of features.  Where alpha saturates
    the clip selects src or nodata, so a NaN or inf src pixel outside
    the cut comes out as nodata and a NaN nodata reaches no pixel
    inside it (a multiply-blend gives NaN for 0 * NaN and 0 * inf)."""
    import numpy as np
    import pandas as pd

    from gdal_spark.geometry.wkb import polygon_wkb
    from gdal_spark.operators.cutline import blend_alpha, cutline_clip
    from gdal_spark.operators.rasterize import (
        GridSpec, assemble_raster, rasterize_chunk,
    )
    from gdal_spark.operators.warp import tiles_from_array

    ts = 64
    w = h = 3 * ts
    grid = GridSpec(0.0, float(h), 1.0, 1.0, w, h)
    rng = np.random.RandomState(5)
    src = rng.randint(1, 255, (h, w)).astype(np.float64)
    src_nan = src.copy()
    src_nan[rng.rand(h, w) < 0.05] = np.nan
    src_nan[rng.rand(h, w) < 0.02] = np.inf
    cases = [(arr, tiles_from_array(spark, arr, tile_size=ts)[0], nd)
             for arr, nd in ((src, -9.0), (src_nan, -9.0),
                             (src_nan, np.nan))]

    ring = np.array([(20.0, 30.0), (170.0, 50.0), (150.0, 160.0),
                     (60.0, 170.0), (20.0, 30.0)])
    # a layer of 324 small squares, some across tile and grid edges
    squares = [np.array([(x, y), (x + 5.0, y), (x + 5.0, y + 5.0),
                         (x, y + 5.0), (x, y)])
               for x in range(3, w, 11) for y in range(2, h, 11)]
    for rings in ([ring], squares):
        cut = pd.DataFrame({"fid": np.arange(len(rings), dtype=np.int64),
                            "geometry": [polygon_wkb([r]) for r in rings]})
        # single-array oracle, zero-padded k beyond the raster edge
        mask_arr = rasterize_chunk(
            (h, w), [([np.column_stack([r[:, 0] - grid.x0,
                                        grid.y1 - r[:, 1]])], 1.0)
                     for r in rings], "uint8") > 0
        for blend in (0.0, 3.5):
            k = max(1, int(np.ceil(blend)))
            padded = np.zeros((h + 2 * k, w + 2 * k), dtype=bool)
            padded[k:-k, k:-k] = mask_arr
            alpha = blend_alpha(padded, blend)[k:-k, k:-k]
            for arr, tiles, nd in cases:
                with np.errstate(invalid="ignore"):
                    want = np.where(alpha >= 1, arr, np.where(
                        alpha <= 0, nd, alpha * arr + (1 - alpha) * nd))
                if blend == 0:
                    np.testing.assert_array_equal(
                        want, np.where(mask_arr, arr, nd))
                out = cutline_clip(spark, tiles, cut, grid,
                                   blend_px=blend, nodata=nd,
                                   tile_size=ts)
                got = assemble_raster(out.toPandas(), grid)
                np.testing.assert_allclose(
                    got, want, rtol=1e-12, atol=1e-9, equal_nan=True,
                    err_msg=f"{len(rings)} features, blend {blend}, "
                            f"nodata {nd}")
            if blend > 0:
                frac = (alpha > 0) & (alpha < 1)
                assert frac.sum() > 100  # feather band exercised


def test_cutline_boundary_band_classification(spark):
    """A big axis-aligned cutline on an 8x8 tile lattice, whose tiles
    are pure inside, pure outside or on the boundary: the output
    matches the single-array kernel, and a blend wider than a tile is
    rejected."""
    import numpy as np
    import pandas as pd

    from gdal_spark.geometry.wkb import polygon_wkb
    from gdal_spark.operators.cutline import blend_alpha, cutline_clip
    from gdal_spark.operators.rasterize import (
        GridSpec, assemble_raster, rasterize_chunk,
    )
    from gdal_spark.operators.warp import tiles_from_array

    ts = 32
    n = 8
    w = h = n * ts
    grid = GridSpec(0.0, float(h), 1.0, 1.0, w, h)
    rng = np.random.RandomState(7)
    src = rng.randint(1, 255, (h, w)).astype(np.float64)
    tiles, _, _ = tiles_from_array(spark, src, tile_size=ts)

    # rectangle covering tiles [1..6) x [1..6) exactly on tile edges:
    # tiles 2..4 in each axis are pure inside (self + 8 nbrs full),
    # tile row/col 7 is pure outside (no mask within one ring)
    ring = np.array([(1.0 * ts, h - 6.0 * ts), (6.0 * ts, h - 6.0 * ts),
                     (6.0 * ts, h - 1.0 * ts), (1.0 * ts, h - 1.0 * ts),
                     (1.0 * ts, h - 6.0 * ts)])
    cut = pd.DataFrame({"fid": np.array([0], dtype=np.int64),
                        "geometry": [polygon_wkb([ring])]})

    # output exact vs the single-array kernel
    ring_px = np.column_stack([ring[:, 0] - grid.x0,
                               grid.y1 - ring[:, 1]])
    mask_arr = rasterize_chunk((h, w), [([ring_px], 1.0)],
                               "uint8") > 0
    blend = 2.5
    k = max(1, int(np.ceil(blend)))
    padded = np.zeros((h + 2 * k, w + 2 * k), dtype=bool)
    padded[k:-k, k:-k] = mask_arr
    alpha = blend_alpha(padded, blend)[k:-k, k:-k]
    want = alpha * src + (1 - alpha) * 0.0
    out = cutline_clip(spark, tiles, cut, grid, blend_px=blend,
                       nodata=0.0, tile_size=ts)
    got = assemble_raster(out.toPandas(), grid)
    np.testing.assert_allclose(got, want, rtol=1e-12, atol=1e-9)

    # blend wider than a tile is rejected (the 1-ring halo bound)
    import pytest
    with pytest.raises(ValueError, match="blend"):
        cutline_clip(spark, tiles, cut, grid, blend_px=ts + 1.0,
                     nodata=0.0, tile_size=ts)


def test_cutline_sparse_lattice(spark):
    """A SPARSE src lattice (missing tiles): mask content on absent
    tiles must not leak into their neighbours' windows, so the output
    matches the single-array kernel with the absent region's mask
    zeroed, for a hard cut and a feather."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from gdal_spark.geometry.wkb import polygon_wkb
    from gdal_spark.operators.cutline import blend_alpha, cutline_clip
    from gdal_spark.operators.rasterize import (
        GridSpec, rasterize_chunk,
    )
    from gdal_spark.operators.tiling import decode_tile
    from gdal_spark.operators.warp import tiles_from_array

    ts, n = 32, 4
    w = h = n * ts
    grid = GridSpec(0.0, float(h), 1.0, 1.0, w, h)
    rng = np.random.RandomState(13)
    src = rng.randint(1, 255, (h, w)).astype(np.float64)
    tiles, _, _ = tiles_from_array(spark, src, tile_size=ts)
    # drop tile (2, 2) from the lattice
    sparse = tiles.filter(~((F.col("tile_x") == 2)
                            & (F.col("tile_y") == 2)))

    for ring in (
        # cutline entirely within the ABSENT tile: every present
        # tile is pure outside (this is the pre-fix crash shape)
        np.array([(2 * ts + 5.0, h - 3 * ts + 5.0),
                  (3 * ts - 5.0, h - 3 * ts + 5.0),
                  (3 * ts - 5.0, h - 2 * ts - 5.0),
                  (2 * ts + 5.0, h - 2 * ts - 5.0),
                  (2 * ts + 5.0, h - 3 * ts + 5.0)]),
        # cutline straddling the absent tile and its neighbors
        np.array([(ts + 8.0, h - 3 * ts - 8.0),
                  (3 * ts + 8.0, h - 3 * ts - 8.0),
                  (3 * ts + 8.0, h - ts - 8.0),
                  (ts + 8.0, h - ts - 8.0),
                  (ts + 8.0, h - 3 * ts - 8.0)]),
    ):
        cut = pd.DataFrame({"fid": np.array([0], dtype=np.int64),
                            "geometry": [polygon_wkb([ring])]})
        # oracle: zero the mask on the absent tile, then per-tile
        # compare (assemble_raster can't hold a hole)
        ring_px = np.column_stack([ring[:, 0] - grid.x0,
                                   grid.y1 - ring[:, 1]])
        mask_arr = rasterize_chunk((h, w), [([ring_px], 1.0)],
                                   "uint8") > 0
        mask_arr[2 * ts:3 * ts, 2 * ts:3 * ts] = False
        for blend in (0.0, 2.5):
            k = max(1, int(np.ceil(blend)))
            padded = np.zeros((h + 2 * k, w + 2 * k), dtype=bool)
            padded[k:-k, k:-k] = mask_arr
            alpha = blend_alpha(padded, blend)[k:-k, k:-k]
            want = alpha * src + (1 - alpha) * (-7.0)
            out = cutline_clip(spark, sparse, cut, grid, blend_px=blend,
                               nodata=-7.0, tile_size=ts).toPandas()
            assert len(out) == n * n - 1  # one row per present tile
            for _, r in out.iterrows():
                tx, ty = int(r["tile_x"]), int(r["tile_y"])
                got = decode_tile(r["data"], r["dtype"], ts)
                np.testing.assert_allclose(
                    got, want[ty * ts:(ty + 1) * ts,
                              tx * ts:(tx + 1) * ts],
                    rtol=1e-12, atol=1e-9,
                    err_msg=f"blend {blend} tile {tx},{ty}")


def test_footprint_stat_stable_at_world_scale(spark):
    """Footprint-stat resampling (sum/average/min/max...) must use
    the pixel-center half-open rule: at Web-Mercator-scale
    coordinates, float noise around integer window bounds widened an
    aligned 2x2 sum window to 3x2 (+25% mass).  An aligned 2x
    downscale with 'sum' must conserve mass EXACTLY and equal the
    block-sum; 'average' must equal the block-mean."""
    import numpy as np

    from gdal_spark.functions import geo
    from gdal_spark.operators.rasterize import GridSpec, assemble_raster
    from gdal_spark.operators.warp import tiles_from_array, \
        translate_tiles

    n_px = 128
    res = 2 * geo.ORIGIN / n_px
    arr = (np.arange(n_px * n_px, dtype=np.float64)
           .reshape(n_px, n_px) % 7)
    t, _, _ = tiles_from_array(spark, arr, tile_size=32)
    src = GridSpec(-geo.ORIGIN, geo.ORIGIN, res, res, n_px, n_px)
    dst = GridSpec(-geo.ORIGIN, geo.ORIGIN, 2 * res, 2 * res,
                   n_px // 2, n_px // 2)
    blocks = arr.reshape(n_px // 2, 2, n_px // 2, 2)

    out = translate_tiles(t, src, (0, 0, n_px, n_px),
                          outsize=(n_px // 2, n_px // 2),
                          resample="sum", tile_size=32)
    got = assemble_raster(out.toPandas(), dst)
    np.testing.assert_array_equal(got, blocks.sum(axis=(1, 3)))

    out = translate_tiles(t, src, (0, 0, n_px, n_px),
                          outsize=(n_px // 2, n_px // 2),
                          resample="average", tile_size=32)
    got = assemble_raster(out.toPandas(), dst)
    np.testing.assert_allclose(got, blocks.mean(axis=(1, 3)),
                               rtol=1e-12)


def test_cutline_empty_layer_and_multiband(spark, tmp_path):
    """(a) An EMPTY cutline layer, one wholly off the grid, or one of
    EMPTY geometries only, clips without crashing — every tile is
    outside (constant nodata);
    (b) a multi-band raster clips every band with the same per-tile
    window mask (the kernel's cross-band carry), matching the
    per-band single-array oracle, for a hard cut and a feather."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from gdal_spark.geometry.wkb import polygon_wkb
    from gdal_spark.operators.cutline import blend_alpha, cutline_clip
    from gdal_spark.operators.rasterize import GridSpec, rasterize_chunk
    from gdal_spark.operators.tiling import decode_tile
    from gdal_spark.operators.warp import tiles_from_array

    ts, n = 32, 3
    w = h = n * ts
    grid = GridSpec(0.0, float(h), 1.0, 1.0, w, h)
    rng = np.random.RandomState(3)
    band1 = rng.randint(1, 255, (h, w)).astype(np.float64)
    band2 = rng.randint(1, 255, (h, w)).astype(np.float64)
    t1, _, _ = tiles_from_array(spark, band1, tile_size=ts)
    t2, _, _ = tiles_from_array(spark, band2, tile_size=ts)
    tiles = t1.unionByName(t2.withColumn("band", F.lit(2)))

    # (a) empty / off-grid cutline: all-outside, no crash, one row
    # per src row
    empty = pd.DataFrame({"fid": pd.Series(dtype=np.int64),
                          "geometry": pd.Series(dtype=object)})
    off = np.array([(w + 10.0, 10.0), (w + 50.0, 10.0),
                    (w + 50.0, 50.0), (w + 10.0, 10.0)])
    off_grid = pd.DataFrame({"fid": np.array([0], dtype=np.int64),
                             "geometry": [polygon_wkb([off])]})
    only_empty = pd.DataFrame({"fid": np.array([0], dtype=np.int64),
                               "geometry": [polygon_wkb([])]})
    for layer in (empty, off_grid, only_empty):
        out = cutline_clip(spark, tiles, layer, grid, blend_px=2.0,
                           nodata=-5.0, tile_size=ts).toPandas()
        assert len(out) == 2 * n * n
        for _, r in out.iterrows():
            arr = decode_tile(r["data"], r["dtype"], ts)
            assert (arr == -5.0).all()

    # (b) multi-band blend == per-band oracle; the layer's EMPTY
    # feature draws nothing
    ring = np.array([(10.0, 10.0), (80.0, 20.0), (70.0, 85.0),
                     (15.0, 80.0), (10.0, 10.0)])
    cut = pd.DataFrame({"fid": np.array([0, 1], dtype=np.int64),
                        "geometry": [polygon_wkb([]),
                                     polygon_wkb([ring])]})
    ring_px = np.column_stack([ring[:, 0] - grid.x0,
                               grid.y1 - ring[:, 1]])
    mask_arr = rasterize_chunk((h, w), [([ring_px], 1.0)],
                               "uint8") > 0
    for blend in (0.0, 2.5):
        k = max(1, int(np.ceil(blend)))
        padded = np.zeros((h + 2 * k, w + 2 * k), dtype=bool)
        padded[k:-k, k:-k] = mask_arr
        alpha = blend_alpha(padded, blend)[k:-k, k:-k]
        got = cutline_clip(spark, tiles, cut, grid, blend_px=blend,
                           nodata=0.0, tile_size=ts).toPandas()
        assert len(got) == 2 * n * n
        for _, r in got.iterrows():
            tx, ty = int(r["tile_x"]), int(r["tile_y"])
            b = int(r["band"])
            src = (band1 if b == 1 else band2)[
                ty * ts:(ty + 1) * ts, tx * ts:(tx + 1) * ts]
            a = alpha[ty * ts:(ty + 1) * ts, tx * ts:(tx + 1) * ts]
            np.testing.assert_allclose(
                decode_tile(r["data"], r["dtype"], ts), a * src,
                rtol=1e-12, atol=1e-9,
                err_msg=f"blend {blend} band {b} tile {tx},{ty}")
