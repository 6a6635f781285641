"""The halo exchange (``gdal_spark.operators.halo``): all-equal blocks
ship as one value (h = -1) and the centre passes the tile's original,
possibly deflate-coded payload through.  The assembled canvas must be
identical to what full raw blocks produce, for raw and coded inputs,
every width from 0 to the tile size, and every band of a multi-band
frame.  The operators on it keep one group per (zoom, tile_x, tile_y,
band) and reject a halo wider than the tile."""

import numpy as np
import pandas as pd
import pytest

from gdal_spark.operators.dem import focal_tiles
from gdal_spark.operators.halo import assemble_halo_canvas, emit_halos
from gdal_spark.operators.proximity import (
    edt_squared, fillnodata_tiles, proximity_tiles,
)
from gdal_spark.operators.rasterize import GridSpec, assemble_raster
from gdal_spark.operators.tiling import encode_tile


def _tiles_df(spark, arrays, codec):
    """``arrays``: {(tile_x, tile_y, band): (ts, ts) array}."""
    rows = []
    for (tx, ty, band), arr in arrays.items():
        payload, dts = encode_tile(arr, codec)
        rows.append({"zoom": 3, "tile_x": tx, "tile_y": ty,
                     "band": band, "data": payload, "dtype": dts,
                     "tile_size": arr.shape[0]})
    return spark.createDataFrame(pd.DataFrame(rows))


@pytest.mark.parametrize("k,codec,bands", [
    pytest.param(k, codec, bands,
                 id=f"{k}-{codec}" + ("-2band" if bands == 2 else ""))
    for bands in (1, 2) for k in (0, 1, 3) for codec in (None, "deflate")])
def test_halo_canvas_matches_raw_reference(spark, k, codec, bands):
    ts = 32
    rng = np.random.RandomState(4)
    arrays = {}
    for band in range(1, bands + 1):
        arrays.update({
            (1, 1, band): rng.randint(0, 9, (ts, ts)).astype(np.float64),
            (2, 1, band): np.zeros((ts, ts)),           # constant tile
            (1, 2, band): np.full((ts, ts), 7.0 * band),  # constant
            (2, 2, band): rng.randint(0, 3, (ts, ts)).astype(np.float64),
        })
    halos = emit_halos(_tiles_df(spark, arrays, codec), k)
    pdfs = {k2: g for k2, g in halos.toPandas().groupby(
        ["tile_x", "tile_y", "band"])}
    # reference canvas straight from the arrays
    for (tx, ty, band), arr in arrays.items():
        want = np.full((ts + 2 * k, ts + 2 * k), np.nan)
        want[k:k + ts, k:k + ts] = arr
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                if k == 0 or dx == dy == 0:
                    continue
                nb = arrays.get((tx + dx, ty + dy, band))
                if nb is None:
                    continue
                # neighbor's facing strip
                ys = slice(0, k) if dy == 1 else \
                    (slice(ts - k, ts) if dy == -1 else slice(0, ts))
                xs = slice(0, k) if dx == 1 else \
                    (slice(ts - k, ts) if dx == -1 else slice(0, ts))
                blk = nb[ys, xs]
                cy = slice(0, k) if dy == -1 else \
                    (slice(ts + k, ts + 2 * k) if dy == 1
                     else slice(k, ts + k))
                cx = slice(0, k) if dx == -1 else \
                    (slice(ts + k, ts + 2 * k) if dx == 1
                     else slice(k, ts + k))
                want[cy, cx] = blk
        pdf = pdfs[(tx, ty, band)]
        got = assemble_halo_canvas(pdf, ts, k, fill=np.nan)
        assert np.array_equal(np.nan_to_num(got, nan=-777.0),
                              np.nan_to_num(want, nan=-777.0)), \
            (tx, ty, band)
        assert set(pdf["zoom"]) == {3}
    # the constant tiles really took the compact form
    h_col = pdfs[(2, 1, 1)]
    center = h_col[h_col["rel"] == 0].iloc[0]
    assert int(center["h"]) == -1 and len(center["data"]) == 8
    if k == 0:
        assert (halos.toPandas()["rel"] == 0).all()


def _two_band(spark, ts=16):
    """2x2-tile frame with two bands that differ everywhere."""
    rng = np.random.RandomState(8)
    arrays = {(tx, ty, band): rng.randint(0, 100, (ts, ts))
              .astype(np.float64)
              for band in (1, 2) for tx in (0, 1) for ty in (0, 1)}
    return _tiles_df(spark, arrays, None)


def _by_key(df):
    return {(r.tile_x, r.tile_y, r.band): bytes(r.data)
            for r in df.collect()}


@pytest.mark.parametrize("op", [
    lambda t: focal_tiles(t, "slope"),
    lambda t: proximity_tiles(t, [50.0], 3.0),
], ids=["focal_slope", "proximity"])
def test_multiband_frame_renders_each_band_alone(spark, op):
    """Each band of a two-band frame equals the call on that band
    alone; keying the exchange on (tile_x, tile_y) only returned 4
    rows here, with bands mixed."""
    tiles = _two_band(spark)
    got = _by_key(op(tiles))
    assert len(got) == 8
    for band in (1, 2):
        alone = _by_key(op(tiles.filter(f"band = {band}")))
        assert {k: v for k, v in got.items() if k[2] == band} == alone


def test_proximity_halo_width_zero(spark):
    """max_dist = 0 runs with no halo: the canvas is the tile, and the
    result equals the single-array transform."""
    from gdal_spark.operators.warp import tiles_from_array

    rng = np.random.RandomState(2)
    arr = rng.randint(0, 6, (32, 32)).astype(np.float64)
    tiles, _w, _h = tiles_from_array(spark, arr, tile_size=16)
    out = proximity_tiles(tiles, [4.0], 0.0)
    got = assemble_raster(out.toPandas(),
                          GridSpec(0.0, 32.0, 1.0, 1.0, 32, 32))
    dist = np.sqrt(edt_squared(arr == 4.0)[0])
    np.testing.assert_array_equal(got, np.where(dist <= 0.0, dist, -1.0))


@pytest.mark.parametrize("op", [
    lambda t: proximity_tiles(t, [4.0], 20.0),
    lambda t: fillnodata_tiles(t, 0.0, max_dist=20.0),
], ids=["proximity", "fillnodata"])
def test_halo_wider_than_tile_raises(spark, op):
    tiles = _two_band(spark)
    with pytest.raises(Exception, match="halo width 20 exceeds tile "
                                        "size 16"):
        op(tiles).collect()


def test_focal_plan_names_emit_and_render_around_one_exchange(spark):
    """The executed plan shows the named emitter and render with
    exactly one Exchange between them."""
    out = focal_tiles(_two_band(spark), "slope")
    out.collect()
    lines = out._jdf.queryExecution().executedPlan().toString() \
        .splitlines()
    render = next(i for i, s in enumerate(lines)
                  if "operators.dem.focal" in s)
    emit = next(i for i, s in enumerate(lines)
                if "operators.halo.emit" in s)
    assert render < emit
    assert sum("Exchange" in s for s in lines[render:emit]) == 1, lines
