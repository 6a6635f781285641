"""Rasterize kernel parity (llrasterize.cpp rules) + the checksum
oracle (golden: byte.tif == 4672, autotest/gcore/tiff_read.py:45)."""

import struct

import numpy as np
import pandas as pd
import pytest

from gdal_spark.geometry.pip import points_in_rings
from gdal_spark.geometry.wkb import polygon_wkb
from gdal_spark.operators.checksum import checksum_array, tile_checksums
from gdal_spark.operators.rasterize import (
    GridSpec, assemble_raster, rasterize, rasterize_chunk,
)

BYTE_TIF = "/root/reference/autotest/gcore/data/byte.tif"


def _read_byte_tif() -> np.ndarray:
    """Minimal reader for the uncompressed 20x20 byte.tif fixture."""
    raw = open(BYTE_TIF, "rb").read()
    assert raw[:2] == b"II"
    off = struct.unpack("<I", raw[4:8])[0]
    n = struct.unpack("<H", raw[off:off + 2])[0]
    tags = {}
    for i in range(n):
        t, typ, cnt, val = struct.unpack(
            "<HHII", raw[off + 2 + i * 12:off + 14 + i * 12])
        tags[t] = val
    w, h = tags[256], tags[257]
    assert tags[259] == 1  # uncompressed
    data = raw[tags[273]:tags[273] + tags[279]]
    return np.frombuffer(data, dtype=np.uint8).reshape(h, w)


def test_checksum_byte_tif_golden():
    """The canonical GDAL golden: Checksum(byte.tif) == 4672."""
    arr = _read_byte_tif()
    assert checksum_array(arr) == 4672


def test_checksum_float_conversion():
    arr = np.array([[1.4, 1.6], [-1.4, -2.6]], dtype=np.float64)
    # IntFromDouble: +0.5 then floor -> 1, 2, -1, -3  (checksum of
    # int-converted array must equal checksum of those ints)
    want = checksum_array(np.array([[1, 2], [-1, -3]], dtype=np.int64))
    assert checksum_array(arr) == want


def test_checksum_window_offsets():
    arr = _read_byte_tif()
    # iPrime initialization depends on (y*xsize + xoff) % 11: a shifted
    # window must not equal the full-window checksum in general
    assert checksum_array(arr, xoff=1) != checksum_array(arr)


def _center_pip_fill(shape, rings):
    """Independent oracle: pixel centers strictly inside (even-odd
    ray cast)."""
    h, w = shape
    yy, xx = np.mgrid[0:h, 0:w]
    px = (xx + 0.5).ravel()
    py = (yy + 0.5).ravel()
    return points_in_rings(px, py, rings).reshape(h, w)


def test_scanline_matches_center_pip_generic():
    """For generic (non-pixel-aligned) polygons the scanline fill
    equals 'pixel center strictly inside'."""
    rng = np.random.RandomState(11)
    for _ in range(10):
        pts = rng.uniform(2, 18, (5, 2))
        # build a star-shaped (non-self-intersecting) ring around the
        # centroid by angle sort
        c = pts.mean(axis=0)
        ang = np.arctan2(pts[:, 1] - c[1], pts[:, 0] - c[0])
        ring = pts[np.argsort(ang)]
        ring = np.vstack([ring, ring[:1]])
        grid = rasterize_chunk((20, 20), [([ring], 1.0)], "uint8")
        want = _center_pip_fill((20, 20), [ring]).astype(np.uint8)
        np.testing.assert_array_equal(grid, want)


def test_scanline_rect_half_open():
    """Pixel-aligned rectangle [2,2..6,6): crossings at x=2 and x=6
    burn [2..5]; scanlines dy=2.5..5.5 inside -> 4x4 block."""
    ring = np.array([(2, 2), (6, 2), (6, 6), (2, 6), (2, 2)], dtype=float)
    grid = rasterize_chunk((8, 8), [([ring], 1.0)], "uint8")
    want = np.zeros((8, 8), np.uint8)
    want[2:6, 2:6] = 1
    np.testing.assert_array_equal(grid, want)


def test_polygon_with_hole():
    outer = np.array([(1, 1), (9, 1), (9, 9), (1, 9), (1, 1)], dtype=float)
    hole = np.array([(3, 3), (7, 3), (7, 7), (3, 7), (3, 3)], dtype=float)
    grid = rasterize_chunk((10, 10), [([outer, hole], 5.0)], "uint8")
    assert grid[2, 2] == 5 and grid[5, 5] == 0 and grid[8, 8] == 5
    want = _center_pip_fill((10, 10), [outer, hole])
    np.testing.assert_array_equal(grid > 0, want)


def test_all_touched_superset():
    ring = np.array([(2.3, 2.3), (7.7, 3.1), (6.2, 8.4), (2.9, 6.6),
                     (2.3, 2.3)])
    plain = rasterize_chunk((10, 10), [([ring], 1.0)], "uint8")
    at = rasterize_chunk((10, 10), [([ring], 1.0)], "uint8",
                         all_touched=True)
    assert (at >= plain).all()
    assert at.sum() > plain.sum()
    # every boundary-crossed pixel is set: vertices' pixels are burnt
    for x, y in ring[:-1]:
        assert at[int(y), int(x)] == 1


def test_merge_alg_add_overlap():
    a = np.array([(1, 1), (6, 1), (6, 6), (1, 6), (1, 1)], dtype=float)
    b = np.array([(4, 4), (9, 4), (9, 9), (4, 9), (4, 4)], dtype=float)
    grid = rasterize_chunk((10, 10), [([a], 3.0), ([b], 3.0)],
                           "float64", merge_alg="add")
    assert grid[2, 2] == 3.0
    assert grid[5, 5] == 6.0  # overlap adds
    assert grid[8, 8] == 3.0
    # ADD within ONE geometry must not double-burn (visited set)
    grid2 = rasterize_chunk((10, 10), [([a], 3.0)], "float64",
                            merge_alg="add", all_touched=True)
    assert grid2.max() == 3.0


def test_replace_clamps_dtype():
    ring = np.array([(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)], dtype=float)
    grid = rasterize_chunk((4, 4), [([ring], 300.0)], "uint8")
    assert grid.max() == 255  # GDALCopyWord clamp


def _star_polygons(n, lo, hi, r, seed):
    """*n* star-shaped (non-self-intersecting) rings, centres uniform
    in [lo, hi), vertices within *r* of them."""
    rng = np.random.RandomState(seed)
    rings = []
    for _ in range(n):
        cx, cy = rng.uniform(lo, hi), rng.uniform(lo, hi)
        pts = np.column_stack([
            cx + rng.uniform(-r, r, 6), cy + rng.uniform(-r, r, 6)])
        c = pts.mean(axis=0)
        ring = pts[np.argsort(np.arctan2(pts[:, 1] - c[1],
                                         pts[:, 0] - c[0]))]
        rings.append(np.vstack([ring, ring[:1]]))
    return [polygon_wkb([ring]) for ring in rings]


def _layer(case):
    """(wkbs, grid, rasterize options) for one distributed case."""
    from gdal_spark.geometry.wkb import linestring_wkb, multipoint_wkb

    square = GridSpec(x0=0.0, y1=100.0, px_w=1.0, px_h=1.0,
                      width=100, height=100)
    if case == "add":
        return (_star_polygons(12, 10, 90, 9, 5), square,
                {"merge_alg": "add"})
    if case == "ragged_grid":
        # 90 x 70 is no multiple of the 32-pixel tile on either axis
        return (_star_polygons(12, 5, 95, 12, 6),
                GridSpec(0.0, 100.0, 1.0, 1.0, 90, 70), {})
    if case == "outside_grid":
        # centres from -40 to 140: features straddle each edge or lie
        # wholly outside the grid
        return _star_polygons(16, -40, 140, 15, 7), square, {}
    if case == "all_touched":
        return (_star_polygons(12, 5, 95, 9, 8), square,
                {"all_touched": True})
    if case == "points_and_lines":
        rng = np.random.RandomState(9)
        wkbs = [multipoint_wkb(rng.uniform(-5, 105, (8, 2)))
                for _ in range(4)]
        wkbs += [linestring_wkb(rng.uniform(-5, 105, (4, 2)))
                 for _ in range(4)]
        return wkbs, square, {"merge_alg": "add"}
    raise ValueError(case)


@pytest.mark.parametrize("case", ["add", "ragged_grid", "outside_grid",
                                  "all_touched", "points_and_lines"])
def test_distributed_rasterize_equals_single_chunk(spark, case):
    """Tiled rasterize equals one whole-grid chunk of the same kernel."""
    from gdal_spark.geometry.wkb import parse_wkb

    wkbs, grid, opts = _layer(case)
    pdf = pd.DataFrame({"fid": np.arange(len(wkbs)),
                        "burn": np.arange(1.0, len(wkbs) + 1),
                        "geometry": wkbs})
    tiles = rasterize(spark, pdf, grid, burn_col="burn", dtype="float32",
                      tile_size=32, **opts).toPandas()
    got = assemble_raster(tiles, grid)
    geoms = []
    for w, burn in zip(wkbs, pdf["burn"]):
        g = parse_wkb(w)
        geoms.append(([grid.to_px(r) for r in g.rings()], burn, g.kind))
    want = rasterize_chunk((grid.height, grid.width), geoms, "float32",
                           **opts)
    assert want.any()
    np.testing.assert_array_equal(got, want)
    # one row per covered tile
    assert not tiles.duplicated(["tile_x", "tile_y"]).any()
    assert (tiles["zoom"] == -1).all() and (tiles["band"] == 1).all()


def test_distributed_rasterize_of_empty_layer(spark):
    from gdal_spark.operators.tiling import TILE_SCHEMA

    grid = GridSpec(0.0, 100.0, 1.0, 1.0, 100, 100)
    pdf = pd.DataFrame({"fid": np.zeros(0, np.int64),
                        "geometry": pd.Series([], dtype=object)})
    tiles = rasterize(spark, pdf, grid, burn_value=1.0, tile_size=32)
    assert tiles.schema == TILE_SCHEMA
    assert tiles.count() == 0


def test_features_sharing_a_fid_all_burn(spark):
    """GDAL burns every feature, whatever its fid: two squares that
    share fid 1 (burns 5 and 9) both reach the raster."""
    a = np.array([(2, 2), (10, 2), (10, 10), (2, 10), (2, 2)], dtype=float)
    b = np.array([(20, 20), (30, 20), (30, 30), (20, 30), (20, 20)],
                 dtype=float)
    grid = GridSpec(0.0, 40.0, 1.0, 1.0, 40, 40)
    pdf = pd.DataFrame({"fid": [1, 1], "burn": [5.0, 9.0],
                        "geometry": [polygon_wkb([grid.to_px(a)]),
                                     polygon_wkb([grid.to_px(b)])]})
    tiles = rasterize(spark, pdf, grid, burn_col="burn", dtype="uint8",
                      tile_size=16)
    got = assemble_raster(tiles.toPandas(), grid)
    want = rasterize_chunk((40, 40), [([a], 5.0), ([b], 9.0)], "uint8")
    assert (want == 5).sum() == 64 and (want == 9).sum() == 100
    np.testing.assert_array_equal(got, want)


def test_tile_checksums_runs(spark):
    ring = np.array([(10, 10), (50, 15), (45, 55), (12, 40), (10, 10)],
                    dtype=float)
    pdf = pd.DataFrame([{"fid": 0, "geometry": polygon_wkb([ring])}])
    grid = GridSpec(0.0, 64.0, 1.0, 1.0, 64, 64)
    tiles = rasterize(spark, pdf, grid, burn_value=7.0, dtype="uint8",
                      tile_size=64)
    cs = tile_checksums(tiles).collect()
    arr = assemble_raster(tiles.toPandas(), grid)
    assert cs[0].checksum == checksum_array(arr)


def test_point_and_line_rasterize():
    from gdal_spark.geometry import wkb as W
    from gdal_spark.operators.rasterize import rasterize_chunk

    pts = np.array([(2.3, 3.7), (7.9, 0.1), (-1.0, 5.0)])
    grid = rasterize_chunk((8, 8), [([pts], 9.0, W.MULTIPOINT)], "uint8")
    assert grid[3, 2] == 9 and grid[0, 7] == 9
    assert grid.sum() == 18  # out-of-grid point dropped
    line = np.array([(0.5, 0.5), (7.5, 7.5)])
    gl = rasterize_chunk((8, 8), [([line], 1.0, W.LINESTRING)], "uint8")
    # the diagonal walk touches every pixel on the diagonal
    assert all(gl[i, i] == 1 for i in range(8))


def test_cubic_resample_interpolates():
    from gdal_spark.operators.warp import resample_patch

    # linear ramp: cubic convolution reproduces linear data exactly
    patch = np.tile(np.arange(16, dtype=np.float64), (16, 1))
    jj, ii = np.mgrid[0:8, 0:8]
    sx = 4.0 + ii * 0.5 + 0.25
    sy = 4.0 + jj * 0.5 + 0.25
    out = resample_patch(patch, 0, 0, sx, sy, "cubic")
    want = sx - 0.5  # value(x) = x at pixel centers (i+0.5 -> i)
    np.testing.assert_allclose(out, want, rtol=1e-12)


def test_stat_resample_kernels():
    from gdal_spark.operators.warp import resample_patch

    patch = np.arange(64, dtype=np.float64).reshape(8, 8)
    jj, ii = np.mgrid[0:4, 0:4]
    # 2x downscale: each dst pixel covers a 2x2 block
    sx = ii * 2.0 + 1.0
    sy = jj * 2.0 + 1.0
    blocks = patch.reshape(4, 2, 4, 2).transpose(0, 2, 1, 3).reshape(4, 4, 4)
    for stat, fn in [("min", np.min), ("max", np.max), ("sum", np.sum),
                     ("med", np.median), ("average", np.mean)]:
        out = resample_patch(patch, 0, 0, sx, sy, stat)
        want = fn(blocks, axis=2)
        np.testing.assert_allclose(out, want, err_msg=stat)
    rms = resample_patch(patch, 0, 0, sx, sy, "rms")
    np.testing.assert_allclose(rms, np.sqrt((blocks ** 2).mean(axis=2)))


def test_lanczos_and_cubicspline_kernels():
    from gdal_spark.operators.warp import resample_patch

    # constant field: any normalized kernel reproduces it exactly
    patch = np.full((20, 20), 7.0)
    jj, ii = np.mgrid[0:8, 0:8]
    sx = 6.0 + ii * 0.7
    sy = 6.0 + jj * 0.7
    for k in ("lanczos", "cubicspline"):
        out = resample_patch(patch, 0, 0, sx, sy, k)
        np.testing.assert_allclose(out, 7.0, rtol=1e-12, err_msg=k)
    # linear ramp: lanczos approximates linear data closely (the
    # windowed sinc is not exactly linear-reproducing); cubic
    # B-spline smooths but stays within the data range
    ramp = np.tile(np.arange(20, dtype=np.float64), (20, 1))
    lz = resample_patch(ramp, 0, 0, sx, sy, "lanczos")
    np.testing.assert_allclose(lz, sx - 0.5, atol=0.05)
    cs = resample_patch(ramp, 0, 0, sx, sy, "cubicspline")
    assert (cs >= 0).all() and (cs <= 19).all()
    np.testing.assert_allclose(cs, sx - 0.5, atol=0.5)
