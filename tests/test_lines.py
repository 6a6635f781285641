"""Line-geometry kernels + line-layer algebra.

Mirrors the reference's line cases of the layer-algebra autotests
(clip keeps the in-polygon portion, erase the complement, lengths
partition exactly) and FilterGeometry's any-geometry-pair contract.
"""

import numpy as np
import pandas as pd
import pytest

from gdal_spark.geometry.lines import (
    clip_line_to_rings, erase_line_from_rings, line_intersects_rings,
    lines_cross, polyline_length,
)
from gdal_spark.geometry.overlay import geoms_intersect
from gdal_spark.geometry.wkb import (
    linestring_wkb, parse_wkb, point_wkb, polygon_wkb,
)


def sq(x0, y0, x1, y1):
    return np.array([(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)],
                    dtype=np.float64)


RECT = [sq(0.0, 0.0, 10.0, 10.0)]
HOLED = [sq(0.0, 0.0, 10.0, 10.0), sq(4.0, 4.0, 6.0, 6.0)]


def test_clip_line_horizontal():
    line = np.array([(-5.0, 5.0), (15.0, 5.0)])
    inside = clip_line_to_rings(line, RECT)
    assert len(inside) == 1
    np.testing.assert_allclose(inside[0], [(0, 5), (10, 5)])
    outside = erase_line_from_rings(line, RECT)
    assert polyline_length(outside) == pytest.approx(10.0)
    assert polyline_length(inside) + polyline_length(outside) \
        == pytest.approx(20.0)


def test_clip_line_through_hole():
    """A line crossing the hole: the in-hole run is NOT inside."""
    line = np.array([(-2.0, 5.0), (12.0, 5.0)])
    inside = clip_line_to_rings(line, HOLED)
    assert len(inside) == 2
    assert polyline_length(inside) == pytest.approx(8.0)  # 10 - 2 hole
    outside = erase_line_from_rings(line, HOLED)
    assert polyline_length(outside) == pytest.approx(6.0)  # 2+2 + hole 2


def test_clip_polyline_multi_segment():
    """L-shaped polyline, partial containment, stitching across the
    interior vertex."""
    line = np.array([(5.0, -3.0), (5.0, 5.0), (20.0, 5.0)])
    inside = clip_line_to_rings(line, RECT)
    # enters at (5,0), turns at (5,5), exits at (10,5): one stitched part
    assert len(inside) == 1
    assert polyline_length(inside) == pytest.approx(5.0 + 5.0)
    np.testing.assert_allclose(inside[0],
                               [(5, 0), (5, 5), (10, 5)])


def test_clip_line_diagonal_exact():
    line = np.array([(-5.0, -5.0), (15.0, 15.0)])
    inside = clip_line_to_rings(line, RECT)
    assert polyline_length(inside) == pytest.approx(10 * np.sqrt(2))


def test_collinear_boundary_run_deterministic():
    """A segment lying ON the boundary classifies by the ray-cast
    midpoint rule: bottom/left edges count IN, top/right OUT (the
    half-open [y0, y1) convention of the PIP kernel) — deterministic,
    not an error, and clip+erase still partition the length."""
    bottom = np.array([(-2.0, 0.0), (12.0, 0.0)])
    i, o = (clip_line_to_rings(bottom, RECT),
            erase_line_from_rings(bottom, RECT))
    assert polyline_length(i) + polyline_length(o) == pytest.approx(14.0)
    assert polyline_length(i) == pytest.approx(10.0)   # bottom edge in
    top = np.array([(-2.0, 10.0), (12.0, 10.0)])
    i2, o2 = (clip_line_to_rings(top, RECT),
              erase_line_from_rings(top, RECT))
    assert polyline_length(i2) == pytest.approx(0.0)   # top edge out
    assert polyline_length(o2) == pytest.approx(14.0)


def test_line_predicates():
    assert line_intersects_rings(np.array([(-1.0, 5.0), (3.0, 5.0)]),
                                 RECT)
    assert line_intersects_rings(np.array([(2.0, 2.0), (3.0, 3.0)]),
                                 RECT)  # fully inside
    assert not line_intersects_rings(
        np.array([(-5.0, -5.0), (-1.0, -1.0)]), RECT)
    assert lines_cross(np.array([(0.0, 0.0), (2.0, 2.0)]),
                       np.array([(0.0, 2.0), (2.0, 0.0)]))
    assert not lines_cross(np.array([(0.0, 0.0), (1.0, 0.0)]),
                           np.array([(0.0, 1.0), (1.0, 1.0)]))


def test_geoms_intersect_dispatch():
    poly = parse_wkb(polygon_wkb(RECT))
    line_in = parse_wkb(linestring_wkb([(2, 2), (3, 3)]))
    line_out = parse_wkb(linestring_wkb([(-3, -3), (-1, -1)]))
    pt_in = parse_wkb(point_wkb(5.0, 5.0))
    pt_out = parse_wkb(point_wkb(-5.0, 5.0))
    assert geoms_intersect(line_in, poly)
    assert geoms_intersect(poly, line_in)      # symmetric dispatch
    assert not geoms_intersect(line_out, poly)
    assert geoms_intersect(pt_in, poly)
    assert not geoms_intersect(pt_out, poly)
    assert geoms_intersect(pt_in, parse_wkb(point_wkb(5.0, 5.0)))
    assert geoms_intersect(
        pt_in, parse_wkb(linestring_wkb([(0, 0), (10, 10)])))
    assert geoms_intersect(poly, parse_wkb(polygon_wkb(
        [sq(8.0, 8.0, 12.0, 12.0)])))


def _lines_df(spark, rows):
    return spark.createDataFrame(pd.DataFrame({
        "fid": np.arange(len(rows), dtype=np.int64),
        "geometry": [linestring_wkb(np.array(r)) for r in rows],
    }))


def test_overlay_lines_clip_erase_identity(spark):
    from gdal_spark.operators.layer_algebra import overlay_lines

    method = pd.DataFrame({
        "fid": np.array([0, 1], dtype=np.int64),
        "geometry": [polygon_wkb([sq(0.0, 0.0, 10.0, 10.0)]),
                     polygon_wkb([sq(20.0, 0.0, 30.0, 10.0)])],
    })
    lines = _lines_df(spark, [
        [(-5.0, 5.0), (35.0, 5.0)],          # crosses both zones
        [(2.0, 1.0), (2.0, 9.0)],            # inside zone 0 only
        [(50.0, 50.0), (60.0, 60.0)],        # outside everything
    ])
    clip = overlay_lines(spark, lines, method, "clip").toPandas()
    got = clip.set_index(["fid", "method_fid"])["length"]
    assert got[(0, 0)] == pytest.approx(10.0)
    assert got[(0, 1)] == pytest.approx(10.0)
    assert got[(1, 0)] == pytest.approx(8.0)
    assert len(clip) == 3

    erase = overlay_lines(spark, lines, method, "erase").toPandas()
    er = erase.set_index("fid")["length"]
    assert er[0] == pytest.approx(20.0)   # 5 + 10 gap + 5
    assert er[2] == pytest.approx(polyline_length(
        [np.array([(50.0, 50.0), (60.0, 60.0)])]))
    assert 1 not in er.index              # fully inside -> no remainder

    ident = overlay_lines(spark, lines, method, "identity").toPandas()
    total_in = ident[ident.method_fid >= 0]["length"].sum()
    total_out = ident[ident.method_fid == -1]["length"].sum()
    assert total_in + total_out == pytest.approx(
        40.0 + 8.0 + polyline_length(
            [np.array([(50.0, 50.0), (60.0, 60.0)])]))

    # geometry round-trips as MULTILINESTRING
    g = parse_wkb(bytes(clip.iloc[0]["geometry"]))
    assert g.kind == 5


def test_method_grid_index_prefilter():
    """The broadcast path's grid index returns only nearby method
    candidates — a query bbox in an empty region tests NOTHING (the
    per-line full-layer scan is gone)."""
    from gdal_spark.operators.layer_algebra import (
        _grid_candidates, _method_grid_index,
    )

    meth = []
    for i in range(100):
        x = float(i % 10)
        y = float(i // 10)
        meth.append((i, [sq(x, y, x + 0.9, y + 0.9)],
                     (x, y, x + 0.9, y + 0.9)))
    idx = _method_grid_index(meth)
    # empty far corner: no candidates at all
    assert _grid_candidates(idx, 50.0, 50.0, 51.0, 51.0) == []
    # a 1-cell query returns a small local subset, not the layer
    got = _grid_candidates(idx, 3.1, 3.1, 3.2, 3.2)
    assert 33 in got and len(got) <= 9
    # candidates are a superset of true bbox overlappers
    got_wide = _grid_candidates(idx, 0.0, 0.0, 9.9, 0.5)
    assert set(range(10)) <= set(got_wide)


def test_overlay_lines_big_parity(spark, monkeypatch):
    """overlay_lines_big (distributed method layer, cell-cover join +
    per-line carry kernel) matches the broadcast path pair-for-pair
    and length-for-length on a 10^4-feature method layer; the auto
    selector picks each path by the byte/row gate."""
    import gdal_spark.operators.layer_algebra as la
    import gdal_spark.operators.spatial_join as sj
    from gdal_spark.operators.layer_algebra import (
        overlay_lines, overlay_lines_auto, overlay_lines_big,
    )

    # 10^4 unit squares on a 100x100 lattice mapped into the
    # geographic window [-60,40] x [-25,25]
    n_side = 100
    mrows = {"fid": [], "geometry": []}
    for i in range(n_side * n_side):
        x = -60.0 + (i % n_side) * 1.0
        y = -25.0 + (i // n_side) * 0.5
        mrows["fid"].append(i)
        mrows["geometry"].append(
            polygon_wkb([sq(x, y, x + 0.9, y + 0.45)]))
    method_pdf = pd.DataFrame({
        "fid": np.array(mrows["fid"], dtype=np.int64),
        "geometry": mrows["geometry"]})
    method_df = spark.createDataFrame(method_pdf)

    paths = []
    rng = np.random.RandomState(11)
    for _ in range(25):
        x0, y0 = rng.uniform(-60, 35), rng.uniform(-25, 20)
        paths.append([(x0, y0), (x0 + rng.uniform(1, 8), y0),
                      (x0 + rng.uniform(1, 8), y0 + rng.uniform(1, 4))])
    lines = _lines_df(spark, paths)

    for op in ("clip", "erase", "identity"):
        want = overlay_lines(spark, lines, method_pdf, op) \
            .toPandas().sort_values(["fid", "method_fid"]) \
            .reset_index(drop=True)
        got = overlay_lines_big(spark, lines, method_df, op) \
            .toPandas().sort_values(["fid", "method_fid"]) \
            .reset_index(drop=True)
        assert got[["fid", "method_fid"]].values.tolist() \
            == want[["fid", "method_fid"]].values.tolist(), op
        np.testing.assert_allclose(got["length"], want["length"],
                                   rtol=1e-9, atol=1e-9)

    # auto: tiny byte bound -> distributed; default -> broadcast.  The
    # arm that must not run is replaced by a stub that fails.
    def forbidden(*args, **kwargs):
        raise AssertionError("wrong overlay_lines_auto arm")

    want = overlay_lines(spark, lines, method_pdf, "clip") \
        .toPandas().sort_values(["fid", "method_fid"]) \
        .reset_index(drop=True)
    with monkeypatch.context() as m:
        m.setattr(sj, "_BROADCAST_BYTE_LIMIT", 64)
        m.setattr(la, "overlay_lines", forbidden)
        got = overlay_lines_auto(spark, lines, method_df, "clip") \
            .toPandas().sort_values(["fid", "method_fid"]) \
            .reset_index(drop=True)
    np.testing.assert_allclose(got["length"], want["length"],
                               rtol=1e-9, atol=1e-9)
    with monkeypatch.context() as m:
        m.setattr(la, "overlay_lines_big", forbidden)
        got = overlay_lines_auto(spark, lines, method_df, "clip") \
            .toPandas().sort_values(["fid", "method_fid"]) \
            .reset_index(drop=True)
    np.testing.assert_allclose(got["length"], want["length"],
                               rtol=1e-9, atol=1e-9)


def test_overlay_lines_big_megaline_skew(spark):
    """A single line crossing ~10^3 method features lands in ONE
    carry-kernel group (hash partition by fid): the sequential erase
    chain must stay correct — clip + erase partition the length
    exactly against the closed form."""
    from gdal_spark.operators.layer_algebra import overlay_lines_big

    # 1000 squares of side 0.5 every 0.1 degrees along the equator
    n = 1000
    mrows = {"fid": [], "geometry": []}
    covered = []
    for i in range(n):
        x = -50.0 + i * 0.1
        mrows["fid"].append(i)
        mrows["geometry"].append(polygon_wkb([sq(x, -0.25, x + 0.05,
                                                 0.25)]))
        covered.append((x, x + 0.05))
    method_df = spark.createDataFrame(pd.DataFrame({
        "fid": np.array(mrows["fid"], dtype=np.int64),
        "geometry": mrows["geometry"]}))
    # one horizontal line through all of them
    line = _lines_df(spark, [[(-60.0, 0.0), (60.0, 0.0)]])

    out = overlay_lines_big(spark, line, method_df, "identity") \
        .toPandas()
    inside = out[out.method_fid >= 0]
    assert len(inside) == n          # one row per crossed feature
    np.testing.assert_allclose(inside["length"], 0.05, atol=1e-9)
    rem = out[out.method_fid == -1]["length"].sum()
    assert rem == pytest.approx(120.0 - n * 0.05, abs=1e-6)


def test_overlay_general_options(spark):
    from gdal_spark.operators.layer_algebra import overlay_general

    method = pd.DataFrame({
        "fid": np.array([0], dtype=np.int64),
        "geometry": [polygon_wkb([sq(0.0, 0.0, 10.0, 10.0)])],
    })
    good = polygon_wkb([sq(2.2, 2.2, 4.4, 4.4)])
    bad = b"\x01\x99\x00\x00\x00"  # unparseable WKB
    inputs = spark.createDataFrame(pd.DataFrame({
        "fid": np.array([0, 1], dtype=np.int64),
        "geometry": [good, bad],
    }))
    with pytest.raises(Exception):
        overlay_general(spark, inputs, method, "intersection") \
            .count()
    out = overlay_general(spark, inputs, method, "intersection",
                          options={"SKIP_FAILURES": True}).toPandas()
    assert out["fid"].tolist() == [0]

    # identity (multi-row emit per feature): a failing feature must
    # contribute NO rows at all, while a good feature keeps both its
    # intersection row and its remainder row (per-feature staging)
    half_in = polygon_wkb([sq(8.0, 8.0, 12.0, 12.0)])
    inputs2 = spark.createDataFrame(pd.DataFrame({
        "fid": np.array([0, 1], dtype=np.int64),
        "geometry": [half_in, bad],
    }))
    out = overlay_general(spark, inputs2, method, "identity",
                          options={"SKIP_FAILURES": True}).toPandas()
    assert sorted(out["fid"].unique().tolist()) == [0]
    got = out.set_index("method_fid")["area"]
    assert got[0] == pytest.approx(4.0)    # inside 10x10
    assert got[-1] == pytest.approx(12.0)  # remainder

    # PROMOTE_TO_MULTI=False -> single-part results are POLYGON
    single = spark.createDataFrame(pd.DataFrame({
        "fid": np.array([0], dtype=np.int64), "geometry": [good]}))
    multi = overlay_general(spark, single, method, "intersection") \
        .toPandas()
    assert parse_wkb(bytes(multi.iloc[0]["geometry"])).kind == 6
    plain = overlay_general(
        spark, single, method, "intersection",
        options={"PROMOTE_TO_MULTI": False}).toPandas()
    assert parse_wkb(bytes(plain.iloc[0]["geometry"])).kind == 3
    with pytest.raises(ValueError):
        overlay_general(spark, single, method, "intersection",
                        options={"BOGUS": 1})


def test_overlay_update(spark):
    """Update (ogrlayer.cpp:7188): input minus the method regions,
    plus the method features appended whole."""
    from gdal_spark.operators.layer_algebra import overlay_general

    method = pd.DataFrame({
        "fid": np.array([0], dtype=np.int64),
        "geometry": [polygon_wkb([sq(0.0, 0.0, 10.0, 10.0)])],
    })
    inputs = spark.createDataFrame(pd.DataFrame({
        "fid": np.array([0, 1], dtype=np.int64),
        "geometry": [polygon_wkb([sq(8.0, 8.0, 12.0, 12.0)]),
                     polygon_wkb([sq(20.0, 20.0, 21.0, 21.0)])],
    }))
    out = overlay_general(spark, inputs, method, "update").toPandas()
    got = out.set_index(["fid", "method_fid"])["area"]
    assert got[(0, -1)] == pytest.approx(16.0 - 4.0)  # erased corner
    assert got[(1, -1)] == pytest.approx(1.0)          # untouched
    assert got[(-1, 0)] == pytest.approx(100.0)        # method whole
    assert len(out) == 3
    # no intersection rows in update mode
    assert not ((out["fid"] >= 0) & (out["method_fid"] >= 0)).any()


def test_line_polygon_spatial_join(spark):
    """Line layer through the broadcast ST_Intersects join operator
    (FilterGeometry generality: any geometry pair)."""
    from gdal_spark.operators.spatial_join import (
        spatial_join_polygons_intersect,
    )

    method = pd.DataFrame({
        "fid": np.array([0, 1], dtype=np.int64),
        "geometry": [polygon_wkb([sq(0.0, 0.0, 10.0, 10.0)]),
                     polygon_wkb([sq(20.0, 0.0, 30.0, 10.0)])],
    })
    lines = _lines_df(spark, [
        [(-5.0, 5.0), (35.0, 5.0)],
        [(2.0, 1.0), (2.0, 9.0)],
        [(50.0, 50.0), (60.0, 60.0)],
    ])
    out = spatial_join_polygons_intersect(spark, lines, method) \
        .select("fid", "method_fid").toPandas()
    pairs = sorted(map(tuple, out.to_numpy()))
    assert pairs == [(0, 0), (0, 1), (1, 0)]
