"""Point-in-polygon joins as ONE kernel arm: the executed plan runs the
points upstream once, and the accept rules (numpy in the small-layer
kernel, JVM-side in the shuffle join) plus the flagged exact pass
agree with the brute-force PIP oracle on the edge cases."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal_spark.functions import geo
from gdal_spark.geometry.pip import points_in_rings
from gdal_spark.geometry.wkb import parse_wkb, polygon_wkb
from gdal_spark.operators import spatial_join
from gdal_spark.operators.spatial_join import (
    _geom_cell_cover, _polygon_cell_cover, brute_force_join_pdf,
    polygon_cell_cover_pdf, spatial_join_big_polygons,
    spatial_join_points_in_polygons,
)
from gdal_spark.sources.pages import pages_df, with_extracted_geo
from gdal_spark.sources.polygons import (
    poly_fixture_pdf, random_polygons, random_polygons_pdf,
)

PTS_SCHEMA = "i long, lon double, lat double"


def _final_plan(df) -> str:
    """Executed plan of *df* after an action: AQE's final plan only."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def _geocoded(spark, n):
    return with_extracted_geo(pages_df(spark, n, partitions=3)).select(
        "i", F.col("geo_lon").alias("lon"), F.col("geo_lat").alias("lat"))


def test_point_join_is_one_map_only_kernel(spark):
    """The small-layer join is the one exact kernel straight over the
    points: no join, no exchange and no Union under it, and the render
    kernel runs once.  A broadcast-join prefilter in front of the
    kernel shows a BroadcastHashJoin and a BroadcastExchange, and a
    JVM-accept arm unioned beside the kernel arm shows the render
    kernel twice; both fail here."""
    df = spatial_join_points_in_polygons(
        spark, _geocoded(spark, 2000), poly_fixture_pdf(), res=6)
    assert len(df.collect()) > 0
    plan = _final_plan(df)
    assert plan.count("MapInPandas sources.pages.render(") == 1, plan
    assert plan.count("MapInPandas operators.spatial_join.exact(") == 1, \
        plan
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan
    assert "Union" not in plan, plan


def test_shuffle_join_runs_upstream_once(spark):
    """The non-broadcast join at a shuffle strategy: one join, one
    render kernel, no Union.  The earlier two-arm join re-ran the
    sort-merge join per Union arm, and fails here."""
    polys = spark.createDataFrame(poly_fixture_pdf()[["fid", "geometry"]])
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        df = spatial_join_big_polygons(spark, _geocoded(spark, 2000),
                                       polys, res=6)
        assert len(df.collect()) > 0
    finally:
        spark.conf.set(key, old)
    plan = _final_plan(df)
    assert plan.count("MapInPandas sources.pages.render(") == 1, plan
    assert plan.count(
        "MapInPandas operators.spatial_join.exact_shuffle(") == 1, plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") \
        == 1, plan
    assert "Union" not in plan, plan


def test_geojoin_plan_names_its_three_kernels(spark):
    """Render, exact PIP and nearest-city kernels show their
    ``<layer>.<op>.<stage>`` names in the executed plan of the
    geojoin chain (pages -> join -> kNN)."""
    from gdal_spark.operators.knn import knn_cells
    from gdal_spark.sources.pages import CITIES

    joined = spatial_join_points_in_polygons(
        spark, _geocoded(spark, 2000), poly_fixture_pdf(), res=6)
    targets = pd.DataFrame({
        "target_id": np.arange(len(CITIES), dtype=np.int64),
        "t_lon": [c[0] for c in CITIES],
        "t_lat": [c[1] for c in CITIES],
    })
    nearest = knn_cells(joined.select(
        (F.col("i") * 16 + F.col("fid")).alias("k"), "lon", "lat"),
        targets, k=1, point_key="k")
    assert len(nearest.collect()) > 0
    plan = _final_plan(nearest)
    for name in ("sources.pages.render", "operators.spatial_join.exact",
                 "operators.knn.nearest"):
        assert plan.count(f"MapInPandas {name}(") == 1, (name, plan)


def _join(path, spark, pts, polys_pdf, res):
    if path == "broadcast":
        return spatial_join_points_in_polygons(spark, pts, polys_pdf, res=res)
    polys = spark.createDataFrame(polys_pdf[["fid", "geometry"]])
    return spatial_join_big_polygons(spark, pts, polys, res=res)


def _pairs(pdf) -> set:
    return set(zip(pdf["i"].astype(int), pdf["fid"].astype(int)))


def _check_against_oracle(path, spark, pts_pdf, polys_pdf, res):
    pts = spark.createDataFrame(pts_pdf, PTS_SCHEMA)
    out = _join(path, spark, pts, polys_pdf, res)
    assert out.columns == ["i", "lon", "lat", "fid"]
    got = out.toPandas()
    assert len(got) == len(_pairs(got))
    assert _pairs(got) == _pairs(brute_force_join_pdf(pts_pdf, polys_pdf))
    return out, _pairs(got)


def _layer(*rings_list) -> pd.DataFrame:
    return pd.DataFrame({
        "fid": np.arange(len(rings_list), dtype=np.int64),
        "geometry": [polygon_wkb([np.array(r, dtype=np.float64)
                                  for r in rings]) for rings in rings_list],
    })


def _points(xy) -> pd.DataFrame:
    xy = np.asarray(xy, dtype=np.float64).reshape(-1, 2)
    return pd.DataFrame({"i": np.arange(len(xy), dtype=np.int64),
                         "lon": xy[:, 0], "lat": xy[:, 1]})


RECT = [(1.0, 1.0), (3.0, 1.0), (3.0, 2.0), (1.0, 2.0), (1.0, 1.0)]
# a non-rectangular outer ring (the extra vertex keeps it off the
# rectangle path) with a rectangular hole
OUTER = [(-8.0, -8.0), (8.0, -8.0), (8.0, 8.0), (0.0, 9.0), (-8.0, 8.0),
         (-8.0, -8.0)]
HOLE = [(-2.0, -2.0), (2.0, -2.0), (2.0, 2.0), (-2.0, 2.0), (-2.0, -2.0)]


def _box_edges(x0, y0, x1, y1):
    """Vertices, edge midpoints and the center of an axis box."""
    xm, ym = (x0 + x1) / 2, (y0 + y1) / 2
    return [(x0, y0), (x1, y0), (x1, y1), (x0, y1),
            (xm, y0), (x1, ym), (xm, y1), (x0, ym), (xm, ym)]


@pytest.mark.parametrize("path", ["broadcast", "shuffle"])
def test_rectangle_edges_half_open(spark, path):
    """Left/bottom edges are in, right/top edges are out, on the
    rectangle fast path and next to a non-rectangle that takes the
    exact kernel."""
    polys = _layer([RECT], [OUTER, HOLE])
    pts = _points(_box_edges(1.0, 1.0, 3.0, 2.0)
                  + [(0.5, 1.5), (3.5, 1.5), (2.0, 0.5), (2.0, 2.5)])
    _, got = _check_against_oracle(path, spark, pts, polys, res=6)
    rect_hits = {i for i, fid in got if fid == 0}
    # (x0,y0), bottom midpoint, left midpoint, center
    assert rect_hits == {0, 4, 7, 8}


@pytest.mark.parametrize("path", ["broadcast", "shuffle"])
@pytest.mark.parametrize("res", [4, 8])
def test_hole_boundary(spark, path, res):
    """Points on the hole's edges and vertices, on the outer ring and
    on an interior grid (whose cells are fully inside at res 8, so a
    batch mixes pass-through and flagged rows)."""
    polys = _layer([OUTER, HOLE])
    grid = [(x, y) for x in np.arange(-7.5, 8.0, 0.75)
            for y in np.arange(-7.5, 8.0, 0.75)]
    pts = _points(_box_edges(-2.0, -2.0, 2.0, 2.0)
                  + [(-8.0, 0.0), (8.0, 0.0), (0.0, -8.0), (4.0, 8.5)]
                  + grid)
    _, got = _check_against_oracle(path, spark, pts, polys, res=res)
    assert 0 < len(got) < len(pts)


@pytest.mark.parametrize("path", ["broadcast", "shuffle"])
def test_rectangles_only_layer(spark, path):
    """A layer of rectangles only: the rectangle rule alone decides,
    and the small-layer join runs it in its one kernel."""
    polys = _layer([RECT], [[(x + 10.0, y) for x, y in RECT]])
    pts = _points(_box_edges(1.0, 1.0, 3.0, 2.0)
                  + _box_edges(11.0, 1.0, 13.0, 2.0) + [(5.0, 1.5)])
    out, got = _check_against_oracle(path, spark, pts, polys, res=6)
    assert len(got) == 8
    if path == "broadcast":
        plan = _final_plan(out)
        assert plan.count("MapInPandas") == 1, plan
        assert plan.count("MapInPandas operators.spatial_join.exact(") \
            == 1, plan


# an L whose left and bottom edges lie on its bbox, so the envelope
# reject sees polygon edges at minx/miny; its right and top bbox
# edges touch the polygon in one short edge each
ELL = [(0.0, 0.0), (4.0, 0.0), (4.0, 1.0), (1.0, 1.0), (1.0, 4.0),
       (0.0, 4.0), (0.0, 0.0)]


@pytest.mark.parametrize("path", ["broadcast", "shuffle"])
def test_non_rectangle_bbox_edges(spark, path):
    """Points exactly on every bbox edge of a non-rectangle: the
    inclusive envelope keeps the left/bottom points the ray cast puts
    inside; an exclusive reject drops them, and fails here."""
    polys = _layer([ELL])
    left_bottom = [(0.0, 0.5), (0.0, 2.0), (0.0, 3.5),
                   (0.5, 0.0), (2.0, 0.0), (3.5, 0.0)]
    right_top = [(4.0, 0.5), (4.0, 2.0), (4.0, 3.5),
                 (0.5, 4.0), (2.0, 4.0), (3.5, 4.0)]
    corners = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)]
    pts = _points(left_bottom + right_top + corners)
    _, got = _check_against_oracle(path, spark, pts, polys, res=6)
    assert {(i, 0) for i in range(len(left_bottom))} <= got


@pytest.mark.parametrize("path", ["broadcast", "shuffle"])
def test_page_without_geo_hint_gives_no_row(spark, path):
    """A page whose html has no geo hint geocodes to NULL lon/lat and
    joins to nothing; the hinted pages match the oracle."""
    hint = '<html><head><meta name="geo.position" content="{};{}"/>'
    html = [hint.format("1.500000", "1.500000"),     # in RECT, in HOLE
            hint.format("5.000000", "5.000000"),     # in OUTER
            "<html><head><title>no hint</title></head></html>"]
    pages = spark.createDataFrame(pd.DataFrame({
        "i": np.arange(3, dtype=np.int64),
        "html": [h.encode() for h in html]}))
    pts = with_extracted_geo(pages).select(
        "i", F.col("geo_lon").alias("lon"), F.col("geo_lat").alias("lat"))
    pts_pdf = pts.toPandas()
    assert pts_pdf.loc[2, ["lon", "lat"]].isna().all()
    polys = _layer([RECT], [OUTER, HOLE])
    got = _pairs(_join(path, spark, pts, polys, res=6).toPandas())
    assert got == _pairs(brute_force_join_pdf(pts_pdf.iloc[:2], polys))
    assert got == {(0, 0), (1, 1)}


@pytest.mark.parametrize("path", ["broadcast", "shuffle"])
def test_all_candidates_accepted_on_jvm(spark, path):
    """Every candidate lies in a cover cell fully inside its polygon,
    so every kernel batch holds no flagged row."""
    res = 8
    polys = _layer([OUTER])
    pts_pdf = _points([(x, y) for x in np.linspace(-3.0, 3.0, 9)
                       for y in np.linspace(-3.0, 3.0, 9)])
    cells = spark.createDataFrame(pts_pdf, PTS_SCHEMA).select(
        geo.cell_id("lon", "lat", res).alias("cell")).toPandas()["cell"]
    cover = polygon_cell_cover_pdf(polys, res).set_index("cell")
    assert cover.loc[cells.to_numpy(), "full_in"].all()
    _, got = _check_against_oracle(path, spark, pts_pdf, polys, res=res)
    assert len(got) == len(pts_pdf)


@pytest.mark.parametrize("path", ["broadcast", "shuffle"])
def test_input_cell_column_is_replaced(spark, path):
    """A ``cell`` column of the points is not the join key: the join
    computes its own and returns the points' other columns."""
    polys = _layer([RECT], [OUTER, HOLE])
    pts_pdf = _points(_box_edges(1.0, 1.0, 3.0, 2.0))
    pts = spark.createDataFrame(pts_pdf.assign(cell=np.int64(-1)))
    out = _join(path, spark, pts, polys, res=6)
    assert out.columns == ["i", "lon", "lat", "fid"]
    assert _pairs(out.toPandas()) == _pairs(
        brute_force_join_pdf(pts_pdf, polys))


@pytest.mark.parametrize("path", ["broadcast", "shuffle"])
def test_empty_points(spark, path):
    pts = spark.createDataFrame([], PTS_SCHEMA)
    out = _join(path, spark, pts, poly_fixture_pdf(), res=6)
    assert out.columns == ["i", "lon", "lat", "fid"]
    assert out.count() == 0


@pytest.mark.parametrize("res", [3, 6])
def test_distributed_covers_match_driver_cover(spark, res):
    """Both distributed cell covers produce polygon_cell_cover_pdf's
    rows (the shared bbox -> cell-range rule)."""
    polys = random_polygons(spark, 300)
    want = (polygon_cell_cover_pdf(polys.toPandas(), res)
            .sort_values(["fid", "cell"]).reset_index(drop=True))
    got = (_polygon_cell_cover(polys, res, "fid", "geometry")
           .drop("geometry").toPandas()
           .sort_values(["fid", "cell"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    sfx = "fid_a"
    bbox = (_geom_cell_cover(polys, res, "fid", "geometry", sfx)
            .select("cell", F.col(sfx).alias("fid"),
                    *[F.col(f"{c}_{sfx}").alias(c)
                      for c in ("minx", "miny", "maxx", "maxy")])
            .toPandas().sort_values(["fid", "cell"])
            .reset_index(drop=True))
    pd.testing.assert_frame_equal(
        bbox, want[["cell", "fid", "minx", "miny", "maxx", "maxy"]],
        check_exact=True)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_cell_law_puts_polygon_points_in_its_cover(seed):
    """Points on every bbox edge and corner of seeded random polygons,
    and points inside them, land in a cell of that polygon's cover:
    the kernel's point cells and the cover's bbox corners go through
    one cell law (``geo.cells_of``)."""
    rng = np.random.default_rng(seed)
    polys = pd.concat([random_polygons_pdf(40, seed), poly_fixture_pdf()],
                      ignore_index=True)
    polys["fid"] = np.arange(len(polys), dtype=np.int64)
    for res in (3, 6, 9, 12):
        n = 1 << res
        cover = polygon_cell_cover_pdf(polys, res)
        for fid, wkb in zip(polys["fid"], polys["geometry"]):
            g = parse_wkb(bytes(wkb))
            x0, y0, x1, y1 = g.bbox()
            t = rng.random(8)
            xs = np.concatenate([[x0, x1, x1, x0], x0 + t * (x1 - x0),
                                 x0 + t * (x1 - x0), np.full(8, x0),
                                 np.full(8, x1)])
            ys = np.concatenate([[y0, y0, y1, y1], np.full(8, y0),
                                 np.full(8, y1), y0 + t * (y1 - y0),
                                 y0 + t * (y1 - y0)])
            ix = rng.uniform(x0, x1, 64)
            iy = rng.uniform(y0, y1, 64)
            inside = points_in_rings(ix, iy, g.rings())
            xs = np.concatenate([xs, ix[inside]])
            ys = np.concatenate([ys, iy[inside]])
            tx, ty = geo.cells_of(xs, ys, res)
            own = set(cover.loc[cover["fid"] == fid, "cell"])
            assert set((tx * n + ty).tolist()) <= own, (res, fid)


def _overlapping_squares(m):
    """*m* overlapping 2-degree squares inside one res-6 cell; the odd
    ones carry an extra top-edge vertex, so they take the ray cast
    instead of the rectangle rule."""
    rings = []
    for k in range(m):
        x0 = y0 = 0.5 + 0.02 * k
        ring = [(x0, y0), (x0 + 2.0, y0), (x0 + 2.0, y0 + 2.0)]
        if k % 2:
            ring.append((x0 + 1.0, y0 + 2.0))
        rings.append([ring + [(x0, y0 + 2.0), (x0, y0)]])
    return _layer(*rings)


def test_kernel_output_is_bounded(spark, monkeypatch):
    """50 polygons share one cell: with the pair slice forced down to
    97, no frame the kernel yields exceeds 97 rows, and the join still
    equals brute force, in Spark and called directly."""
    monkeypatch.setattr(spatial_join, "_PAIR_SLICE", 97)
    polys = _overlapping_squares(50)
    cells = polygon_cell_cover_pdf(polys, 6)["cell"]
    assert cells.nunique() == 1
    g = np.linspace(0.4, 3.6, 23)
    pts_pdf = _points([(x, y) for x in g for y in g])
    kernels = []
    map_in_pandas = type(spark.range(1)).mapInPandas

    def record(self, fn, schema, *args, **kwargs):
        kernels.append(fn)
        return map_in_pandas(self, fn, schema, *args, **kwargs)

    monkeypatch.setattr(type(spark.range(1)), "mapInPandas", record)
    _, got = _check_against_oracle("broadcast", spark, pts_pdf, polys, 6)
    assert len(got) > 97
    frames = list(kernels[0](iter([pts_pdf])))
    assert len(frames) > 1
    assert max(len(f) for f in frames) <= 97
    assert _pairs(pd.concat(frames)) == got
