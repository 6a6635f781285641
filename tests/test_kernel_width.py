"""The partition-width rule in front of python kernels
(``gdal_spark.session.spread_for_kernel``): building a kernel's
frame runs no Spark job, even over a shuffle, and a caller's explicit
width reaches the parts-mode writers unchanged."""

import os
import uuid

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal_spark.geometry.wkb import linestring_wkb, point_wkb, polygon_wkb


def _jobs_run(spark, build):
    """Spark job ids that ``build()`` runs, read from its own group."""
    sc = spark.sparkContext
    group = f"kernel-width-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _grouped_lines(spark):
    pdf = pd.DataFrame({
        "fid": np.arange(40, dtype=np.int64),
        "geometry": [linestring_wkb(np.array([(i, 0.0), (i + 1.0, 1.0)]))
                     for i in range(40)],
    })
    return (spark.createDataFrame(pdf).groupBy("fid")
            .agg(F.first("geometry").alias("geometry")))


def _grouped_text(spark):
    pdf = pd.DataFrame({
        "doc_id": np.arange(40, dtype=np.int64),
        "text": [f"the quick brown fox {i} jumps over the lazy dog"
                 for i in range(40)],
    })
    return (spark.createDataFrame(pdf).groupBy("doc_id")
            .agg(F.first("text").alias("text")))


def _pipeline(verb):
    def build(spark):
        from gdal_spark.plans.pipeline import run_vector_pipeline

        return run_vector_pipeline(spark, f"read input ! {verb}",
                                   {"input": _grouped_lines(spark)})
    return build


def _minhash(spark):
    from gdal_spark.operators.dedup import minhash_signatures

    return minhash_signatures(_grouped_text(spark), num_hashes=16)


def _passage_windows(spark):
    from gdal_spark.functions.text import _passage_win_frame

    return _passage_win_frame(_grouped_text(spark), "text", "doc_id", 3,
                              with_pos=False)


def _overlay_lines(spark):
    from gdal_spark.operators.layer_algebra import overlay_lines

    sq = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0)]
    method = pd.DataFrame({"fid": np.array([0], dtype=np.int64),
                           "geometry": [polygon_wkb([np.array(sq)])]})
    return overlay_lines(spark, _grouped_lines(spark), method, "clip")


@pytest.mark.parametrize("build", [
    _pipeline("buffer 0.5"),            # _geom_map
    _pipeline("explode"),               # _explode_parts
    _pipeline("check-geometry"),        # _check_geometry
    _minhash,
    _passage_windows,
    _overlay_lines,
], ids=["geom_map", "explode_parts", "check_geometry",
        "minhash_signatures", "passage_win_frame", "overlay_lines"])
def test_kernel_over_shuffle_builds_without_a_job(spark, build):
    """A groupBy result into a kernel site: the width decision reads
    the plan, so building the lazy frame runs no Spark job (a
    partition-count probe would run the upstream shuffle stage here
    and again at the real action)."""
    assert _jobs_run(spark, lambda: build(spark)) == []


def _square(x0, y0, side):
    return polygon_wkb([np.array([(x0, y0), (x0 + side, y0),
                                  (x0 + side, y0 + side), (x0, y0 + side),
                                  (x0, y0)])])


def _big_polygon_join(spark):
    from gdal_spark.operators.spatial_join import (
        spatial_join_polygons_intersect_big,
    )

    rects = spark.createDataFrame(pd.DataFrame({
        "fid": np.arange(64, dtype=np.int64),
        "geometry": [_square(i % 8 * 3.0, i // 8 * 3.0, 2.0)
                     for i in range(64)]}))
    return spatial_join_polygons_intersect_big(spark, rects, rects)


def _big_line_overlay(op):
    def build(spark):
        from gdal_spark.operators.layer_algebra import overlay_lines_big

        lines = spark.createDataFrame(pd.DataFrame({
            "fid": np.arange(8, dtype=np.int64),
            "geometry": [linestring_wkb(np.array([(i, 0.0), (i, 5.0)]))
                         for i in range(8)]}))
        squares = spark.createDataFrame(pd.DataFrame({
            "fid": np.arange(16, dtype=np.int64),
            "geometry": [_square(i % 4 * 2.0, i // 4 * 2.0, 1.5)
                         for i in range(16)]}))
        return overlay_lines_big(spark, lines, squares, op)
    return build


@pytest.mark.parametrize("build, build_jobs", [
    (_big_polygon_join, 0),
    (_big_line_overlay("clip"), 0),
    # erase and identity localCheckpoint the candidate pairs for the
    # left-anti remainder, and the checkpoint materialises them
    (_big_line_overlay("identity"), 2),
], ids=["polygons_intersect_big", "overlay_lines_big_clip",
        "overlay_lines_big_identity"])
def test_distributed_pair_join_plans(spark, build, build_jobs):
    """Both distributed pair joins pair features through the cell-cover
    equi-join: their plans have no nested-loop pair scan and no
    collect to the driver, and building them runs no Spark job beyond
    the remainder's checkpoint."""
    built = []
    jobs = _jobs_run(spark, lambda: built.append(
        build(spark).groupBy("method_fid").count()))
    assert len(jobs) == build_jobs
    plan = built[0]._jdf.queryExecution().executedPlan().toString()
    for node in ("BroadcastNestedLoopJoin", "CartesianProduct",
                 "CollectLimit"):
        assert node not in plan, node


def _writers():
    from gdal_spark.sources.flatgeobuf import write_flatgeobuf
    from gdal_spark.sources.geojson import write_geojson
    from gdal_spark.sources.geopackage import write_gpkg
    from gdal_spark.sources.shapefile import write_shapefile
    from gdal_spark.sources.xmlgeo import write_gpx

    return [(write_geojson, ".geojsonl"), (write_shapefile, ".shp"),
            (write_flatgeobuf, ".fgb"), (write_gpkg, ".gpkg"),
            (write_gpx, ".gpx")]


@pytest.mark.parametrize("writer,ext", _writers(),
                         ids=["geojson", "shapefile", "flatgeobuf",
                              "geopackage", "gpx"])
@pytest.mark.parametrize("width", [1, 2])
def test_parts_writer_keeps_explicit_width(spark, tmp_path, writer, ext,
                                           width):
    """coalesce(1) into a parts-mode writer writes exactly one part
    file and repartition(2) exactly two: a width the caller set is
    never spread."""
    pdf = pd.DataFrame({
        "geometry": [point_wkb(float(i % 50), float(-(i % 25)))
                     for i in range(300)],
        "ele": np.arange(300, dtype=np.float64),
    })
    df = spark.createDataFrame(pdf)
    df = df.coalesce(1) if width == 1 else df.repartition(2)
    out = str(tmp_path / "parts")
    writer(df, out)
    files = [f for f in os.listdir(out) if f.endswith(ext)]
    assert len(files) == width


def _stage_tasks(spark, jobs):
    st = spark.sparkContext.statusTracker()
    return [st.getStageInfo(s).numTasks
            for j in jobs for s in st.getJobInfo(j).stageIds
            if st.getStageInfo(s) is not None]


def _one_partition_raster(spark, ts=16):
    from gdal_spark.operators.warp import tiles_from_array

    arr = np.random.RandomState(5).randint(0, 9, (3 * ts, 3 * ts)) \
        .astype(np.float64)
    tiles, _w, _h = tiles_from_array(spark, arr, tile_size=ts)
    return tiles.coalesce(1)


def test_neighbors_renders_at_default_parallelism(spark):
    """A one-partition 9-tile frame: the halo render runs exactly
    defaultParallelism tasks (a width-less groupBy let AQE coalesce
    it to one)."""
    from gdal_spark.operators.neighbors import neighbors_tiles

    tiles = _one_partition_raster(spark)
    jobs = _jobs_run(spark, lambda: neighbors_tiles(
        tiles, "equal", size=3, extent_tiles=(0, 0, 2, 2)).collect())
    tasks = _stage_tasks(spark, jobs)
    assert max(tasks) == spark.sparkContext.defaultParallelism, tasks


@pytest.mark.parametrize("blend,build_jobs", [(0.0, 0), (3.0, 3)],
                         ids=["hard_cut", "feather"])
def test_cutline_clips_in_one_map_only_kernel(spark, blend, build_jobs):
    """The cutline clip is one map-only kernel.  On a dense 4x4-tile
    lattice a hard cut builds with no job and a feather runs only the
    lattice probe's jobs.  Either collects in one job through exactly
    one MapInPandas node, the clip kernel."""
    from gdal_spark.operators.cutline import cutline_clip
    from gdal_spark.operators.rasterize import GridSpec
    from gdal_spark.operators.warp import tiles_from_array

    arr = np.random.RandomState(5).randint(0, 9, (64, 64)) \
        .astype(np.float64)
    tiles, _w, _h = tiles_from_array(spark, arr, tile_size=16)
    grid = GridSpec(0.0, 64.0, 1.0, 1.0, 64, 64)
    ring = np.array([(5.5, 5.5), (40.5, 9.5), (37.5, 41.5), (8.5, 30.5),
                     (5.5, 5.5)])
    cut = pd.DataFrame({"fid": [1], "geometry": [polygon_wkb([ring])]})
    built, rows = [], []
    jobs = _jobs_run(spark, lambda: built.append(cutline_clip(
        spark, tiles, cut, grid, blend_px=blend, tile_size=16)))
    assert len(jobs) == build_jobs, jobs
    jobs = _jobs_run(spark, lambda: rows.extend(built[0].collect()))
    assert len(jobs) == 1, jobs
    assert len(rows) == 16
    plan = built[0]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert "MapInPandas operators.cutline.clip(" in plan, plan


def _gtiff_vrt(tmp_path):
    from gdal_spark.operators.gtiff import encode_gtiff
    from gdal_spark.sources.vrt import build_vrt

    rng = np.random.default_rng(11)
    for i in range(2):
        arr = rng.integers(1, 255, (40, 40)).astype(np.uint8)
        with open(tmp_path / f"s{i}.tif", "wb") as fh:
            fh.write(encode_gtiff(arr, epsg=3857, geotransform=(
                80.0 * i, 2.0, 0.0, 80.0, 0.0, -2.0)))
    vp = str(tmp_path / "m.vrt")
    build_vrt(str(tmp_path), vp)
    return vp


def test_read_vrt_composites_at_default_parallelism(spark, tmp_path):
    """The seam composite of a two-source VRT runs at
    defaultParallelism, not max(defaultParallelism, 8)."""
    from gdal_spark.sources.vrt import read_vrt

    vp = _gtiff_vrt(tmp_path)
    jobs = _jobs_run(spark, lambda: read_vrt(spark, vp, tile_size=16)[0]
                     .collect())
    tasks = _stage_tasks(spark, jobs)
    assert max(tasks) == spark.sparkContext.defaultParallelism, tasks


@pytest.mark.parametrize("props", [False, True],
                         ids=["packed", "rows"])
def test_mvt_cover_shuffle_at_default_parallelism(spark, tmp_path,
                                                  props):
    """Both MVT stage-A exchanges (the packed one of a
    no-properties layer and the row one) run at defaultParallelism,
    not max(defaultParallelism, 8)."""
    from gdal_spark.sources.mvt import write_mvt

    pdf = pd.DataFrame({
        "fid": np.arange(200, dtype=np.int64),
        "geometry": [point_wkb(float(i % 90) - 45.0, float(i % 60) - 30.0)
                     for i in range(200)],
    })
    if props:
        pdf["name"] = [f"p{i}" for i in range(200)]
    df = spark.createDataFrame(pdf)
    jobs = _jobs_run(spark, lambda: write_mvt(
        df, str(tmp_path / "t.mvt"), minzoom=0, maxzoom=2))
    tasks = _stage_tasks(spark, jobs)
    assert max(tasks) == spark.sparkContext.defaultParallelism, tasks


def _raster_algebra_inputs(spark, ts=64):
    """A 360 x 180 one-degree grid (6 x 3 tiles of *ts*), 40 polygons
    to rasterize, 20 zones and a checkpointed value raster."""
    from gdal_spark.operators.rasterize import GridSpec
    from gdal_spark.operators.warp import tiles_from_array
    from gdal_spark.sources.polygons import random_polygons_pdf

    grid = GridSpec(-180.0, 90.0, 1.0, 1.0, 360, 180)
    arr = np.random.RandomState(3).randint(0, 9, (180, 360))
    values, _w, _h = tiles_from_array(spark, arr.astype(np.int32), ts)
    return (grid, random_polygons_pdf(40, 3), random_polygons_pdf(20, 4),
            values.localCheckpoint())


def test_rasterize_renders_its_cover_in_one_job(spark):
    """The driver-side tile cover is rendered by one map-only kernel:
    one job of min(defaultParallelism, tiles) tasks, no Exchange."""
    from gdal_spark.operators.rasterize import rasterize

    grid, polys, _zones, _values = _raster_algebra_inputs(spark)
    out = rasterize(spark, polys, grid, burn_col="eas_id", dtype="int32",
                    tile_size=64)
    rows = []
    jobs = _jobs_run(spark, lambda: rows.extend(out.collect()))
    n_tiles = len(rows)
    assert 1 < n_tiles
    assert len(jobs) == 1, jobs
    assert _stage_tasks(spark, jobs) == [
        min(spark.sparkContext.defaultParallelism, n_tiles)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert plan.count("MapInPandas operators.rasterize.render(") == 1, plan


def test_raster_algebra_op_runs_six_jobs(spark):
    """rasterize (checkpointed) -> polygonize -> zonal stats, as the
    raster_algebra benchmark runs them: six Spark jobs."""
    from gdal_spark.operators.polygonize import polygonize_tiles
    from gdal_spark.operators.rasterize import rasterize
    from gdal_spark.operators.zonal import zonal_stats

    grid, polys, zones, values = _raster_algebra_inputs(spark)

    def op():
        raster = rasterize(spark, polys, grid, burn_col="eas_id",
                           dtype="int32", tile_size=64).localCheckpoint()
        assert polygonize_tiles(raster, grid.gt, nodata=0).collect()
        assert zonal_stats(spark, values, zones, grid,
                           tile_size=64).collect()

    assert len(_jobs_run(spark, op)) == 6


def test_geojoin_op_runs_two_jobs(spark):
    """pages -> geocode -> point-in-polygon join -> kNN -> counts, as
    the geojoin benchmark runs them: building the join runs no Spark
    job, and the op runs two, the count's map stage and its result.
    A broadcast-join prefilter in front of the exact kernel runs a
    third job of its own, and fails here."""
    from gdal_spark.operators.knn import knn_cells
    from gdal_spark.operators.spatial_join import (
        spatial_join_points_in_polygons,
    )
    from gdal_spark.sources.pages import CITIES, pages_df, with_extracted_geo
    from gdal_spark.sources.polygons import poly_fixture_pdf

    targets = pd.DataFrame({
        "target_id": np.arange(len(CITIES), dtype=np.int64),
        "t_lon": [c[0] for c in CITIES],
        "t_lat": [c[1] for c in CITIES],
    })
    pts = with_extracted_geo(pages_df(spark, 4000)).select(
        "i", F.col("geo_lon").alias("lon"), F.col("geo_lat").alias("lat"))
    polys = poly_fixture_pdf()
    joined = []
    assert _jobs_run(spark, lambda: joined.append(
        spatial_join_points_in_polygons(spark, pts, polys, res=6))) == []

    def op():
        nearest = knn_cells(
            joined[0].select((F.col("i") * 16 + F.col("fid")).alias("k"),
                             "lon", "lat"),
            targets, k=1, point_key="k")
        assert nearest.groupBy((F.col("k") % 16).alias("fid"),
                               "target_id").count().collect()

    assert len(_jobs_run(spark, op)) == 2
