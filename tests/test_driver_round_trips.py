"""Driver-side py4j round trips of plan builds: the geojoin chain,
rasterize and zonal statistics.

A ``get_spark`` session records no Python call site per Column call
(origin capture), the point-in-polygon join is one kernel over the
points with its polygon layer in the closure, the zonal aggregation
builds its plan from SQL fragments, and rasterize renders the tile
cover the driver already holds with no createDataFrame, broadcast or
shuffle, so building each stays within a fixed number of JVM
commands.  Commands are counted at ``ClientServerConnection``; the
``m`` (memory-delete) commands py4j sends when Python drops a JVM
object reference are not counted, since when they are sent depends on
the garbage collector."""

import gc

import numpy as np
import pandas as pd
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F

from gdal_spark.operators.knn import knn_cells
from gdal_spark.operators.rasterize import GridSpec, rasterize
from gdal_spark.operators.spatial_join import spatial_join_points_in_polygons
from gdal_spark.sources.pages import CITIES, pages_df, with_extracted_geo
from gdal_spark.operators.warp import tiles_from_array
from gdal_spark.operators.zonal import zonal_stats
from gdal_spark.sources.polygons import poly_fixture_pdf, random_polygons_pdf

# building spatial_join_points_in_polygons over a geocoded page frame
# sends 31 commands; a createDataFrame of the cell cover and a
# broadcast-join prefilter sent 97, with origin capture and a join
# predicate of Column operators 592, and with that predicate alone ~200
JOIN_COMMAND_BOUND = 40
# rasterize sends 32 (a createDataFrame of the tile cover, a broadcast
# and a sorted shuffle sent 95); zonal_stats 76 (Column aggregates with
# a separate un-offset select sent 180)
RASTERIZE_COMMAND_BOUND = 45
ZONAL_COMMAND_BOUND = 100


def _commands(monkeypatch, build):
    """The py4j commands, memory deletes left out, that ``build()``
    sends."""
    sent = []
    send = ClientServerConnection.send_command

    def record(self, command):
        sent.append(command)
        return send(self, command)

    gc.collect()
    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", record)
        build()
    return [c for c in sent if not c.startswith("m\n")]


def _geocoded(spark, n):
    return with_extracted_geo(pages_df(spark, n)).select(
        "i", F.col("geo_lon").alias("lon"), F.col("geo_lat").alias("lat"))


def _targets():
    return pd.DataFrame({
        "target_id": np.arange(len(CITIES), dtype=np.int64),
        "t_lon": [c[0] for c in CITIES],
        "t_lat": [c[1] for c in CITIES],
    })


def test_get_spark_turns_off_origin_capture(spark):
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_geojoin_chain_sends_no_origin_capture(spark, monkeypatch):
    """pages -> geocode -> join -> kNN: no Column call records its
    Python call site in the JVM."""
    polys = poly_fixture_pdf()

    def build():
        joined = spatial_join_points_in_polygons(
            spark, _geocoded(spark, 2000), polys, res=6)
        knn_cells(joined.select((F.col("i") * 16 + F.col("fid")).alias("k"),
                                "lon", "lat"),
                  _targets(), k=1, point_key="k")

    sent = _commands(monkeypatch, build)
    assert sent
    assert not [c for c in sent if "PySparkCurrentOrigin" in c]


def test_point_join_plan_build_round_trips(spark, monkeypatch):
    polys = poly_fixture_pdf()
    pts = _geocoded(spark, 2000)
    # the first build looks up JVM classes and confs once per session
    spatial_join_points_in_polygons(spark, pts, polys, res=6)
    sent = _commands(monkeypatch, lambda: spatial_join_points_in_polygons(
        spark, pts, polys, res=6))
    assert len(sent) <= JOIN_COMMAND_BOUND, len(sent)


def test_rasterize_plan_build_round_trips(spark, monkeypatch):
    grid = GridSpec(-180.0, 90.0, 1.0, 1.0, 360, 180)
    polys = random_polygons_pdf(40, 3)

    def build():
        rasterize(spark, polys, grid, burn_col="eas_id", dtype="int32",
                  tile_size=64)

    build()
    sent = _commands(monkeypatch, build)
    assert len(sent) <= RASTERIZE_COMMAND_BOUND, len(sent)


def test_zonal_plan_build_round_trips(spark, monkeypatch):
    grid = GridSpec(-180.0, 90.0, 1.0, 1.0, 360, 180)
    values, _w, _h = tiles_from_array(
        spark, np.ones((180, 360), dtype=np.int32), 64)
    zones = random_polygons_pdf(20, 4)

    def build():
        zonal_stats(spark, values, zones, grid, tile_size=64)

    build()
    sent = _commands(monkeypatch, build)
    assert len(sent) <= ZONAL_COMMAND_BOUND, len(sent)
