"""GPX + KML driver tests.

Golden strategy: the reference's own autotest fixtures decode with
the documented semantics — data/gpx/test.gpx is the canonical
five-layer sample (2 waypoints at (1,0)/(4,3), 2 routes — one
empty, 3 tracks — two empty, 4 route points, 4 track points in 2
segments), and data/kml/geometries.kml is the empty/partial
geometry decode matrix plus kml_with_space_content_in_coordinates'
tolerated ``0, 1`` spacing.  The byte-range split machinery is
checked by forcing tiny ``bytes_per_task`` so every element
boundary crosses a task boundary at least once; writers are
checked as read(write(x)) == x in both layouts.
"""

import os

import numpy as np
import pandas as pd
import pytest

from gdal_spark.geometry.wkb import (
    linestring_wkb, multilinestring_wkb, multipolygon_wkb,
    parse_wkb, point_wkb, polygon_wkb, to_wkt,
)
from gdal_spark.sources.xmlgeo import (
    read_gpx, read_kml, write_gpx, write_kml,
)

GPX = "/root/reference/autotest/ogr/data/gpx/test.gpx"
KML = "/root/reference/autotest/ogr/data/kml"


# ------------------------------------------------ fixture corpus

def test_gpx_waypoints_layer(spark):
    rows = read_gpx(spark, GPX, "waypoints").collect()
    assert len(rows) == 2
    by_xy = {tuple(parse_wkb(bytes(r.geometry)).parts[0][0]): r
             for r in rows}
    full = by_xy[(1.0, 0.0)]
    assert full["name"] == "waypoint name"
    assert full.cmt == "waypoint comment"
    assert full.ele == 2.0
    assert full.time == "2007-11-25T17:58:00+01:00"
    bare = by_xy[(4.0, 3.0)]        # the self-closing <wpt/>
    assert bare["name"] is None and bare.ele is None


def test_gpx_routes_and_tracks_layers(spark):
    routes = read_gpx(spark, GPX, "routes").collect()
    assert len(routes) == 2
    named = {r["name"]: r for r in routes}
    g = parse_wkb(bytes(named["route name"].geometry))
    np.testing.assert_array_equal(
        g.parts[0], [[6, 5], [9, 8], [12, 11]])
    assert named["empty route"].geometry is None

    tracks = read_gpx(spark, GPX, "tracks").collect()
    assert len(tracks) == 3
    named = {r["name"]: r for r in tracks}
    g = parse_wkb(bytes(named["track name"].geometry))
    assert len(g.parts) == 2        # two trksegs
    np.testing.assert_array_equal(g.parts[0], [[15, 14], [18, 17]])
    np.testing.assert_array_equal(g.parts[1], [[21, 20], [24, 23]])
    assert named["empty track"].geometry is None
    assert named["empty track 2"].geometry is None


def test_gpx_point_layers(spark):
    rp = read_gpx(spark, GPX, "route_points").collect()
    assert len(rp) == 3
    assert sorted(r.ele for r in rp) == [7.0, 10.0, 13.0]
    assert {r.route_point_id for r in rp} == {0, 1, 2}
    # all three share one route_fid
    assert len({r.route_fid for r in rp}) == 1

    tp = read_gpx(spark, GPX, "track_points").collect()
    assert len(tp) == 4
    assert sorted(r.ele for r in tp) == [16.0, 19.0, 22.0, 25.0]
    segs = {(r.track_seg_id, r.track_seg_point_id) for r in tp}
    assert segs == {(0, 0), (0, 1), (1, 0), (1, 1)}
    assert len({r.fid for r in tp}) == 4


def test_gpx_tiny_tasks_split_boundaries(spark):
    # 64-byte ranges: every element crosses a task boundary —
    # the ownership rule must produce each feature exactly once
    for layer, n in (("waypoints", 2), ("routes", 2),
                     ("tracks", 3)):
        rows = read_gpx(spark, GPX, layer,
                        bytes_per_task=64).collect()
        assert len(rows) == n, layer
        assert len({r.fid for r in rows}) == n


def test_kml_placemark_and_space_coords(spark):
    rows = read_kml(spark,
                    os.path.join(KML, "placemark.kml")).collect()
    assert len(rows) == 1
    assert rows[0]["name"] == "Simple placemark"
    g = parse_wkb(bytes(rows[0].geometry))
    np.testing.assert_array_equal(g.parts[0], [[2.0, 49.0]])

    rows = read_kml(spark, os.path.join(
        KML, "kml_with_space_content_in_coordinates.kml")).collect()
    assert len(rows) == 1


def test_kml_geometry_decode_matrix(spark):
    rows = (read_kml(spark, os.path.join(KML, "geometries.kml"))
            .orderBy("fid").collect())
    wkts = [None if r.geometry is None
            else to_wkt(parse_wkb(bytes(r.geometry)), None)
            for r in rows]
    sq = ("POLYGON ((0.0 0.0,0.0 1.0,1.0 1.0,1.0 0.0,0.0 0.0))")
    # first 4: empty polygons -> NULL; 5-8: outer only (empty inner
    # boundaries drop); 9: outer + inner
    assert wkts[0:4] == [None] * 4
    assert wkts[4:8] == [sq] * 4
    assert wkts[8] == ("POLYGON ((0.0 0.0,0.0 1.0,1.0 1.0,1.0 0.0,"
                       "0.0 0.0),(0.0 0.0,0.0 1.0,1.0 1.0,1.0 0.0,"
                       "0.0 0.0))")
    # empty point/point; empty linestring x2 / linestring
    assert wkts[9] is None and wkts[10] is None
    assert wkts[11] == "POINT (0.0 0.0)"
    assert wkts[12] is None and wkts[13] is None
    assert wkts[14] == "LINESTRING (0.0 0.0,1.0 1.0)"


def test_kml_namespace_variants(spark):
    # 2.1 (earth.google.com) and 2.2 (opengis.net) both parse —
    # tags match on local names
    for f in ("placemark.kml", "geometries.kml"):
        assert read_kml(spark, os.path.join(KML, f)).count() > 0


# ---------------------------------------------------- round trips

def _wpt_df(spark, n=120, seed=3):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame({
        "geometry": [point_wkb(float(x), float(y))
                     for x, y in rng.uniform(-50, 50, (n, 2))],
        "name": [f"w{i}" for i in range(n)],
        "ele": rng.uniform(0, 4000, n),
    })
    from pyspark.sql.types import (
        BinaryType, DoubleType, StringType, StructField, StructType,
    )
    return spark.createDataFrame(pdf, StructType(
        [StructField("geometry", BinaryType()),
         StructField("name", StringType()),
         StructField("ele", DoubleType())])), pdf


def test_gpx_waypoint_roundtrip(spark, tmp_path):
    df, pdf = _wpt_df(spark)
    out = str(tmp_path / "wpts")
    assert write_gpx(df.repartition(3), out) is None
    assert len(os.listdir(out)) == 3
    back = read_gpx(spark, out, "waypoints")
    a = {r["name"]: (bytes(r.geometry), r.ele)
         for r in back.collect()}
    assert len(a) == len(pdf)
    for _, row in pdf.iterrows():
        g, ele = a[row["name"]]
        assert g == row.geometry            # repr floats: exact
        assert ele == row.ele
    p1 = str(tmp_path / "one.gpx")
    assert write_gpx(df, p1, mode="single") == len(pdf)
    assert read_gpx(spark, p1, "waypoints").count() == len(pdf)


def test_gpx_track_roundtrip(spark, tmp_path):
    from pyspark.sql.types import (
        BinaryType, StringType, StructField, StructType,
    )
    mls = multilinestring_wkb([
        np.array([[0.0, 0.0], [1.0, 2.0], [3.5, 4.25]]),
        np.array([[10.0, 10.0], [11.0, 12.0]])])
    ls = linestring_wkb(np.array([[5.0, 5.0], [6.0, 7.0]]))
    pdf = pd.DataFrame({"geometry": [mls, ls],
                        "name": ["a", "b"]})
    df = spark.createDataFrame(pdf, StructType(
        [StructField("geometry", BinaryType()),
         StructField("name", StringType())]))
    p = str(tmp_path / "t.gpx")
    write_gpx(df, p, layer="tracks", mode="single")
    back = {r["name"]: parse_wkb(bytes(r.geometry))
            for r in read_gpx(spark, p, "tracks").collect()}
    assert len(back["a"].parts) == 2
    np.testing.assert_array_equal(back["a"].parts[0],
                                  [[0, 0], [1, 2], [3.5, 4.25]])
    # single LINESTRING writes as one trkseg
    np.testing.assert_array_equal(back["b"].parts[0],
                                  [[5, 5], [6, 7]])


def test_kml_roundtrip_all_kinds(spark, tmp_path):
    from pyspark.sql.types import (
        BinaryType, StringType, StructField, StructType,
    )
    sq = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], float)
    hole = np.array([[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]], float)
    tri = np.array([[8, 8], [9, 8], [9, 9], [8, 8]], float)
    pdf = pd.DataFrame({
        "geometry": [point_wkb(2.5, -3.5),
                     linestring_wkb(np.array([[0., 0.], [1., 1.]])),
                     polygon_wkb([sq, hole]),
                     multipolygon_wkb([[sq], [tri]])],
        "name": ["p", "l", "pg", "mp"],
        "description": ["d1", None, "d3 <&>", None]})
    df = spark.createDataFrame(pdf, StructType(
        [StructField("geometry", BinaryType()),
         StructField("name", StringType()),
         StructField("description", StringType())]))
    for mode in ("parts", "single"):
        p = str(tmp_path / f"k_{mode}.kml")
        write_kml(df.coalesce(1), p, mode=mode)
        back = {r["name"]: r
                for r in read_kml(spark, p).collect()}
        assert len(back) == 4
        for nm, src in zip(pdf["name"], pdf.geometry):
            assert bytes(back[nm].geometry) == bytes(src), (mode,
                                                            nm)
        assert back["pg"].description == "d3 <&>"   # escape cycle
        assert back["l"].description is None


def test_xml_object_store_paths_rejected(spark):
    with pytest.raises(ValueError, match="shared-filesystem"):
        read_gpx(spark, "s3a://b/x.gpx")
    with pytest.raises(ValueError, match="shared-filesystem"):
        write_kml(None, "hdfs://nn/x.kml")


def test_gpx_unknown_layer_rejected(spark):
    with pytest.raises(ValueError, match="layer"):
        read_gpx(spark, GPX, "nope")
    with pytest.raises(ValueError, match="writable"):
        write_gpx(None, "/tmp/x.gpx", layer="track_points")


def test_parts_writer_spreads_one_split_input(spark, tmp_path):
    """A single-partition input (the one-split parquet scan shape)
    must fan out across the session's cores in parts mode — the
    encode kernel is CPU-bound and previously serialized on one
    task — while an explicit multi-partition repartition still maps
    one part file per partition (pinned by test_*parts* elsewhere).
    Roundtrip values must be unaffected by the spread."""
    import numpy as np

    from gdal_spark.geometry.wkb import point_wkb

    pdf = pd.DataFrame({
        "geometry": [point_wkb(float(i % 50), float(-(i % 25)))
                     for i in range(300)],
        "ele": np.arange(300, dtype=np.float64),
    })
    src = str(tmp_path / "one_split.parquet")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src)
    df = spark.read.parquet(src)
    out = str(tmp_path / "spread_gpx")
    write_gpx(df, out, layer="waypoints")
    files = [f for f in os.listdir(out) if f.endswith(".gpx")]
    assert len(files) > 1                  # spread happened
    back = read_gpx(spark, out, "waypoints")
    assert back.count() == 300
    eles = sorted(r.ele for r in back.select("ele").collect())
    assert eles == sorted(pdf["ele"].tolist())
