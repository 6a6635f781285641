"""OGR SQL dialect goldens — rfc28-style expectations re-expressed
over the poly fixture (autotest/ogr/ogr_sql_rfc28.py,
ogr_sql_test.py; fixture semantics FIXTURES.md §2)."""

import pandas as pd
import pytest

from gdal_spark.sql.ogrsql import execute_ogr_sql, parse_ogr_sql
from gdal_spark.sources.polygons import poly_fixture_pdf


@pytest.fixture(scope="module")
def layers(spark):
    pdf = poly_fixture_pdf()
    poly = spark.createDataFrame(pdf)
    idlink = spark.createDataFrame(
        pd.DataFrame({"eas_id": pdf["eas_id"],
                      "name": [f"name{e}" for e in pdf["eas_id"]]})
    )
    return {"poly": poly, "idlink": idlink}


def test_rfc28_1_arith_in_where(spark, layers):
    """'WHERE 160+7 > eas_id' => 3 features (test_ogr_rfc28_1)."""
    out = execute_ogr_sql(
        spark, "SELECT * FROM poly WHERE 160+7 > eas_id", layers)
    assert out.count() == 3


def test_distinct_mode_desc(spark, layers):
    """DISTINCT-list mode ordered DESC (ogr_shape.py:148-151)."""
    out = execute_ogr_sql(
        spark,
        "SELECT DISTINCT eas_id FROM poly ORDER BY eas_id DESC",
        layers,
    )
    got = [r.eas_id for r in out.collect()]
    assert got == [179, 173, 172, 171, 170, 169, 168, 166, 165, 158]


def test_summary_mode(spark, layers):
    out = execute_ogr_sql(
        spark,
        "SELECT MIN(eas_id) AS mn, MAX(eas_id) AS mx,"
        " COUNT(eas_id) AS cnt, AVG(eas_id) AS av,"
        " COUNT(DISTINCT prfedea) AS cd FROM poly",
        layers,
    )
    r = out.collect()[0]
    assert (r.mn, r.mx, r.cnt, r.cd) == (158, 179, 10, 10)
    assert abs(r.av - 169.1) < 1e-9


def test_special_field_area(spark, layers):
    out = execute_ogr_sql(
        spark,
        "SELECT eas_id, OGR_GEOM_AREA FROM poly"
        " WHERE OGR_GEOM_AREA > 100 ORDER BY eas_id",
        layers,
    )
    rows = out.collect()
    # fid6 triangle (200 sq deg) -> 171, fid8 background rect -> 173,
    # fid9 far-north rect -> 179
    assert [r.eas_id for r in rows] == [171, 173, 179]


def test_like_ilike(spark, layers):
    n_like = execute_ogr_sql(
        spark, "SELECT * FROM poly WHERE prfedea LIKE '35043141%'",
        layers).count()
    n_ilike_miss = execute_ogr_sql(
        spark, "SELECT * FROM poly WHERE prfedea LIKE 'x%'",
        layers).count()
    assert n_like == 10 and n_ilike_miss == 0
    # ILIKE case-insensitivity on a string column
    df = spark.createDataFrame([("AbC",), ("xyz",)], ["s"])
    got = execute_ogr_sql(spark, "SELECT * FROM t WHERE s ILIKE 'abc'",
                          {"t": df})
    assert got.count() == 1


def test_join_and_left_join(spark, layers):
    out = execute_ogr_sql(
        spark,
        "SELECT eas_id, name FROM poly"
        " JOIN idlink ON poly.eas_id = idlink.eas_id"
        " WHERE poly.eas_id < 166 ORDER BY eas_id",
        layers,
    )
    rows = out.collect()
    assert [(r[0], r[1]) for r in rows] == [(158, "name158"),
                                            (165, "name165")]


def test_in_between_isnull(spark, layers):
    assert execute_ogr_sql(
        spark, "SELECT * FROM poly WHERE eas_id IN (158, 165, 9999)",
        layers).count() == 2
    assert execute_ogr_sql(
        spark, "SELECT * FROM poly WHERE eas_id BETWEEN 165 AND 170",
        layers).count() == 5
    assert execute_ogr_sql(
        spark, "SELECT * FROM poly WHERE prfedea IS NOT NULL",
        layers).count() == 10
    assert execute_ogr_sql(
        spark, "SELECT * FROM poly WHERE eas_id NOT IN (158, 165)",
        layers).count() == 8


def test_limit_offset_union_all(spark, layers):
    out = execute_ogr_sql(
        spark,
        "SELECT eas_id FROM poly ORDER BY eas_id LIMIT 3 OFFSET 2",
        layers,
    )
    assert [r.eas_id for r in out.collect()] == [166, 168, 169]
    u = execute_ogr_sql(
        spark,
        "SELECT eas_id FROM poly WHERE eas_id < 160 UNION ALL"
        " SELECT eas_id FROM poly WHERE eas_id > 175",
        layers,
    )
    assert sorted(r.eas_id for r in u.collect()) == [158, 179]


def test_concat_substr_cast(spark, layers):
    out = execute_ogr_sql(
        spark,
        "SELECT CONCAT(prfedea, '_x') AS c, SUBSTR(prfedea, 1, 5) AS s,"
        " CAST(eas_id AS CHARACTER(10)) AS t FROM poly"
        " WHERE eas_id = 158",
        layers,
    )
    r = out.collect()[0]
    assert r.c == "350431410_x"
    assert r.s == "35043"
    assert r.t == "158"


def test_hstore_get_value(spark):
    df = spark.createDataFrame([("a=>1,b=>2",)], ["props"])
    out = execute_ogr_sql(
        spark, "SELECT HSTORE_GET_VALUE(props, 'b') AS v FROM t",
        {"t": df})
    assert out.collect()[0].v == "2"


def test_parse_rejects_group_by(spark, layers):
    """OGR SQL has no GROUP BY (ogr/swq_parser.y); it must not parse."""
    with pytest.raises(ValueError):
        parse_ogr_sql("SELECT eas_id, COUNT(*) FROM poly GROUP BY eas_id")


def test_rfc28_arith_select_list(spark, layers):
    """Expressions in the select list with aliases (rfc28)."""
    out = execute_ogr_sql(
        spark,
        "SELECT eas_id, eas_id + 1000 AS shifted, eas_id % 7 AS m"
        " FROM poly WHERE eas_id = 158",
        layers,
    )
    r = out.collect()[0]
    assert (r.shifted, r.m) == (1158, 158 % 7)


def test_not_like_and_string_in(spark, layers):
    n = execute_ogr_sql(
        spark,
        "SELECT * FROM poly WHERE prfedea NOT LIKE '%1410'",
        layers).count()
    assert n == 9
    n2 = execute_ogr_sql(
        spark,
        "SELECT * FROM poly WHERE prfedea IN ('350431410', '350431419')",
        layers).count()
    assert n2 == 2


def test_left_join_keeps_unmatched(spark, layers):
    small = spark.createDataFrame(
        [(158, "x")], ["eas_id", "tag"])
    out = execute_ogr_sql(
        spark,
        "SELECT poly.eas_id, tag FROM poly"
        " LEFT JOIN t ON poly.eas_id = t.eas_id ORDER BY poly.eas_id",
        {"poly": layers["poly"], "t": small},
    )
    rows = out.collect()
    assert len(rows) == 10
    assert rows[0].tag == "x" and rows[1].tag is None


def test_st_contains_in_where(spark, layers):
    """SQLITE-dialect-style spatial predicate in the WHERE clause
    (point-in-polygon through the ray-cast kernel)."""
    # points table: Paris inside fid2's pentagon, plus one far away
    pts = spark.createDataFrame(
        [(0, 2.3522, 48.8566), (1, -50.0, -20.0), (2, 0.0, 0.0)],
        ["pid", "x", "y"],
    )
    out = execute_ogr_sql(
        spark,
        "SELECT pid, eas_id FROM pts"
        " JOIN poly ON ST_CONTAINS(geometry, x, y)"
        " ORDER BY pid",
        {"pts": pts, "poly": layers["poly"]},
    )
    rows = out.collect()
    # Paris -> pentagon (eas 166); (-50,-20) -> triangle (eas 171)
    assert [(r.pid, r.eas_id) for r in rows] == [(0, 166), (1, 171)]


def test_spatial_join_rewrite(spark):
    """JOIN ... ON ST_Intersects(a.g, b.g) is rewritten to the
    two-stage polygon join (no BroadcastNestedLoopJoin + per-pair
    UDF) and returns the correct pairs."""
    import numpy as np
    import pandas as pd

    from gdal_spark.geometry.wkb import polygon_wkb
    from gdal_spark.sql.ogrsql import execute_ogr_sql

    def sq(x0, y0, x1, y1):
        return np.array([(x0, y0), (x1, y0), (x1, y1), (x0, y1),
                         (x0, y0)], dtype=np.float64)

    a = spark.createDataFrame(pd.DataFrame({
        "fid": np.array([1, 2, 3], dtype=np.int64),
        "geometry": [polygon_wkb([sq(0, 0, 2, 1)]),
                     polygon_wkb([sq(4, 2, 6, 3)]),
                     polygon_wkb([sq(20, 20, 21, 21)])],
    }))
    b = spark.createDataFrame(pd.DataFrame({
        "fid": np.array([1], dtype=np.int64),
        "name": ["zone"],
        "geometry": [polygon_wkb([sq(1, 0, 5, 4)])],
    }))
    out = execute_ogr_sql(
        spark,
        "SELECT a.fid, b.name FROM a JOIN b"
        " ON ST_Intersects(a.geometry, b.geometry)",
        {"a": a, "b": b},
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    got = out.toPandas().sort_values("fid")
    assert got["fid"].tolist() == [1, 2]
    assert got["name"].tolist() == ["zone", "zone"]


def _rect_layer(spark, rects, extra=None):
    import numpy as np

    from gdal_spark.geometry.wkb import polygon_wkb

    rows = {"fid": np.arange(len(rects), dtype=np.int64),
            "geometry": [
                polygon_wkb([np.array(
                    [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)],
                    dtype=np.float64)])
                for x0, y0, x1, y1 in rects]}
    if extra:
        rows.update(extra)
    return spark.createDataFrame(pd.DataFrame(rows))


def _det_rects(n, seed):
    """Deterministic rects scattered in [-60, 60]^2."""
    out = []
    for i in range(n):
        h = (i * 2654435761 + seed) % (1 << 31)
        x0 = (h % 120) - 60.0
        y0 = ((h // 120) % 100) - 50.0
        out.append((x0, y0, x0 + 1.0 + h % 7, y0 + 1.0 + h % 5))
    return out


def test_spatial_join_rewrite_distributed(spark, monkeypatch):
    """Above the method-row bound the rewrite must switch to the
    fully distributed cell-cover join: the broadcast operator (which
    collects the layer) is forbidden via monkeypatch, and the result
    must match the broadcast path's bit for bit."""
    import gdal_spark.operators.spatial_join as sj

    a = _rect_layer(spark, _det_rects(80, 17))
    b = _rect_layer(spark, _det_rects(9, 5), extra={
        "name": [f"z{i}" for i in range(9)]})
    sql = ("SELECT a.fid, b.name FROM a JOIN b"
           " ON ST_Intersects(a.geometry, b.geometry)")

    expected = execute_ogr_sql(spark, sql, {"a": a, "b": b}) \
        .toPandas().sort_values(["fid", "name"]).reset_index(drop=True)

    def forbidden(*args, **kwargs):
        raise AssertionError("broadcast path (driver collect) used")

    monkeypatch.setattr(sj, "spatial_join_polygons_intersect", forbidden)
    monkeypatch.setattr(sj, "_BROADCAST_ROW_LIMIT", 4)
    got = execute_ogr_sql(spark, sql, {"a": a, "b": b}) \
        .toPandas().sort_values(["fid", "name"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, expected)


def test_spatial_join_rewrite_byte_bound(spark, monkeypatch):
    """FEW-but-huge method geometries must also take the distributed
    path: the gate bounds bytes, not just rows (the probe runs
    JVM-side — the layer never reaches the driver)."""
    import gdal_spark.operators.spatial_join as sj

    a = _rect_layer(spark, _det_rects(80, 17))
    b = _rect_layer(spark, _det_rects(5, 5), extra={
        "name": [f"z{i}" for i in range(5)]})  # 5 rows << row bound
    sql = ("SELECT a.fid, b.name FROM a JOIN b"
           " ON ST_Intersects(a.geometry, b.geometry)")

    expected = execute_ogr_sql(spark, sql, {"a": a, "b": b}) \
        .toPandas().sort_values(["fid", "name"]).reset_index(drop=True)

    def forbidden(*args, **kwargs):
        raise AssertionError("broadcast path (driver collect) used")

    monkeypatch.setattr(sj, "spatial_join_polygons_intersect", forbidden)
    monkeypatch.setattr(sj, "_BROADCAST_BYTE_LIMIT", 64)
    got = execute_ogr_sql(spark, sql, {"a": a, "b": b}) \
        .toPandas().sort_values(["fid", "name"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, expected)


def test_polygons_intersect_big_parity(spark):
    """spatial_join_polygons_intersect_big == broadcast operator on a
    200 x 12 rect workload (pair-set equality, incl. corner-cell
    dedup: no duplicate pairs)."""
    from gdal_spark.operators.spatial_join import (
        spatial_join_polygons_intersect,
        spatial_join_polygons_intersect_big,
    )

    a = _rect_layer(spark, _det_rects(200, 99))
    b_rects = _det_rects(12, 3)
    b = _rect_layer(spark, b_rects)
    bpdf = b.toPandas()

    exp = spatial_join_polygons_intersect(spark, a, bpdf) \
        .select("fid", "method_fid").toPandas()
    exp_pairs = sorted(map(tuple, exp.to_numpy()))
    got = spatial_join_polygons_intersect_big(spark, a, b) \
        .select("fid", "method_fid").toPandas()
    got_pairs = sorted(map(tuple, got.to_numpy()))
    assert len(got_pairs) == len(set(got_pairs))  # no dup pairs
    assert got_pairs == exp_pairs
    assert len(exp_pairs) >= 5  # workload actually overlaps


def test_select_star_except_exclude(spark):
    import pandas as pd
    import pytest

    df = spark.createDataFrame(pd.DataFrame({
        "a": [1, 2], "b": ["x", "y"], "c": [0.5, 1.5]}))
    out = execute_ogr_sql(
        spark, "SELECT * EXCEPT (b) FROM t", {"t": df})
    assert out.columns == ["a", "c"]
    out2 = execute_ogr_sql(
        spark, "SELECT * EXCLUDE (a, c) FROM t WHERE a > 1",
        {"t": df})
    assert out2.columns == ["b"] and out2.count() == 1
    with pytest.raises(Exception, match="repeated"):
        execute_ogr_sql(spark, "SELECT * EXCEPT (a, a) FROM t",
                        {"t": df})
