"""Polygon layer fixtures — the join target.

``poly_fixture_pdf`` reproduces the shape of the reference's canonical
vector fixture (autotest/ogr/data/poly.shp: 10 polygons, fields
AREA:Real EAS_ID:Integer64 PRFEDEA:String; eas_id multiset
[158,165,166,168,169,170,171,172,173,179] — autotest/ogr/ogr_shape.py:91-151)
with synthetic lon/lat geometry covering the PIP edge cases:
a rectangle (envelope fast path, ogrlayer.cpp:3922), convex and
concave rings, a polygon with an interior hole (ring-in-ring case),
and one crossing a quadtree-cell boundary (lon=0 meridian).

``random_polygons`` scales to M polygons for join-correctness and
bench runs (deterministic, seeded).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.geometry.packed import geom_area
from gdal_spark.geometry.wkb import parse_wkb, polygon_wkb

EAS_IDS = [158, 165, 166, 168, 169, 170, 171, 172, 173, 179]


def _rect(x0, y0, x1, y1):
    return [[(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]]


def poly_fixture_pdf() -> pd.DataFrame:
    """10-polygon fixture as a pandas frame (fid, eas_id, area,
    prfedea, geometry:bytes WKB)."""
    geoms = [
        # 0: rectangle over NYC hot spot (envelope fast path)
        _rect(-74.3, 40.4, -73.7, 41.0),
        # 1: rectangle over London
        _rect(-0.5, 51.2, 0.3, 51.8),
        # 2: convex pentagon over Paris
        [[(2.0, 48.5), (2.7, 48.6), (2.9, 49.0), (2.35, 49.3),
          (1.8, 49.0), (2.0, 48.5)]],
        # 3: concave (arrow) over Tokyo
        [[(139.3, 35.3), (140.1, 35.3), (140.1, 36.1), (139.3, 36.1),
          (139.7, 35.7), (139.3, 35.3)]],
        # 4: polygon with a hole over Beijing
        [
            [(115.9, 39.4), (116.9, 39.4), (116.9, 40.4), (115.9, 40.4),
             (115.9, 39.4)],
            [(116.2, 39.7), (116.6, 39.7), (116.6, 40.1), (116.2, 40.1),
             (116.2, 39.7)],
        ],
        # 5: crosses the lon=0 meridian (cell-boundary case)
        _rect(-1.0, 10.0, 1.0, 12.0),
        # 6: large triangle over South America
        [[(-60.0, -30.0), (-40.0, -30.0), (-50.0, -10.0), (-60.0, -30.0)]],
        # 7: sliver rectangle (thin)
        _rect(30.0, -1.0, 30.05, 5.0),
        # 8: big background rectangle (many matches)
        _rect(-130.0, 20.0, -60.0, 55.0),
        # 9: far-north rectangle (mercator edge)
        _rect(10.0, 70.0, 40.0, 84.0),
    ]
    rows = []
    for fid, (eas, rings) in enumerate(zip(EAS_IDS, geoms)):
        wkb = polygon_wkb([np.array(r, dtype=np.float64) for r in rings])
        rows.append({
            "fid": fid,
            "eas_id": eas,
            "area": geom_area(parse_wkb(wkb)),
            "prfedea": f"35043{1410 + fid}",
            "geometry": wkb,
        })
    return pd.DataFrame(rows)


def random_polygons_pdf(m: int, seed: int = 42) -> pd.DataFrame:
    """M deterministic random convex quads in lon/lat (join/bench)."""
    rng = np.random.RandomState(seed)
    cx = rng.uniform(-170, 170, m)
    cy = rng.uniform(-80, 80, m)
    w = rng.uniform(0.2, 6.0, m)
    h = rng.uniform(0.2, 6.0, m)
    rows = []
    for fid in range(m):
        x0, y0 = cx[fid] - w[fid] / 2, cy[fid] - h[fid] / 2
        x1, y1 = cx[fid] + w[fid] / 2, cy[fid] + h[fid] / 2
        # jittered quad (convex)
        jit = rng.uniform(-0.05, 0.05, 8) * (w[fid] + h[fid]) / 2
        ring = np.array([
            (x0 + jit[0], y0 + jit[1]), (x1 + jit[2], y0 + jit[3]),
            (x1 + jit[4], y1 + jit[5]), (x0 + jit[6], y1 + jit[7]),
        ])
        wkb = polygon_wkb([ring])
        rows.append({
            "fid": fid,
            "eas_id": 1000 + fid,
            "area": geom_area(parse_wkb(wkb)),
            "prfedea": f"{fid:010d}",
            "geometry": wkb,
        })
    return pd.DataFrame(rows)


def random_polygons(spark: SparkSession, m: int, seed: int = 42) -> DataFrame:
    return spark.createDataFrame(random_polygons_pdf(m, seed))
