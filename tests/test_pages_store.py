"""Cell-partitioned store: partition pruning + hot-cell skew."""

import io
from contextlib import redirect_stdout

import numpy as np

from gdal_spark.sources.pages import pages_coords_df, pages_df
from gdal_spark.sources.pages_store import (
    cells_covering_bbox, read_pages_region, write_pages_partitioned,
)


def test_partition_pruning_in_plan(spark, tmp_path):
    path = str(tmp_path / "pages_part")
    pts = pages_coords_df(spark, 5000, partitions=4)
    write_pages_partitioned(pts, path, res=3)
    region = read_pages_region(spark, path, -80.0, 25.0, -60.0, 50.0,
                               res=3)
    buf = io.StringIO()
    with redirect_stdout(buf):
        region.explain()
    plan = buf.getvalue()
    # the cell filter must land in PartitionFilters, not a post-scan
    # Filter over all data
    assert "PartitionFilters: [" in plan
    assert "cell" in plan.split("PartitionFilters")[1][:200]
    # correctness: region rows == filter on the unpartitioned frame
    from gdal_spark.functions import geo
    from pyspark.sql import functions as F

    want = (
        pts.withColumn("cell", geo.cell_id("lon", "lat", 3))
        .filter(F.col("cell").isin(
            cells_covering_bbox(-80.0, 25.0, -60.0, 50.0, 3)))
        .count()
    )
    assert region.count() == want


def test_pruning_reads_fewer_files(spark, tmp_path):
    import os

    path = str(tmp_path / "pages_part2")
    pts = pages_coords_df(spark, 20000, partitions=4)
    write_pages_partitioned(pts, path, res=3)
    n_parts = len([d for d in os.listdir(path) if d.startswith("cell=")])
    assert n_parts > 10
    cells = cells_covering_bbox(-80.0, 25.0, -60.0, 50.0, 3)
    assert len(cells) < n_parts  # the region touches a strict subset


def test_hot_cell_skew_correctness(spark):
    """Adversarial skew: 95% of pages in one city block. The salted
    two-phase density agg and the spatial join must stay correct
    (and the hot tile's partials stay bounded by partition count)."""
    from pyspark.sql import functions as F

    from gdal_spark.operators.spatial_join import (
        brute_force_join_pdf, spatial_join_points_in_polygons,
    )
    from gdal_spark.operators.tiling import sparse_pyramid
    from gdal_spark.sources.polygons import poly_fixture_pdf

    n = 20000
    base = spark.range(0, n, 1, 8).withColumnRenamed("id", "i")
    hot = F.col("i") % 20 != 0  # 95% hot
    pts = base.select(
        "i",
        F.when(hot, -74.006 + (F.col("i") % 97) * 1e-6)
        .otherwise((F.col("i") % 360) - 180.0).alias("lon"),
        F.when(hot, 40.7128 + (F.col("i") % 89) * 1e-6)
        .otherwise((F.col("i") % 160) - 80.0).alias("lat"),
    )
    # density: mass conserved despite the hot tile
    sp = sparse_pyramid(pts, 8, 8)
    total = sp.toPandas()
    mass = sum(
        np.frombuffer(c, dtype=np.int64).sum() for c in total["cnt"]
    )
    assert mass == n
    # the hot tile exists and holds ~95% of the mass
    per_tile = [np.frombuffer(c, dtype=np.int64).sum()
                for c in total["cnt"]]
    assert max(per_tile) >= 0.9 * n
    # join correctness under skew
    polys = poly_fixture_pdf()
    got = (
        spatial_join_points_in_polygons(spark, pts, polys, res=6)
        .groupBy("fid").count().toPandas().set_index("fid")["count"]
    )
    want = (
        brute_force_join_pdf(pts.toPandas(), polys)
        .groupby("fid").size()
    )
    for fid, cnt in want.items():
        assert got[fid] == cnt
