"""Physical-plan audit -> PLANS.md.

Captures `.explain("formatted")` for the flagship operators and
asserts the plan properties the engine's scale story depends on:

* page synthesis and cell/tile math run inside WholeStageCodegen;
* parquet scans push filters and prune columns;
* the tiling pipeline contains exactly the intended exchanges.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def simple_plan(df) -> str:
    """simple mode shows WholeStageCodegen spans as *(n) prefixes."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def n_exchanges(formatted: str) -> int:
    """Count Exchange nodes in the tree section only (each node is
    repeated in the detail section of formatted output)."""
    import re

    return len(re.findall(r"[+:]- Exchange", formatted))


def main() -> None:
    from pyspark.sql import functions as F

    from gdal_spark.session import get_spark
    from gdal_spark.sources.pages import pages_coords_df
    from gdal_spark.operators.tiling import sparse_pyramid

    spark = get_spark("plan-audit", master="local[4]",
                      shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    sections = []
    checks = []

    pts = pages_coords_df(spark, 100_000)
    # AQE hides codegen stars until the final plan; assert them on
    # the non-adaptive synthesis subplan instead
    checks.append(("page synthesis in WholeStageCodegen",
                   "*(" in simple_plan(pts)))

    p2 = plan_of(sparse_pyramid(pts, 8, 8))
    sections.append(("Tile density (sparse two-phase agg)", p2))
    n_exch = n_exchanges(p2)
    checks.append(("exactly one shuffle in the density agg "
                   f"(found {n_exch})", n_exch == 1))

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .filter(F.col("l_quantity") > 10)
        .select("l_returnflag", "l_quantity")
        .groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    )
    p3 = plan_of(q)
    sections.append(("Parquet scan pushdown + pruning", p3))
    checks.append(("filters pushed to the scan",
                   "PushedFilters: [IsNotNull" in p3
                   or "PushedFilters: [" in p3
                   and "GreaterThan" in p3))
    checks.append(("column pruning (only 3 cols read)",
                   "l_extendedprice" not in p3))

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    from gdal_spark.operators.similarity import cosine_topk_numpy
    import numpy as np
    import pandas as pd

    qpdf = emb.limit(2).toPandas()
    queries = pd.DataFrame({
        "query_id": np.arange(2, dtype=np.int64),
        "query_vec": [list(map(float, v)) for v in qpdf["embedding"]],
    })
    p4 = plan_of(cosine_topk_numpy(emb, queries, k=5))
    sections.append(("ANN top-k (partial top-k then tiny shuffle)", p4))

    from gdal_spark.operators.grid import grid_interpolate
    from gdal_spark.operators.rasterize import GridSpec

    gpts = spark.createDataFrame(pd.DataFrame({
        "x": np.linspace(0, 64, 200), "y": np.linspace(0, 64, 200),
        "v": np.arange(200, dtype=np.float64)}))
    p5 = plan_of(grid_interpolate(
        gpts, GridSpec(0.0, 64.0, 1.0, 1.0, 64, 64), "invdist",
        radius=0.0, tile_size=32))
    sections.append(("grid_interpolate radius=0 (partial-raster "
                     "reduce, no cartesian product)", p5))
    checks.append(("radius=0 gridding has no cross join",
                   "CartesianProduct" not in p5
                   and "BroadcastNestedLoopJoin" not in p5))

    from gdal_spark.geometry.wkb import polygon_wkb

    def _sq(x0, y0, x1, y1):
        return np.array([(x0, y0), (x1, y0), (x1, y1), (x0, y1),
                         (x0, y0)])

    # overlay_general's bbox prefilter must stay O(1) in expression
    # size at ANY method count (broadcast LEFT SEMI, not an OR chain)
    from gdal_spark.operators.layer_algebra import overlay_general

    meth_rows = pd.DataFrame({
        "fid": np.arange(2000, dtype=np.int64),
        "geometry": [polygon_wkb([_sq(float(i % 50) * 2.0,
                                      float(i // 50) * 2.0,
                                      float(i % 50) * 2.0 + 1.5,
                                      float(i // 50) * 2.0 + 1.5)])
                     for i in range(2000)],
    })
    inp = spark.createDataFrame(pd.DataFrame({
        "fid": np.arange(4, dtype=np.int64),
        "geometry": [polygon_wkb([_sq(0.2, 0.2, 0.9, 0.9)])] * 4,
        "x0": [0.2] * 4, "y0": [0.2] * 4,
        "x1": [0.9] * 4, "y1": [0.9] * 4,
    }))
    ov = overlay_general(spark, inp, meth_rows, "intersection",
                         bbox_cols=("x0", "y0", "x1", "y1"))
    p7_opt = ov._jdf.queryExecution().optimizedPlan().toString()
    sections.append(("overlay_general prefilter @ 2000 method "
                     "features (optimized plan head)",
                     "\n".join(p7_opt.splitlines()[:40])))
    checks.append(("overlay prefilter is not a per-feature OR chain "
                   f"(plan mentions bbox cols {p7_opt.count('_mx0')}x"
                   " < 20)", p7_opt.count("_mx0") < 20))
    checks.append(("overlay prefilter uses a broadcast LEFT SEMI",
                   "LeftSemi" in p7_opt))

    # cutline: ONE map-only kernel.  Tiles whose window misses every
    # cutline feature's tile range cross as NULL-payload rows (a CASE
    # WHEN projection, so their bytes never enter Arrow), never as a
    # second union arm re-executing the source subtree, and no mask
    # tiles cross an exchange
    from gdal_spark.operators.cutline import cutline_clip
    from gdal_spark.operators.rasterize import GridSpec
    from gdal_spark.operators.warp import tiles_from_array

    ts, nt = 32, 8
    src_arr = (np.arange(nt * ts * nt * ts, dtype=np.float64)
               .reshape(nt * ts, nt * ts) % 251.0)
    ctiles, _, _ = tiles_from_array(spark, src_arr, tile_size=ts)
    cgrid = GridSpec(0.0, float(nt * ts), 1.0, 1.0, nt * ts, nt * ts)
    cring = np.array([(ts, nt * ts - 6.0 * ts),
                      (6.0 * ts, nt * ts - 6.0 * ts),
                      (6.0 * ts, nt * ts - ts), (ts, nt * ts - ts),
                      (ts, nt * ts - 6.0 * ts)])
    cut_out = cutline_clip(
        spark, ctiles,
        pd.DataFrame({"fid": np.array([0], dtype=np.int64),
                      "geometry": [polygon_wkb([cring])]}),
        cgrid, blend_px=2.0, nodata=0.0, tile_size=ts)
    plan_cut = cut_out._jdf.queryExecution().optimizedPlan().toString()
    n_py = plan_cut.count("MapInPandas")
    # (the NULL-payload CASE WHEN projection constant-folds into this
    # fixture's LocalRelation, so the assertable shape is the arm
    # count: one kernel, no Union re-executing the source)
    checks.append((
        "cutline: ONE arm, ONE Python kernel "
        f"(MapInPandas x{n_py}, no Union re-executing the source)",
        n_py == 1 and "Union" not in plan_cut))

    # overlay_lines: broadcast path probes a grid index (no per-line
    # full-method scan)
    from gdal_spark.operators.layer_algebra import (
        _grid_candidates, _method_grid_index,
    )

    lmeth = [(i, [_sq(float(i % 100), float(i // 100),
                      i % 100 + 0.9, i // 100 + 0.9)],
              (float(i % 100), float(i // 100),
               i % 100 + 0.9, i // 100 + 0.9))
             for i in range(10_000)]
    lidx = _method_grid_index(lmeth)
    probe = _grid_candidates(lidx, 3.0, 3.0, 4.5, 4.5)
    checks.append((
        "line overlay broadcast path probes a grid index: a 1-cell "
        f"query tests {len(probe)} of 10000 method features",
        0 < len(probe) <= 16))
    checks.append((
        "line overlay grid index short-circuits empty regions",
        _grid_candidates(lidx, 500.0, 500.0, 501.0, 501.0) == []))

    # format drivers: the read-side pruning the 100TB design
    # depends on — FlatGeobuf ships only R-tree-hit byte ranges to
    # executors; GeoPackage reads are integer-PK index scans with
    # the bbox as an R*Tree subquery (asserted via SQLite's own
    # query planner)
    import tempfile

    from gdal_spark.sources.flatgeobuf import (
        _file_layout, _tree_search, write_flatgeobuf,
    )

    rng = np.random.default_rng(17)
    nf = 20_000
    fgb_pdf = pd.DataFrame({
        "geometry": [b"\x01\x01\x00\x00\x00" + np.array(
            [x, y]).tobytes() for x, y in rng.uniform(0, 100,
                                                      (nf, 2))],
        "k": np.arange(nf, dtype=np.int64)})
    fgb_path = os.path.join(tempfile.mkdtemp(prefix="audit_fgb_"),
                            "pts.fgb")
    write_flatgeobuf(spark.createDataFrame(fgb_pdf), fgb_path,
                     mode="single")
    hdr, idx_start, feat_start, fsize = _file_layout(fgb_path)
    with open(fgb_path, "rb") as fh:
        hits = _tree_search(fh, idx_start, nf,
                            hdr.index_node_size, (40, 40, 50, 50))
    # 1% of the area -> ~1% of the features; ranges ship O(hits)
    # bytes, not the file
    span = (max(o for _, o in hits) - min(o for _, o in hits)
            if hits else 0)
    checks.append((
        "flatgeobuf bbox read prunes via the packed R-tree: "
        f"{len(hits)} of {nf} features hit for a 1% box, hit byte "
        f"span {span / (fsize - feat_start):.1%} of the features "
        "section",
        0 < len(hits) < nf * 0.05
        and span < (fsize - feat_start) * 0.6))

    import sqlite3

    from gdal_spark.sources.geopackage import (
        write_gpkg, write_gpkg_tiles,
    )

    gdir = tempfile.mkdtemp(prefix="audit_gpkg_")
    gpath = os.path.join(gdir, "pts.gpkg")
    write_gpkg(spark.createDataFrame(fgb_pdf), gpath, mode="single",
               table="pts")
    con = sqlite3.connect(f"file:{gpath}?mode=ro", uri=True)
    ep = "".join(r[3] for r in con.execute(
        'EXPLAIN QUERY PLAN SELECT "fid", "geometry" FROM "pts" '
        'WHERE "fid" BETWEEN 1 AND 1000 AND "fid" IN (SELECT id '
        'FROM "rtree_pts_geometry" WHERE maxx >= 40 AND minx <= 50 '
        "AND maxy >= 40 AND miny <= 50)"))
    con.close()
    checks.append((
        "gpkg task SQL is an integer-PK index scan with an R*Tree "
        "virtual-table probe (SQLite query plan: "
        f"{ep[:80]}...)",
        "USING INTEGER PRIMARY KEY" in ep
        and "VIRTUAL TABLE INDEX" in ep))

    from gdal_spark.operators.tiling import encode_tile

    trows = []
    for z in (2, 3):
        for t in range(4):
            arr = (np.arange(64, dtype=np.uint8).reshape(8, 8)
                   + t)
            payload, dts = encode_tile(arr, None)
            trows.append({"zoom": z, "tile_x": t, "tile_y": t,
                          "band": 1, "data": payload, "dtype": dts,
                          "tile_size": 8})
    tpath = os.path.join(gdir, "pyr.gpkg")
    write_gpkg_tiles(spark.createDataFrame(pd.DataFrame(trows)),
                     tpath, format="png")
    con = sqlite3.connect(f"file:{tpath}?mode=ro", uri=True)
    ep2 = "".join(r[3] for r in con.execute(
        "EXPLAIN QUERY PLAN SELECT zoom_level, tile_column, "
        'tile_row, tile_data FROM "tiles" WHERE id BETWEEN 1 AND 4 '
        "AND zoom_level = 3"))
    con.close()
    checks.append((
        "gpkg tile task SQL is an index scan — PK range or the "
        "UNIQUE (zoom,x,y) autoindex, never a full scan "
        f"(SQLite query plan: {ep2[:60]}...)",
        "USING INTEGER PRIMARY KEY" in ep2
        or "USING INDEX sqlite_autoindex" in ep2))

    # ---- MVT sink: the whole write is ONE keyed shuffle ----------
    from gdal_spark.sources.mvt import _mvt_encode_frame, _mvt_prepare

    mvt_df = spark.createDataFrame(fgb_pdf.head(1000))
    covered, fid_col, prop_cols, ftypes = _mvt_prepare(
        mvt_df, "geometry", 3, 3, 4096, 0)
    blobs = _mvt_encode_frame(
        covered, path=None, layer="l", extent=4096, buffer=0,
        compress=True, simplification=None, fid_col=fid_col,
        prop_cols=prop_cols, field_types=ftypes,
        geometry_col="geometry")
    import io
    from contextlib import redirect_stdout

    buf_io = io.StringIO()
    with redirect_stdout(buf_io):
        blobs.explain()          # simple mode: each op printed once
    mvt_plan = buf_io.getvalue()
    n_ex = mvt_plan.count("Exchange")
    checks.append((
        "mvt sink is ONE keyed shuffle end-to-end (cover kernel -> "
        f"hash repartition -> sorted encode; found {n_ex} Exchange)",
        n_ex == 1))

    # ---- MBTiles read: task SQL is a rowid index scan ------------
    from gdal_spark.sources.mbtiles import write_mbtiles

    mpath = os.path.join(gdir, "pyr.mbtiles")
    write_mbtiles(spark.createDataFrame(pd.DataFrame(trows)), mpath)
    con = sqlite3.connect(f"file:{mpath}?mode=ro", uri=True)
    ep3 = "".join(r[3] for r in con.execute(
        "EXPLAIN QUERY PLAN SELECT zoom_level, tile_column, "
        "tile_row, tile_data FROM tiles WHERE rowid BETWEEN 1 AND 4"
        " AND zoom_level = 3"))
    con.close()
    checks.append((
        "mbtiles task SQL is an index scan (rowid PK or the tile "
        f"UNIQUE index), never a full scan (SQLite query plan: "
        f"{ep3[:60]}...)",
        "USING INTEGER PRIMARY KEY" in ep3
        or "USING INDEX tile_index" in ep3))

    # ---- GeoParquet: footer bbox pruning drops files --------------
    from gdal_spark.sources.geoparquet import (
        read_geoparquet, write_geoparquet,
    )

    gp_pdf = fgb_pdf.copy()
    gp_pdf["lon"] = [np.frombuffer(g[5:13], "<f8")[0]
                     for g in gp_pdf.geometry]
    gp_pdf = gp_pdf.sort_values("lon").drop(columns=["lon"])
    gp_pdf["k"] = np.arange(len(gp_pdf), dtype=np.int64)
    gp_path = os.path.join(gdir, "gpq")
    write_geoparquet(
        spark.createDataFrame(gp_pdf).repartitionByRange(8, "k"),
        gp_path)
    full_files = len(read_geoparquet(spark, gp_path).inputFiles())
    pruned_files = len(read_geoparquet(
        spark, gp_path, bbox=(40.0, 0.0, 50.0, 100.0)).inputFiles())
    checks.append((
        "geoparquet bbox read prunes part files from footers "
        f"({pruned_files} of {full_files} planned for a 10% box)",
        0 < pruned_files < full_files))

    # ---- neighbors: k-halo focal op is ONE shuffle ----------------
    from gdal_spark.operators.neighbors import neighbors_tiles
    from gdal_spark.operators.tiling import TILE_SCHEMA

    nrows = [{"zoom": 1, "tile_x": tx, "tile_y": ty, "band": 1,
              "data": np.zeros((16, 16)).tobytes(),
              "dtype": "float64", "tile_size": 16}
             for tx in range(2) for ty in range(2)]
    ntiles = spark.createDataFrame(pd.DataFrame(nrows), TILE_SCHEMA)
    nb = neighbors_tiles(ntiles, kernel="gaussian", size=5,
                         extent_tiles=(0, 0, 1, 1))
    nb_plan = simple_plan(nb)
    n_ex_nb = nb_plan.count("Exchange")
    checks.append((
        "neighbors focal op is ONE halo shuffle (strip emit -> "
        f"groupBy assemble; found {n_ex_nb} Exchange)",
        n_ex_nb == 1))

    # ---- raster tindex: header-only — the plan scans the PATH
    # list, never the raster bytes --------------------------------
    from gdal_spark.operators.tiling import write_tiles
    from gdal_spark.sources.tindex import raster_index

    tindex_dir = os.path.join(gdir, "tindex_pyr")
    write_tiles(ntiles, tindex_dir, format="gtiff")
    ridx = raster_index(spark, tindex_dir)
    ridx_plan = simple_plan(ridx)
    checks.append((
        "raster index plans over the path list only (no file-content "
        "source in the plan; headers read via per-task mmap)",
        "binaryFile" not in ridx_plan
        and ridx_plan.count("Exchange") == 1))

    # ---- grid data metrics: tile gather is ONE shuffle ------------
    from gdal_spark.operators.grid import grid_interpolate
    from gdal_spark.operators.rasterize import GridSpec

    gpts = spark.createDataFrame(pd.DataFrame({
        "x": np.linspace(0, 63, 100), "y": np.linspace(0, 63, 100),
        "v": np.arange(100.0)}))
    gm = grid_interpolate(gpts, GridSpec(0.0, 64.0, 4.0, 4.0, 16, 16),
                          "range", radius=9.0, tile_size=8)
    gm_plan = simple_plan(gm)
    n_ex_gm = gm_plan.count("Exchange")
    checks.append((
        "grid data-metric gather is ONE keyed shuffle (JVM explode "
        f"-> groupBy tile; found {n_ex_gm} Exchange)",
        n_ex_gm == 1))

    # ---- duplicate-passage stats: corpus read ONCE, hashes-only
    # shuffles.  (r7: the former pure-JVM interpreted-lambda window
    # projection was replaced by ONE Arrow rolling-hash kernel — the
    # old plan evaluated the window subtree twice, once per side of
    # the frequency join, and paid seconds of first-run lambda
    # interpretation.  The scale contract is unchanged: shuffles
    # carry 8-byte window hashes, never passage text, and the fold
    # streams sorted hash groups with bounded task memory.) --------
    from gdal_spark.functions.text import duplicate_passage_stats

    dp_docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(20),
        "text": ["alpha beta gamma delta epsilon zeta eta theta "
                 * 3] * 20}))
    dp = duplicate_passage_stats(dp_docs, window=8)
    dp_plan = plan_of(dp)
    dp_simple = simple_plan(dp)
    n_scan_dp = dp_simple.count("LocalTableScan")
    checks.append((
        "duplicate-passage stats reads the corpus ONCE (single scan "
        "feeding the window-hash kernel; the old join-back shape "
        f"computed it twice; found {n_scan_dp} scan(s)) and its "
        f"shuffles carry 8-byte hashes ({n_exchanges(dp_plan)} "
        "exchanges: hash-of-window + per-doc agg, plus at most one "
        "small-input spread)",
        n_scan_dp == 1 and 2 <= n_exchanges(dp_plan) <= 3))

    # ---- check-coverage: defect set joins back as a BROADCAST ----
    from gdal_spark.geometry.wkb import polygon_wkb
    from gdal_spark.operators.coverage import check_coverage

    cov_rows = [{"fid": i, "geometry": polygon_wkb(
        [[(i, 0.0), (i + 1.0, 0.0), (i + 1.0, 1.0), (i, 1.0),
          (i, 0.0)]])} for i in range(8)]
    cov = check_coverage(
        spark.createDataFrame(pd.DataFrame(cov_rows)),
        extent=(0.0, 0.0, 8.0, 1.0))
    cov_plan = simple_plan(cov)
    checks.append((
        "check-coverage joins the (small) defect set back via "
        "BroadcastHashJoin — edges never sort-merge against edges",
        "BroadcastHashJoin" in cov_plan
        and "SortMergeJoin" not in cov_plan
        and "CartesianProduct" not in cov_plan))

    # ---- blend: ONE keyed cogroup shuffle -------------------------
    from gdal_spark.operators.bandops import blend_tiles, create_tiles

    bl = blend_tiles(
        create_tiles(spark, 10.0, 0, 2, 2, 8, dtype="uint8"),
        create_tiles(spark, 20.0, 0, 2, 2, 8, dtype="uint8"),
        "multiply")
    bl_plan = simple_plan(bl)
    n_ex_bl = bl_plan.count("Exchange")
    checks.append((
        "raster blend is ONE keyed cogroup shuffle "
        f"(union -> groupBy tile; found {n_ex_bl} Exchange)",
        n_ex_bl == 1))

    # ---- OSM: blob-index scan + join-based way assembly ----------
    from gdal_spark.sources.osm import read_osm

    osm_lines_df = read_osm(
        spark, "/root/reference/autotest/ogr/data/osm/test.pbf",
        "lines")
    osm_plan = simple_plan(osm_lines_df)
    checks.append((
        "osm lines plan: blob-index LocalTableScan (no file-content "
        "source), way->node assembly is a keyed join (no cartesian)",
        "binaryFile" not in osm_plan
        and "CartesianProduct" not in osm_plan
        and "Join" in osm_plan))

    # ---- vector update: one anti-join shuffle, no cartesian ------
    from gdal_spark.operators.layer_ops import update_layer

    upd_a = spark.range(0, 1000).withColumnRenamed("id", "fid") \
        .withColumn("v", F.col("fid") * 2)
    upd_b = spark.range(0, 100).withColumnRenamed("id", "fid") \
        .withColumn("v", F.col("fid") * 3)
    upd_plan = simple_plan(update_layer(upd_a, upd_b))
    checks.append((
        "vector update is a keyed anti-join + union (no cartesian, "
        "no driver collect in the plan)",
        "Join LeftAnti" in upd_plan.replace("JOIN LeftAnti",
                                            "Join LeftAnti")
        or ("LeftAnti" in upd_plan
            and "CartesianProduct" not in upd_plan)))

    # ---- vector combine: ONE groupBy shuffle ----------------------
    from gdal_spark.operators.layer_ops import combine_features
    from gdal_spark.geometry.wkb import point_wkb as _cpw

    comb_rows = pd.DataFrame({
        "grp": [i % 5 for i in range(50)],
        "geometry": [_cpw(float(i), 0.0) for i in range(50)]})
    comb_plan = simple_plan(
        combine_features(spark.createDataFrame(comb_rows), "grp"))
    n_ex_comb = comb_plan.count("Exchange")
    checks.append((
        "vector combine is ONE groupBy shuffle + Arrow assembly "
        f"(found {n_ex_comb} Exchange)",
        n_ex_comb == 1))

    # ---- zarr: chunk-key task list, no file-content source --------
    import json as _json
    import tempfile as _tf

    from gdal_spark.sources.zarr import read_zarr

    zp = os.path.join(_tf.mkdtemp(prefix="audit_zarr_"), "a.zarr")
    os.makedirs(zp)
    with open(os.path.join(zp, ".zarray"), "w") as zf:
        _json.dump({"zarr_format": 2, "shape": [64, 64],
                    "chunks": [16, 16], "dtype": "<i4",
                    "compressor": None, "filters": None,
                    "order": "C", "fill_value": 0}, zf)
    z_plan = simple_plan(read_zarr(spark, zp))
    checks.append((
        "zarr read plans over the chunk-key list only (no "
        "binaryFile/file-content source; one task per chunk)",
        "binaryFile" not in z_plan and "FileScan" not in z_plan
        and "MapInPandas" in z_plan))

    # ---- decontaminate: eval grams broadcast, corpus never shuffles
    from gdal_spark.functions.text import decontaminate

    dd = spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(100, dtype=np.int64),
        "text": [f"w{i} " * 30 for i in range(100)]}))
    dec_plan = simple_plan(decontaminate(
        dd, dd.limit(5), n=13).select("doc_id", "contaminated"))
    checks.append((
        "decontaminate probes a BROADCAST eval-gram set (corpus side "
        "has no sort-merge join against the eval grams)",
        "BroadcastHashJoin" in dec_plan))

    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("# Physical plan audit\n\n"
                "Generated by tools/plan_audit.py — the plan\n"
                "properties the 100TB design depends on, asserted\n"
                "against the actual Catalyst output.\n\n## Checks\n\n")
        ok_all = True
        for label, ok in checks:
            f.write(f"- {'PASS' if ok else 'FAIL'}: {label}\n")
            ok_all &= ok
        for title, plan in sections:
            f.write(f"\n## {title}\n\n```\n{plan}\n```\n")
    print("PLANS.md written;",
          "all checks pass" if ok_all else "SOME CHECKS FAILED")
    for label, ok in checks:
        print(("PASS " if ok else "FAIL ") + label)


if __name__ == "__main__":
    main()
