"""Polygonize parity: the reference's canonical golden
(autotest/alg/polygonize.py::test_polygonize_1) re-expressed over the
same 5x7 grid, plus distributed == single-array equivalence."""

import uuid

import numpy as np
import pandas as pd
import pytest

from gdal_spark.geometry.packed import geom_area
from gdal_spark.geometry.wkb import parse_wkb
from gdal_spark.operators.polygonize import (
    label_tile, polygonize_array, polygonize_tiles, runs_of_labels,
)

# autotest/alg/data/polygonize_in.grd: 5x7, cellsize 60, nodata 132,
# origin (440720, 3751440) north-up (yll 3751020 + 7*60)
GRID = np.array([
    [107, 123, 132, 115, 132],
    [115, 132, 132, 123, 123],
    [115, 132, 140, 132, 123],
    [148, 132, 123, 123, 123],
    [156, 156, 156, 140, 132],
    [156, 100, 156, 101, 102],
    [156, 156, 156, 103, 103],
], dtype=np.int32)
GT = [440720.0, 60.0, 0.0, 3751440.0, 0.0, -60.0]
NODATA = 132.0

EXPECT_DNS = sorted([107, 123, 115, 115, 140, 148, 123, 140, 100, 101,
                     102, 156, 103])
EXPECT_156_WKT_RINGS = {
    # outer and hole rings of the DN=156 polygon (as vertex sets)
    "outer": {(440720, 3751200), (440720, 3751020), (440900, 3751020),
              (440900, 3751200)},
    "hole": {(440780, 3751140), (440840, 3751140), (440840, 3751080),
             (440780, 3751080)},
}


def test_label_tile_counts():
    labels, _ = label_tile(GRID, NODATA, 4)
    uniq = np.unique(labels[labels >= 0])
    assert len(uniq) == 13


def test_polygonize_golden_4conn():
    out = polygonize_array(GRID, GT, NODATA, 4)
    assert len(out) == 13
    assert sorted(out["value"].astype(int).tolist()) == EXPECT_DNS
    # the DN=156 polygon has a hole with the documented ring coords
    g156 = [parse_wkb(b) for v, b in zip(out["value"], out["geometry"])
            if v == 156]
    assert len(g156) == 1
    rings = g156[0].rings()
    assert len(rings) == 2
    ring_sets = [set(map(tuple, r[:-1].astype(int))) for r in rings]
    assert EXPECT_156_WKT_RINGS["outer"] in ring_sets
    assert EXPECT_156_WKT_RINGS["hole"] in ring_sets
    # area: 15 outer cells minus 1 hole cell... outer bbox 3x3 cells
    # (the 156 block is 3 cols x 3 rows = 9 cells with 1 hole)
    g = g156[0]
    assert geom_area(g) == (9 - 1) * 60 * 60


def test_polygonize_8conn_merges_diagonal():
    grid = np.array([
        [5, 0],
        [0, 5],
    ], dtype=np.int32)
    out4 = polygonize_array(grid, [0, 1, 0, 2, 0, -1], None, 4)
    out8 = polygonize_array(grid, [0, 1, 0, 2, 0, -1], None, 8)
    n5_4 = (out4["value"] == 5).sum()
    n5_8 = (out8["value"] == 5).sum()
    assert n5_4 == 2
    assert n5_8 == 1


def test_runs_roundtrip():
    labels, _ = label_tile(GRID, NODATA, 4)
    ls, ys, x0s, x1s = runs_of_labels(labels)
    # total run pixels == valid pixels
    assert (x1s - x0s).sum() == (GRID != NODATA).sum()


def test_distributed_polygonize_matches_single(spark):
    """Tile the golden grid into 4 tiles; cross-tile merge must give
    the same polygons as the single-array path."""
    # embed the 5x7 grid into an 8x8 canvas (nodata padding)
    canvas = np.full((8, 8), NODATA, dtype=np.float64)
    canvas[:7, :5] = GRID
    rows = []
    ts = 4
    for ty in range(2):
        for tx in range(2):
            sub = canvas[ty * ts:(ty + 1) * ts, tx * ts:(tx + 1) * ts]
            rows.append({
                "zoom": -1, "tile_x": tx, "tile_y": ty, "band": 1,
                "data": sub.astype(np.float64).tobytes(),
                "dtype": "float64", "tile_size": ts,
            })
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    got = polygonize_tiles(tiles, GT, NODATA, 4).toPandas()
    want = polygonize_array(canvas, GT, NODATA, 4)

    def canon(df):
        out = []
        for v, b in zip(df["value"], df["geometry"]):
            g = parse_wkb(bytes(b))
            area = geom_area(g)
            allc = np.vstack(g.rings())
            out.append((float(v), round(area, 6),
                        round(float(allc[:, 0].min()), 6),
                        round(float(allc[:, 1].min()), 6),
                        len(g.rings())))
        return sorted(out)

    assert len(got) == len(want) == 13
    assert canon(got) == canon(want)


def test_distributed_polygonize_spanning_polygon(spark):
    """A polygon spanning all 4 tiles must merge into one feature."""
    canvas = np.zeros((8, 8), dtype=np.float64)
    canvas[2:6, 2:6] = 9.0
    rows = []
    ts = 4
    for ty in range(2):
        for tx in range(2):
            sub = canvas[ty * ts:(ty + 1) * ts, tx * ts:(tx + 1) * ts]
            rows.append({
                "zoom": -1, "tile_x": tx, "tile_y": ty, "band": 1,
                "data": sub.tobytes(), "dtype": "float64", "tile_size": ts,
            })
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    got = polygonize_tiles(tiles, [0, 1, 0, 8, 0, -1], 0.0, 4).toPandas()
    assert len(got) == 1
    g = parse_wkb(bytes(got["geometry"].iloc[0]))
    assert geom_area(g) == 16.0
    assert got["n_pixels"].iloc[0] == 16


def test_polygonize_5_corner_touching_holes():
    """autotest/alg/polygonize.py::test_polygonize_5: 4x4 grid of 1s
    with two diagonally-touching 0 pixels, 4-connected, no mask ->
    exactly 3 features: two 1-px DN=0 polygons and one DN=1 polygon
    with TWO holes that touch at a corner (the rings must stay
    separate under the 4-connected turn rule)."""
    grid = np.array([
        [1, 1, 1, 1],
        [1, 0, 1, 1],
        [1, 1, 0, 1],
        [1, 1, 1, 1],
    ], dtype=np.int32)
    gt = [0.0, 1.0, 0.0, 4.0, 0.0, -1.0]
    out = polygonize_array(grid, gt, nodata=None, connectedness=4)
    assert len(out) == 3
    assert sorted(out["value"].astype(int)) == [0, 0, 1]
    one = [parse_wkb(bytes(b)) for v, b in zip(out["value"],
                                               out["geometry"]) if v == 1]
    assert len(one) == 1 and len(one[0].rings()) == 3  # outer + 2 holes
    ring_sets = [set(map(tuple, r[:-1].astype(int)))
                 for r in one[0].rings()]
    # documented golden rings (vertex sets)
    assert {(0, 4), (0, 0), (4, 0), (4, 4)} in ring_sets
    assert {(1, 3), (2, 3), (2, 2), (1, 2)} in ring_sets
    assert {(2, 2), (3, 2), (3, 1), (2, 1)} in ring_sets
    zero_polys = [parse_wkb(bytes(b)) for v, b in
                  zip(out["value"], out["geometry"]) if v == 0]
    assert all(geom_area(g) == 1.0 for g in zero_polys)


def test_polygonize_5_8connected_merges_holes():
    """8-connected: the two diagonal 0 pixels merge into ONE polygon,
    and the DN=1 region keeps a single merged hole region."""
    grid = np.array([
        [1, 1, 1, 1],
        [1, 0, 1, 1],
        [1, 1, 0, 1],
        [1, 1, 1, 1],
    ], dtype=np.int32)
    gt = [0.0, 1.0, 0.0, 4.0, 0.0, -1.0]
    out = polygonize_array(grid, gt, nodata=None, connectedness=8)
    zeros = out[out["value"] == 0]
    assert len(zeros) == 1
    g0 = parse_wkb(bytes(zeros["geometry"].iloc[0]))
    assert geom_area(g0) == 2.0


def test_global_merge_many_border_pairs(spark):
    """~129k cross-tile border pairs (2048 full-width row components
    x 63 vertical tile borders): all 131k runs touch a tile border, so
    they all pass the driver merge's bounded-collect gate (BORDER_CAP,
    2M rows) in one collect; every row component must reassemble to
    exactly n pixels."""
    from pyspark.sql import functions as F

    from gdal_spark.operators.polygonize import global_label_runs
    from gdal_spark.operators.warp import tiles_from_array

    n = 2048
    arr = np.repeat(np.arange(n, dtype=np.float64)[:, None], n, axis=1)
    tiles, _w, _h = tiles_from_array(spark, arr, tile_size=32)
    runs, _ts = global_label_runs(tiles, nodata=None, connectedness=4)
    agg = runs.groupBy("label").agg(
        F.sum(F.col("x1") - F.col("x0")).alias("npix")).toPandas()
    assert len(agg) == n
    assert (agg["npix"] == n).all()


def test_label_tile_vectorized_matches_union_find():
    """The vectorized min-label-propagation label_tile must produce
    the same component PARTITION as the original per-edge union-find
    law (_UF), and runs_of_labels the same run geometry, on random
    grids across 4/8-connectedness and nodata on/off.  Label VALUES
    may differ (min-root relabeling) — only the partition is
    contractual."""
    from gdal_spark.operators.polygonize import _UF

    def label_ref(arr, nodata, connectedness):
        h, w = arr.shape
        valid = np.ones((h, w), dtype=bool)
        if nodata is not None:
            valid = ~(np.isnan(arr) | (arr == nodata))
        newrun = np.ones((h, w), dtype=bool)
        newrun[:, 1:] = (arr[:, 1:] != arr[:, :-1]) \
            | (~valid[:, 1:]) | (~valid[:, :-1])
        run_id = np.cumsum(newrun.ravel()).reshape(h, w) - 1
        n_runs = int(run_id.max()) + 1 if h * w else 0
        uf = _UF(n_runs)
        if h > 1:
            eq = (arr[1:, :] == arr[:-1, :]) & valid[1:, :] \
                & valid[:-1, :]
            for y, x in zip(*np.nonzero(eq)):
                uf.union(int(run_id[y + 1, x]), int(run_id[y, x]))
            if connectedness == 8:
                eq = (arr[1:, 1:] == arr[:-1, :-1]) & valid[1:, 1:] \
                    & valid[:-1, :-1]
                for y, x in zip(*np.nonzero(eq)):
                    uf.union(int(run_id[y + 1, x + 1]),
                             int(run_id[y, x]))
                eq = (arr[1:, :-1] == arr[:-1, 1:]) & valid[1:, :-1] \
                    & valid[:-1, 1:]
                for y, x in zip(*np.nonzero(eq)):
                    uf.union(int(run_id[y + 1, x]),
                             int(run_id[y, x + 1]))
        roots = np.array([uf.find(i) for i in range(n_runs)],
                         dtype=np.int64)
        labels = roots[run_id]
        labels[~valid] = -1
        return labels

    def same_partition(la, lb):
        assert ((la < 0) == (lb < 0)).all()
        m = la >= 0
        f, g = {}, {}
        for a, b in zip(la[m].tolist(), lb[m].tolist()):
            if f.setdefault(a, b) != b or g.setdefault(b, a) != a:
                return False
        return True

    rng = np.random.default_rng(17)
    for trial in range(40):
        h, w = int(rng.integers(1, 40)), int(rng.integers(1, 40))
        arr = rng.integers(0, 4, (h, w)).astype(np.float64)
        nodata = 0.0 if trial % 3 else None
        conn = 8 if trial % 2 else 4
        la, _ = label_tile(arr, nodata, conn)
        lb = label_ref(arr, nodata, conn)
        assert same_partition(la, lb)
        ra = runs_of_labels(la)
        # run geometry must be exactly the per-row loop's output
        out = [[], [], [], []]
        for y in range(h):
            row = lb[y]
            starts = np.flatnonzero(np.r_[True, row[1:] != row[:-1]])
            ends = np.r_[starts[1:], w]
            keep = row[starts] >= 0
            out[0].append(row[starts][keep])
            out[1].append(np.full(keep.sum(), y, dtype=np.int64))
            out[2].append(starts[keep].astype(np.int64))
            out[3].append(ends[keep].astype(np.int64))
        for i in (1, 2, 3):
            np.testing.assert_array_equal(
                ra[i], np.concatenate(out[i]))


def _in_job_group(spark, action):
    """(job ids, task count per stage) of what ``action()`` runs,
    read from its own job group."""
    sc = spark.sparkContext
    group = f"polygonize-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    jobs = list(st.getJobIdsForGroup(group))
    tasks = [st.getStageInfo(s).numTasks
             for j in jobs for s in st.getJobInfo(j).stageIds
             if st.getStageInfo(s) is not None]
    return jobs, tasks


def _crossing_raster(spark, ts=8):
    """32x32 raster whose 4x4 blocks of equal value straddle every
    tile border (blocks offset by 2 px from the 8 px tiles)."""
    from gdal_spark.operators.warp import tiles_from_array

    yy, xx = np.mgrid[0:32, 0:32]
    arr = (((yy + 2) // 4 + (xx + 2) // 4) % 3 + 1).astype(np.int32)
    tiles, _w, _h = tiles_from_array(spark, arr, tile_size=ts)
    return arr, tiles


def test_polygonize_assembles_at_default_parallelism(spark, monkeypatch):
    """Over the driver-assembly gate, the ring-assembly stage after the
    label shuffle runs exactly defaultParallelism tasks (it ran
    max(defaultParallelism, 8) before).  The one-partition input feeds
    one-task tile-kernel, border-collect and mapping stages; the last
    stage is the union of the interior polygons' one checkpoint
    partition and the assembly, so it runs defaultParallelism + 1."""
    from gdal_spark.operators import polygonize as pz

    monkeypatch.setattr(pz, "DRIVER_ASSEMBLY_CAP", 1)
    _arr, tiles = _crossing_raster(spark)
    _jobs, tasks = _in_job_group(spark, lambda: polygonize_tiles(
        tiles.coalesce(1), [0, 1, 0, 32, 0, -1], None, 4).collect())
    assert max(tasks) == spark.sparkContext.defaultParallelism + 1, tasks


def test_polygonize_tile_kernel_at_default_parallelism(spark):
    """The tile kernel goes through session.spread_for_kernel: a
    one-partition checkpointed input is spread to defaultParallelism
    tasks, and the executed plan names the kernel."""
    _arr, tiles = _crossing_raster(spark)
    one = tiles.coalesce(1).localCheckpoint()
    store = spark._jsparkSession.sharedState().statusStore()
    seen = store.executionsList().size()
    _jobs, tasks = _in_job_group(spark, lambda: polygonize_tiles(
        one, [0, 1, 0, 32, 0, -1], None, 4))
    assert max(tasks) == spark.sparkContext.defaultParallelism, tasks
    plans = store.executionsList()
    assert any("operators.polygonize.tile"
               in plans.apply(i).physicalPlanDescription()
               for i in range(seen, plans.size()))


def test_polygonize_job_count(spark):
    """Polygonize of a 16-tile raster whose components cross tile
    borders runs at most 3 Spark jobs: the tile-kernel checkpoint, one
    collect of the edge-touching runs and the caller's collect.  With
    the mapping broadcast, the label shuffle and the assembly stage it
    ran 5; with the three Spark border self-joins, 8."""
    arr, tiles = _crossing_raster(spark)
    out = []
    jobs, _tasks = _in_job_group(spark, lambda: out.extend(
        polygonize_tiles(tiles, [0, 1, 0, 32, 0, -1], None, 4).collect()))
    assert len(jobs) <= 3, jobs
    want = polygonize_array(arr, [0, 1, 0, 32, 0, -1], None, 4)
    assert _poly_multiset(*zip(*out)) == _poly_multiset(
        want["value"], want["geometry"], want["n_pixels"])


def _tiles_of(spark, arr, ts):
    from gdal_spark.operators.warp import tiles_from_array

    return tiles_from_array(spark, arr, tile_size=ts)[0]


def test_polygonize_interior_only_runs_no_collect(spark):
    """Every component inside one tile, none on a tile edge: the
    kernel emits no edge run, so polygonize runs the checkpoint and
    the caller's collect only."""
    arr = np.zeros((16, 16), dtype=np.int32)
    arr[2:5, 2:4] = 3
    arr[10:13, 9:14] = 4
    arr[11, 11] = 5              # a hole in the 4-component
    out = []
    jobs, _tasks = _in_job_group(spark, lambda: out.extend(
        polygonize_tiles(_tiles_of(spark, arr, 8), [0, 1, 0, 16, 0, -1],
                         0.0, 4).collect()))
    assert len(jobs) <= 2, jobs
    want = polygonize_array(arr, [0, 1, 0, 16, 0, -1], 0.0, 4)
    assert len(out) == 3
    assert _poly_multiset(*zip(*out)) == _poly_multiset(
        want["value"], want["geometry"], want["n_pixels"])


def test_polygonize_all_nodata(spark):
    """An all-nodata raster: the tile kernel's checkpoint is the only
    job polygonize runs, and the result is empty."""
    arr = np.zeros((16, 16), dtype=np.int32)
    res = []
    jobs, _tasks = _in_job_group(spark, lambda: res.append(
        polygonize_tiles(_tiles_of(spark, arr, 8), [0, 1, 0, 16, 0, -1],
                         0.0, 4)))
    assert len(jobs) == 1, jobs
    assert res[0].collect() == []


def test_polygonize_const_tiles(spark):
    """const:-coded tiles (one value per tile) decode to full tiles:
    the four tiles of two values merge across the tile borders."""
    ts = 4
    vals = {(0, 0): 1, (1, 0): 1, (0, 1): 2, (1, 1): 1}
    tiles = spark.createDataFrame(pd.DataFrame([
        {"zoom": -1, "tile_x": tx, "tile_y": ty, "band": 1,
         "data": np.array([v], np.int32).tobytes(), "dtype": "const:int32",
         "tile_size": ts} for (tx, ty), v in vals.items()]))
    arr = np.zeros((8, 8), dtype=np.int32)
    for (tx, ty), v in vals.items():
        arr[ty * ts:(ty + 1) * ts, tx * ts:(tx + 1) * ts] = v
    gt = [0.0, 1.0, 0.0, 8.0, 0.0, -1.0]
    got = polygonize_tiles(tiles, gt, None, 4).toPandas()
    want = polygonize_array(arr, gt, None, 4)
    assert sorted(got["n_pixels"]) == [16, 48]
    assert _poly_multiset(got["value"], got["geometry"], got["n_pixels"]) \
        == _poly_multiset(want["value"], want["geometry"], want["n_pixels"])


@pytest.mark.parametrize("conn", [4, 8])
def test_polygonize_outer_edge_only_component(spark, conn):
    """A component that touches only the raster's outer edge (no tile
    border) goes through the merge, finds no partner and comes out
    whole; so does one that crosses a tile border."""
    arr = np.zeros((8, 8), dtype=np.int32)
    arr[0, 1:3] = 6              # on tile (0, 0)'s top row only
    arr[3:5, 3:5] = 7            # spans all four 4-px tiles
    gt = [0.0, 1.0, 0.0, 8.0, 0.0, -1.0]
    got = polygonize_tiles(_tiles_of(spark, arr, 4), gt, 0.0,
                           conn).toPandas()
    want = polygonize_array(arr, gt, 0.0, conn)
    assert sorted(got["n_pixels"]) == [2, 4]
    assert _poly_multiset(got["value"], got["geometry"], got["n_pixels"]) \
        == _poly_multiset(want["value"], want["geometry"], want["n_pixels"])


def _poly_multiset(values, geoms, npix):
    """(value, n_pixels, WKB bytes) multiset: byte-identical polygons."""
    return sorted((float(v), int(n), bytes(g))
                  for v, g, n in zip(values, geoms, npix))


def _distributed_vs_array(spark, arr, ts, nodata, conn):
    from gdal_spark.operators.warp import tiles_from_array

    tiles, w, h = tiles_from_array(spark, arr, tile_size=ts)
    # tiles_from_array pads the last tile row/column with zeros
    canvas = np.zeros((-(-h // ts) * ts, -(-w // ts) * ts), arr.dtype)
    canvas[:h, :w] = arr
    gt = [0.0, 1.0, 0.0, float(canvas.shape[0]), 0.0, -1.0]
    got = polygonize_tiles(tiles, gt, nodata, conn).toPandas()
    want = polygonize_array(canvas, gt, nodata, conn)
    return (_poly_multiset(got["value"], got["geometry"], got["n_pixels"]),
            _poly_multiset(want["value"], want["geometry"],
                           want["n_pixels"]))


@pytest.mark.parametrize("anti", [False, True])
@pytest.mark.parametrize("conn", [4, 8])
def test_distributed_diagonal_touch_at_tile_corner(spark, conn, anti):
    """Two pixels touching only at the corner shared by four tiles:
    one polygon under 8-connectivity, two under 4."""
    arr = np.zeros((8, 8), dtype=np.int32)
    if anti:
        arr[3, 4] = arr[4, 3] = 7
    else:
        arr[3, 3] = arr[4, 4] = 7
    got, want = _distributed_vs_array(spark, arr, 4, 0.0, conn)
    assert got == want
    areas = sorted((v, n, geom_area(parse_wkb(g))) for v, n, g in got)
    assert areas == ([(7.0, 2, 2.0)] if conn == 8
                   else [(7.0, 1, 1.0), (7.0, 1, 1.0)])


_RANDOM_CASES = [(conn, nodata, ts) for conn in (4, 8)
                 for nodata in (None, 0.0) for ts in (4, 5, 8)]


def _random_grid(i):
    rng = np.random.default_rng(1000 + i)
    h, w = int(rng.integers(9, 20)), int(rng.integers(9, 20))
    return rng.integers(0, 3, (h, w)).astype(np.float64)


@pytest.mark.parametrize("i,case", list(enumerate(_RANDOM_CASES)))
def test_distributed_polygonize_random_grids(spark, i, case):
    """Seeded random grids with cross-tile components, under both
    gates (interior polygons from the tile kernel, edge-touching ones
    assembled on the driver): the distributed (value, n_pixels, WKB)
    multiset equals polygonize_array's on the zero-padded canvas."""
    conn, nodata, ts = case
    got, want = _distributed_vs_array(spark, _random_grid(i), ts,
                                      nodata, conn)
    assert got == want


@pytest.mark.parametrize("i,case", list(enumerate(_RANDOM_CASES)))
def test_distributed_polygonize_over_assembly_cap(spark, monkeypatch, i,
                                                  case):
    """The same grids over the driver-assembly gate only: the border
    runs still pair on the driver, and the edge-touching components
    go through the mapping join, the label shuffle and the assembly
    stream — the multisets stay equal."""
    from gdal_spark.operators import polygonize as pz

    monkeypatch.setattr(pz, "DRIVER_ASSEMBLY_CAP", 1)
    conn, nodata, ts = case
    got, want = _distributed_vs_array(spark, _random_grid(i), ts,
                                      nodata, conn)
    assert got == want


@pytest.mark.parametrize("i,case", list(enumerate(_RANDOM_CASES)))
def test_distributed_polygonize_over_cap(spark, monkeypatch, i, case):
    """The same grids over both caps (driver assembly and the border
    collect at 1 row): the pairs come from the kernel grouped by border
    line and resolve through duplicate_clusters — the multisets stay
    equal."""
    from gdal_spark.operators import polygonize as pz

    monkeypatch.setattr(pz, "DRIVER_ASSEMBLY_CAP", 1)
    monkeypatch.setattr(pz, "BORDER_CAP", 1)
    conn, nodata, ts = case
    got, want = _distributed_vs_array(spark, _random_grid(i), ts,
                                      nodata, conn)
    assert got == want
