"""Polygonize: raster -> vector polygons (distributed CCL + merge).

Re-creates GDALPolygonize (alg/polygonize.cpp:71-80 driver,
alg/gdalrasterpolygonenumerator.cpp:209-301 two-row labeling with
union-find merge, alg/polygonize_polygonizer.cpp ring assembly):

* per-tile connected-component labeling of equal-valued pixels
  (4- or 8-connected; nodata masked), via row-run union-find — the
  same run-merge structure as the reference's ProcessLine;
* a component is assembled where it is complete, as the reference
  emits a polygon once its component is closed: one that touches
  none of its tile's edge rows or columns is complete inside the
  tile and is assembled by the tile kernel; only the runs of
  edge-touching components pay the cross-tile merge;
* cross-tile merge: the runs on a tile's edge rows or columns are
  paired on the driver in numpy (_border_pairs) and components
  resolve by vectorized min-label propagation with pointer jumping
  (_label_roots).  Two gates decide where: up to DRIVER_ASSEMBLY_CAP
  edge-touching runs are collected once and assembled on the driver;
  past it, the border runs are collected (up to BORDER_CAP rows,
  duplicate_clusters' cap), the label -> root mapping rides a
  broadcast join and the runs hash by label to a sorted assembly
  stream; past BORDER_CAP too, the pairs come from a kernel grouped
  by border line and resolve through dedup.duplicate_clusters;
* polygons are assembled from each global component's pixel *runs*
  (y, x0, x1), sorted by (label, y, x0) (polygon_rows): boundary
  edges are stitched into closed rings; at vertex pinches (boundaries
  meeting at a pixel corner) the walk always takes the tightest turn
  — because hole boundaries run with opposite orientation to outer
  boundaries, this single rule keeps corner-touching holes as
  separate rings (the reference's test_polygonize_5 golden) while
  carrying an 8-connected label's outer boundary through its own
  diagonal self-touches; then georeferenced via the geotransform.
  Every path assembles in global pixel coordinates, so a polygon's
  WKB does not depend on the path or the tiling.

Output: (value:double, geometry:binary WKB polygon, n_pixels:long).
Ring equality with the reference is up to rotation/orientation; tests
compare canonicalized rings against the reference's documented golden
(autotest/alg/polygonize.py::test_polygonize_1).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StructField,
    StructType,
)

from gdal_spark.geometry.wkb import polygon_wkb
from gdal_spark.operators.dedup import (
    COLLECT_CAP, duplicate_clusters, min_label_roots,
)
from gdal_spark.operators.tiling import decode_tile
from gdal_spark.session import kernel_name, spread_for_kernel


# --------------------------------------------------------------------
# single-tile CCL (numpy union-find over row runs)
# --------------------------------------------------------------------

class _UF:
    __slots__ = ("parent",)

    def __init__(self, n: int):
        self.parent = np.arange(n, dtype=np.int64)

    def find(self, x: int) -> int:
        p = self.parent
        root = x
        while p[root] != root:
            root = p[root]
        while p[x] != root:
            p[x], x = root, p[x]
        return root

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # merge into the smaller id (GDAL merges keep the lower
            # polygon id alive, gdalrasterpolygonenumerator.cpp)
            if ra < rb:
                self.parent[rb] = ra
            else:
                self.parent[ra] = rb


def label_tile(arr: np.ndarray, nodata: float | None = None,
               connectedness: int = 4) -> tuple[np.ndarray, int]:
    """Label equal-value connected components; -1 for nodata.

    Returns (labels int64 HxW, n_runs)."""
    h, w = arr.shape
    valid = np.ones((h, w), dtype=bool)
    if nodata is not None:
        if np.issubdtype(arr.dtype, np.floating):
            valid = ~(np.isnan(arr) | (arr == nodata))
        else:
            valid = arr != nodata
    # row runs: run starts where value changes or invalid boundary
    newrun = np.ones((h, w), dtype=bool)
    newrun[:, 1:] = (arr[:, 1:] != arr[:, :-1]) | (~valid[:, 1:]) \
        | (~valid[:, :-1])
    run_id = np.cumsum(newrun.ravel()).reshape(h, w) - 1
    n_runs = int(run_id.max()) + 1 if h * w else 0
    # vertical adjacency edges (4-conn; diagonals for 8-conn); roots
    # become the MIN run id, a relabeling that leaves every component
    # partition — and thus every polygon — unchanged
    us = [np.zeros(0, np.int64)]
    vs = [np.zeros(0, np.int64)]
    if h > 1:
        eq = (arr[1:, :] == arr[:-1, :]) & valid[1:, :] & valid[:-1, :]
        us.append(run_id[1:, :][eq])
        vs.append(run_id[:-1, :][eq])
        if connectedness == 8:
            eq = (arr[1:, 1:] == arr[:-1, :-1]) & valid[1:, 1:] \
                & valid[:-1, :-1]
            us.append(run_id[1:, 1:][eq])
            vs.append(run_id[:-1, :-1][eq])
            eq = (arr[1:, :-1] == arr[:-1, 1:]) & valid[1:, :-1] \
                & valid[:-1, 1:]
            us.append(run_id[1:, :-1][eq])
            vs.append(run_id[:-1, 1:][eq])
    roots = min_label_roots(n_runs, np.concatenate(us), np.concatenate(vs))
    labels = roots[run_id]
    labels[~valid] = -1
    return labels, n_runs


def runs_of_labels(labels: np.ndarray) -> tuple[np.ndarray, np.ndarray,
                                                np.ndarray, np.ndarray]:
    """Extract pixel runs: (label, y, x0, x1_exclusive) arrays.

    One vectorized pass over the flattened grid (row starts forced
    to run starts, so no run crosses a row) — same output arrays in
    the same row-major order as the per-row loop it replaces."""
    h, w = labels.shape
    if h * w == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z.copy(), z.copy(), z.copy()
    flat = labels.ravel()
    sm = np.empty(h * w, dtype=bool)
    sm[0] = True
    sm[1:] = flat[1:] != flat[:-1]
    sm[::w] = True
    starts = np.flatnonzero(sm)
    ends = np.concatenate((starts[1:], [h * w]))
    lab = flat[starts]
    keep = lab >= 0
    ys = starts // w
    return (lab[keep].astype(np.int64), ys[keep].astype(np.int64),
            (starts - ys * w)[keep].astype(np.int64),
            (ends - ys * w)[keep].astype(np.int64))


# --------------------------------------------------------------------
# ring assembly from runs
# --------------------------------------------------------------------

def _interval_difference(a0, a1, b0, b1):
    """Sub-intervals of [a0, a1) not covered by sorted disjoint
    intervals (b0[i], b1[i])."""
    out = []
    cur = a0
    for s, e in zip(b0, b1):
        if e <= cur:
            continue
        if s >= a1:
            break
        if s > cur:
            out.append((cur, min(s, a1)))
        cur = max(cur, e)
        if cur >= a1:
            break
    if cur < a1:
        out.append((cur, a1))
    return out


def rings_from_runs(ys: np.ndarray, x0s: np.ndarray, x1s: np.ndarray,
                    connectedness: int = 4) -> list[np.ndarray]:
    """Stitch the boundary of a run set into closed rings (pixel
    corner coordinates, y-down)."""
    by_row: dict[int, list[tuple[int, int]]] = {}
    for y, a, b in zip(ys, x0s, x1s):
        by_row.setdefault(int(y), []).append((int(a), int(b)))
    for y in by_row:
        by_row[y].sort()
        # coalesce intervals split at tile boundaries — a run cut in
        # two by the tiling must not produce internal vertical edges
        merged: list[tuple[int, int]] = []
        for s, e in by_row[y]:
            if merged and s <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], e))
            else:
                merged.append((s, e))
        by_row[y] = merged
    edge_pool: dict[tuple[int, int], list[tuple[int, int]]] = {}

    def add_edge(p, q):
        edge_pool.setdefault(p, []).append(q)

    for y, ivs in by_row.items():
        above = by_row.get(y - 1, [])
        below = by_row.get(y + 1, [])
        a0 = np.array([i[0] for i in above])
        a1 = np.array([i[1] for i in above])
        b0 = np.array([i[0] for i in below])
        b1 = np.array([i[1] for i in below])
        for (s, e) in ivs:
            # top edges (rightward), split by coverage of row above
            for (ts, te) in _interval_difference(s, e, a0, a1):
                add_edge((ts, y), (te, y))
            # bottom edges (leftward)
            for (bs, be) in _interval_difference(s, e, b0, b1):
                add_edge((be, y + 1), (bs, y + 1))
            # left vertical (upward), right vertical (downward),
            # split by horizontal adjacency with same-row neighbors
            add_edge((s, y + 1), (s, y))
            add_edge((e, y), (e, y + 1))

    rings: list[np.ndarray] = []
    # deterministic walk order
    for start in sorted(edge_pool):
        while edge_pool.get(start):
            first = edge_pool[start].pop(
                edge_pool[start].index(sorted(edge_pool[start])[0]))
            ring = [start, first]
            cur = first
            din = (first[0] - start[0], first[1] - start[1])
            guard = 0
            while cur != start:
                guard += 1
                if guard > 4_000_000:
                    raise RuntimeError("ring walk did not close")
                outs = edge_pool.get(cur)
                if not outs:
                    raise RuntimeError("dangling boundary edge")
                if len(outs) == 1:
                    nxt = outs.pop()
                else:
                    def angle(q):
                        dout = (q[0] - cur[0], q[1] - cur[1])
                        cross = din[0] * dout[1] - din[1] * dout[0]
                        dot = din[0] * dout[0] + din[1] * dout[1]
                        return float(np.arctan2(cross, dot))

                    outs.sort(key=angle)
                    nxt = outs.pop(0)
                ring.append(nxt)
                din = (nxt[0] - cur[0], nxt[1] - cur[1])
                cur = nxt
            arr = np.array(ring, dtype=np.float64)
            # collapse collinear vertices
            keep = np.ones(len(arr), dtype=bool)
            d = np.diff(arr, axis=0)
            same_dir = (d[1:, 0] * d[:-1, 1] == d[1:, 1] * d[:-1, 0])
            keep[1:-1] = ~same_dir
            arr = arr[keep]
            if not np.array_equal(arr[0], arr[-1]):
                arr = np.vstack([arr, arr[:1]])
            # drop collinear through the closure vertex
            if len(arr) > 3:
                d0 = arr[1] - arr[0]
                dn = arr[-1] - arr[-2]
                if d0[0] * dn[1] == d0[1] * dn[0]:
                    arr = np.vstack([arr[1:-1], arr[1:2]])
            rings.append(arr)
    return rings


def _ring_signed_area(r: np.ndarray) -> float:
    x, y = r[:, 0], r[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def assemble_polygons(ys, x0s, x1s, gt: list[float],
                      connectedness: int = 4
                      ) -> list[tuple[list[np.ndarray], int]]:
    """Runs -> list of (polygon rings [outer, holes...] in georef
    coords, pixel count attributed to that polygon)."""
    ys, x0s, x1s = np.asarray(ys), np.asarray(x0s), np.asarray(x1s)
    rings = rings_from_runs(ys, x0s, x1s, connectedness)
    geo_rings = []
    for r in rings:
        gx = gt[0] + r[:, 0] * gt[1] + r[:, 1] * gt[2]
        gy = gt[3] + r[:, 0] * gt[4] + r[:, 1] * gt[5]
        geo_rings.append(np.column_stack([gx, gy]))
    # y-down pixel space: outer rings have negative... determine by
    # even-odd nesting: ring is a hole iff contained in an odd number
    # of other rings
    outers: list[tuple[np.ndarray, list[np.ndarray]]] = []
    holes: list[np.ndarray] = []
    from gdal_spark.geometry.pip import points_in_rings

    for i, r in enumerate(rings):
        pt = r[0] + (r[1] - r[0]) * 0.5  # midpoint of first edge
        # nudge inward perpendicular to the edge
        d = r[1] - r[0]
        nrm = np.array([-d[1], d[0]])
        nrm = nrm / max(np.hypot(*nrm), 1e-12) * 1e-3
        inside_cnt = 0
        for j, other in enumerate(rings):
            if i == j:
                continue
            if points_in_rings(np.array([pt[0] + nrm[0], pt[0] - nrm[0]]),
                               np.array([pt[1] + nrm[1], pt[1] - nrm[1]]),
                               [other]).all():
                inside_cnt += 1
        if inside_cnt % 2 == 1:
            holes.append(i)
        else:
            outers.append(i)
    polys: list[list[np.ndarray]] = []
    poly_px_outer: list[int] = []
    owner: dict[int, int] = {}
    for oi in outers:
        polys.append([geo_rings[oi]])
        poly_px_outer.append(oi)
        owner[oi] = len(polys) - 1
    for hi in holes:
        # assign hole to the smallest containing outer
        best, best_area = None, np.inf
        pt = rings[hi][0]
        for oi in outers:
            if points_in_rings(np.array([pt[0] + 0.001]),
                               np.array([pt[1] + 0.001]),
                               [rings[oi]])[0]:
                a = abs(_ring_signed_area(rings[oi]))
                if a < best_area:
                    best, best_area = oi, a
        if best is not None:
            polys[owner[best]].append(geo_rings[hi])
        else:
            polys.append([geo_rings[hi]])
            poly_px_outer.append(hi)
    # per-polygon pixel counts: attribute each run to the smallest
    # containing outer ring (the usual case is one polygon per label,
    # which skips the PIP work entirely)
    lens = x1s - x0s
    if len(polys) == 1:
        npix = [int(lens.sum())]
    else:
        npix = [0] * len(polys)
        cx = x0s.astype(np.float64) + 0.5
        cy = ys.astype(np.float64) + 0.5
        assigned = np.zeros(len(cx), dtype=bool)
        order = sorted(
            range(len(polys)),
            key=lambda p: abs(_ring_signed_area(rings[poly_px_outer[p]])))
        for p in order:
            inside = points_in_rings(cx, cy, [rings[poly_px_outer[p]]])
            take = inside & ~assigned
            npix[p] = int(lens[take].sum())
            assigned |= take
        if not assigned.all():
            npix[order[-1]] += int(lens[~assigned].sum())
    return list(zip(polys, npix))


def polygon_rows(runs: pd.DataFrame, gt: list[float],
                 connectedness: int = 4) -> pd.DataFrame:
    """Runs (label, value, y, x0, x1) -> POLY_SCHEMA rows, one per
    polygon: the one loop from runs to polygons, shared by
    polygonize_array, the tile kernel, the driver merge and the
    over-gate assembly stream.  Runs are sorted by (label, y, x0), the
    order the stream's sortWithinPartitions feeds them, and each
    label's span goes to assemble_polygons."""
    cols = [runs[c].to_numpy() for c in ("label", "value", "y", "x0", "x1")]
    order = np.lexsort((cols[3], cols[2], cols[0]))
    lab, val, y, x0, x1 = (c[order] for c in cols)
    starts = np.flatnonzero(np.r_[True, lab[1:] != lab[:-1]]) \
        if len(lab) else np.zeros(0, np.int64)
    ends = np.r_[starts[1:], len(lab)]
    vals, geoms, npix = [], [], []
    for s, e in zip(starts, ends):
        for rings, n in assemble_polygons(y[s:e], x0[s:e], x1[s:e], gt,
                                          connectedness):
            vals.append(float(val[s]))
            geoms.append(polygon_wkb(rings))
            npix.append(n)
    return pd.DataFrame({"value": np.array(vals, np.float64),
                         "geometry": pd.Series(geoms, dtype=object),
                         "n_pixels": np.array(npix, np.int64)})


# --------------------------------------------------------------------
# distributed operator
# --------------------------------------------------------------------

RUNS_SCHEMA = StructType([
    StructField("label", LongType()),      # tile-qualified label
    StructField("value", DoubleType()),
    StructField("y", LongType()),          # global pixel row
    StructField("x0", LongType()),
    StructField("x1", LongType()),
    StructField("ts", IntegerType()),      # tile size (no probe job)
])

POLY_SCHEMA = StructType([
    StructField("value", DoubleType()),
    StructField("geometry", BinaryType()),
    StructField("n_pixels", LongType()),
])

# the polygonize tile kernel's rows: the runs of its edge-touching
# components (geometry null) and the polygons of its interior ones
# (run columns null)
TILE_OUT_SCHEMA = StructType(RUNS_SCHEMA.fields + POLY_SCHEMA.fields[1:])


BORDER_CAP = COLLECT_CAP     # border runs the driver merge collects

# edge-touching runs the driver assembles itself (collect, merge,
# polygon_rows); past this many the parallel stream wins.  Measured on
# a 4-vCPU guest, local[3], warm session, merge stage alone on the same
# checkpointed kernel output.  Worst case, uniform 3-value noise at
# 64-px tiles (~2.5 runs per polygon, ~64 us per run on the driver):
# driver 0.26 / 0.86 / 1.91 s against stream 0.51 / 0.78 / 1.07 s at
# 3.4k / 13.7k / 31k runs, break-even near 11k.  The raster_algebra
# raster upscaled (few large polygons, ~5 us per run) still favours
# the driver at 58k runs: 0.32 s against 0.60 s.
DRIVER_ASSEMBLY_CAP = 10_000


def _tile_runs(b: pd.DataFrame, nodata: float | None,
               connectedness: int) -> Iterator[tuple[pd.DataFrame,
                                                     np.ndarray]]:
    """Per tile of a TILE_SCHEMA batch: its labeled runs (RUNS_SCHEMA
    columns; global pixels, labels qualified by the tile) and a per-run
    flag, True where the run's component has a pixel on the tile's row
    0, row ts-1, column 0 or column ts-1.  A component without one is
    complete inside the tile under 4- and 8-connectivity alike: a
    diagonal touch across a tile corner needs a corner pixel."""
    for ts, tx, ty, data, dtype in zip(b["tile_size"], b["tile_x"],
                                       b["tile_y"], b["data"], b["dtype"]):
        ts, tx, ty = int(ts), int(tx), int(ty)
        arr = decode_tile(data, dtype, ts)
        labels, n_runs = label_tile(arr, nodata, connectedness)
        ls, ys, x0s, x1s = runs_of_labels(labels)
        if len(ls) == 0:
            continue
        touch = np.zeros(n_runs, dtype=bool)
        touch[ls[(ys == 0) | (ys == ts - 1) | (x0s == 0)
                 | (x1s == ts)]] = True
        yield pd.DataFrame({
            "label": ((tx * (1 << 20) + ty) << 24) + ls,
            "value": arr[ys, x0s].astype(np.float64),
            "y": ys + ty * ts, "x0": x0s + tx * ts, "x1": x1s + tx * ts,
            "ts": np.full(len(ls), ts, np.int32),
        }), touch[ls]


def _overlap_pairs(kp, p0, p1, ks, s0, s1):
    """Index pairs (i, j) with kp[i] == ks[j] whose half-open intervals
    [p0[i], p1[i]) and [s0[j], s1[j]) overlap.  The s-intervals of one
    key must be disjoint: sorted by (key, start), their ends sort too,
    so each probe's matches are one searchsorted range."""
    _, g = np.unique(np.concatenate([kp, ks]), return_inverse=True)
    base = min(p0.min(initial=0), s0.min(initial=0))
    width = max(p1.max(initial=0), s1.max(initial=0)) - base + 1
    gp, gs = g[:len(kp)] * width - base, g[len(kp):] * width - base
    order = np.lexsort((s0, gs))
    lo = np.searchsorted((gs + s1)[order], gp + p0, side="right")
    hi = np.searchsorted((gs + s0)[order], gp + p1, side="left")
    cnt = hi - lo
    i = np.repeat(np.arange(len(kp)), cnt)
    j = np.repeat(lo - (np.cumsum(cnt) - cnt), cnt) + np.arange(len(i))
    return i, order[j]


def _border_pairs(pdf: pd.DataFrame, ts: int,
                  connectedness: int = 4) -> pd.DataFrame:
    """Label pairs (a, b) of equal-valued runs adjacent across a tile
    border — the single definition of cross-tile adjacency.

    ``pdf`` holds runs (label, value, y, x0, x1) in global pixels.
    Horizontal borders: a run in row y (y % ts == 0) meets a run in
    row y - 1 whose x span overlaps it — strictly under 4-connectivity,
    touching ends included under 8.  Vertical borders: a run starting
    at column c (c % ts == 0) meets a run ending at c in a row at most
    ``d`` away (0 under 4-, 1 under 8-connectivity).  Runs of one pixel
    row are disjoint, so each side of a border line is a sorted
    interval list and the match is vectorized (no loop per run)."""
    lab, y, x0, x1 = (pdf[c].to_numpy(np.int64)
                      for c in ("label", "y", "x0", "x1"))
    _, code = np.unique(pdf["value"].to_numpy(np.float64),
                        return_inverse=True)
    # group key (value, border line): lines are rows or columns < span
    span = max(y.max(initial=0), x1.max(initial=0)) + 2
    key = code.astype(np.int64) * span
    d = 1 if connectedness == 8 else 0
    # horizontal: top-row runs probe the bottom-row runs above them
    t = np.flatnonzero(y % ts == 0)
    b = np.flatnonzero((y + 1) % ts == 0)
    i, j = _overlap_pairs(key[t] + y[t], x0[t] - d, x1[t] + d,
                          key[b] + y[b] + 1, x0[b], x1[b])
    # vertical: right-edge runs probe the left-edge runs starting there
    r = np.flatnonzero(x1 % ts == 0)
    le = np.flatnonzero(x0 % ts == 0)
    k, m = _overlap_pairs(key[r] + x1[r], y[r] - d, y[r] + 1 + d,
                          key[le] + x0[le], y[le], y[le] + 1)
    return pd.DataFrame({"a": np.concatenate([lab[t[i]], lab[le[m]]]),
                         "b": np.concatenate([lab[b[j]], lab[r[k]]])})


def _label_roots(pdf: pd.DataFrame, ts: int,
                 connectedness: int) -> tuple[np.ndarray, np.ndarray]:
    """The driver's cross-tile merge of collected runs: _border_pairs,
    then min-label propagation.  Returns (label, root) of every label
    whose root is another label, sorted by label."""
    pairs = _border_pairs(pdf, ts, connectedness)
    nodes, inv = np.unique(np.concatenate([pairs["a"], pairs["b"]]),
                           return_inverse=True)
    root = nodes[min_label_roots(len(nodes), inv[:len(pairs)],
                                 inv[len(pairs):])]
    moved = root != nodes
    return nodes[moved], root[moved]


def _merge_runs(runs: DataFrame, tiles: DataFrame,
                connectedness: int) -> tuple[DataFrame, int]:
    """Stage 2 over a checkpointed RUNS_SCHEMA frame: the runs on tile
    edge rows and columns are collected once through the
    bounded-collect gate (BORDER_CAP) and merged on the driver
    (_label_roots); the label -> root mapping rides a broadcast join.
    Over the cap the same pairing runs in a kernel grouped by border
    line and resolves through dedup.duplicate_clusters."""
    # the tile size rides in the collected rows: no probe job unless
    # no run touches a border
    ts, y, x0, x1 = F.col("ts"), F.col("y"), F.col("x0"), F.col("x1")
    border = runs.filter((y % ts == 0) | ((y + 1) % ts == 0)
                         | (x0 % ts == 0) | (x1 % ts == 0))
    pdf = border.limit(BORDER_CAP + 1).toPandas()
    if len(pdf):
        tile_size = int(pdf["ts"].iloc[0])
    else:
        ts_row = (runs.select("ts").first()
                  or tiles.select("tile_size").first())
        tile_size = int(ts_row[0]) if ts_row else 256
    spark = runs.sparkSession
    if len(pdf) <= BORDER_CAP:
        nodes, root = _label_roots(pdf, tile_size, connectedness)
        if not len(nodes):
            return runs.drop("ts"), tile_size
        mapping = F.broadcast(spark.createDataFrame(
            pd.DataFrame({"label": nodes, "root": root}),
            "label long, root long").coalesce(1))
    else:
        # over the cap: the same pairing per border line (rows as y,
        # columns as -1 - x; a run can sit on up to four lines)
        line = F.explode(F.array(
            F.when(y % ts == 0, y), F.when((y + 1) % ts == 0, y + 1),
            F.when(x0 % ts == 0, -1 - x0), F.when(x1 % ts == 0, -1 - x1)))
        pairs = (
            border.select("*", line.alias("line")).dropna(subset=["line"])
            .repartition(spark.sparkContext.defaultParallelism, "line")
            .groupBy("line").applyInPandas(
                lambda g: _border_pairs(g, tile_size, connectedness),
                "a long, b long")
        )
        mapping = duplicate_clusters(pairs, "a", "b").select(
            F.col("doc_id").alias("label"), F.col("cluster_id").alias("root"))
    global_runs = (
        runs.join(mapping, "label", "left")
        .select(
            F.coalesce("root", F.col("label")).alias("label"),
            "value", "y", "x0", "x1",
        )
    )
    return global_runs, tile_size


def global_label_runs(
    tiles: DataFrame, nodata: float | None = None,
    connectedness: int = 4,
) -> tuple[DataFrame, int]:
    """Every labeled run with its globally merged label (sieve's
    input): the per-tile CCL kernel emits all runs of every tile into
    one localCheckpoint, then _merge_runs resolves the cross-tile
    labels — border runs collected once (up to BORDER_CAP) and paired
    on the driver, or over the cap paired per border line and resolved
    by dedup.duplicate_clusters.

    Returns (runs with globally-merged labels, tile_size)."""

    @kernel_name("operators.polygonize.label_runs")
    def label_runs(batches: Iterator[pd.DataFrame]
                   ) -> Iterator[pd.DataFrame]:
        for b in batches:
            frames = [runs for runs, _edge in
                      _tile_runs(b, nodata, connectedness)]
            if frames:
                yield pd.concat(frames, ignore_index=True)

    # ONE materialization of the per-tile CCL (it feeds the border
    # collect and the label join): localCheckpoint, not .cache() — no
    # unpersist point exists after return (r6 minhash leak class)
    runs = tiles.mapInPandas(label_runs, RUNS_SCHEMA).localCheckpoint()
    return _merge_runs(runs, tiles, connectedness)


def polygonize_tiles(
    tiles: DataFrame, gt: list[float], nodata: float | None = None,
    connectedness: int = 4,
) -> DataFrame:
    """Distributed polygonize over a tile DataFrame (TILE_SCHEMA).

    Stage 1, the tile kernel (``operators.polygonize.tile``, at the
    spread_for_kernel width): per-tile CCL; the polygons of every
    component that touches none of the tile's edge rows or columns
    are assembled in place, and only the runs of edge-touching
    components pass on.  One localCheckpoint holds both; an
    accumulator counts the edge runs.
    Stage 2, the merge of the edge runs, picked by that count:
    * none: the interior polygons are the result (no further job);
    * up to DRIVER_ASSEMBLY_CAP: one collect, _label_roots and
      polygon_rows on the driver, and the interior polygons
      unionByName that small local frame (no broadcast, no shuffle);
    * over it: _merge_runs (border collect up to BORDER_CAP, else
      duplicate_clusters), a label-hash shuffle to defaultParallelism
      and the label-sorted assembly stream
      (``operators.polygonize.assemble``).
    """
    spark = tiles.sparkSession
    n_edge = spark.sparkContext.accumulator(0)

    @kernel_name("operators.polygonize.tile")
    def polygonize_tile(batches: Iterator[pd.DataFrame]
                        ) -> Iterator[pd.DataFrame]:
        for b in batches:
            edge_runs, polys = [], []
            for runs, edge in _tile_runs(b, nodata, connectedness):
                edge_runs.append(runs[edge])
                polys.append(polygon_rows(runs[~edge], gt, connectedness))
            if not polys:
                continue
            edge_runs = pd.concat(edge_runs, ignore_index=True)
            n_edge.add(len(edge_runs))
            yield edge_runs.assign(geometry=None, n_pixels=None)
            yield pd.concat(polys, ignore_index=True).assign(
                label=None, y=None, x0=None, x1=None, ts=None)

    out = (spread_for_kernel(tiles)
           .mapInPandas(polygonize_tile, TILE_OUT_SCHEMA)
           .localCheckpoint())
    geometry = F.col("geometry")
    interior = out.filter(geometry.isNotNull()).select(*POLY_SCHEMA.names)
    if n_edge.value == 0:
        return interior
    edge = out.filter(geometry.isNull())
    if n_edge.value <= DRIVER_ASSEMBLY_CAP:
        pdf = edge.toPandas()
        nodes, root = _label_roots(pdf, int(pdf["ts"].iloc[0]),
                                   connectedness)
        if len(nodes):
            lab = pdf["label"].to_numpy()
            i = np.searchsorted(nodes, lab).clip(max=len(nodes) - 1)
            pdf["label"] = np.where(nodes[i] == lab, root[i], lab)
        return interior.unionByName(spark.createDataFrame(
            polygon_rows(pdf, gt, connectedness), POLY_SCHEMA))

    global_runs, _ = _merge_runs(edge.select(*RUNS_SCHEMA.names), tiles,
                                 connectedness)

    # hash repartition + sortWithinPartitions + mapInPandas stream
    # (groupBy().applyInPandas pays ~ms per group), one task per slot
    @kernel_name("operators.polygonize.assemble")
    def assemble_stream(batches: Iterator[pd.DataFrame]
                        ) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for b in batches:
            if carry is not None:
                b = pd.concat([carry, b], ignore_index=True)
                carry = None
            if len(b) == 0:
                continue
            # the last label may continue in the next batch of this
            # (label-sorted) partition — hold it back
            labs = b["label"].to_numpy()
            cut = int(np.searchsorted(labs, labs[-1], side="left"))
            carry = b.iloc[cut:]
            if cut:
                yield polygon_rows(b.iloc[:cut], gt, connectedness)
        if carry is not None and len(carry):
            yield polygon_rows(carry, gt, connectedness)

    nparts = spark.sparkContext.defaultParallelism
    return interior.unionByName(
        global_runs.repartition(nparts, "label")
        .sortWithinPartitions("label", "y", "x0")
        .mapInPandas(assemble_stream, POLY_SCHEMA))


def polygonize_array(arr: np.ndarray, gt: list[float],
                     nodata: float | None = None,
                     connectedness: int = 4) -> pd.DataFrame:
    """Single-array reference path (tests / small rasters)."""
    labels, _ = label_tile(arr, nodata, connectedness)
    ls, ys, x0s, x1s = runs_of_labels(labels)
    return polygon_rows(pd.DataFrame({
        "label": ls, "value": arr[ys, x0s].astype(np.float64),
        "y": ys, "x0": x0s, "x1": x1s}), gt, connectedness)
