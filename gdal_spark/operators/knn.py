"""kNN: cell k-ring expansion + per-cell refine.

Distributed rendering of the reference's scattered-point neighbor
search (GDALGridNearestNeighbor, alg/gdalgrid.cpp:905-949): GDAL
grows a CPLQuadTree search radius until enough neighbors are found
and the radius guarantees no closer point exists; we do the same on
the quadtree-cell lattice, *per occupied cell* (all points in a cell
share the expansion), inside an Arrow-batched mapInPandas kernel:

  1. bucket the (broadcast) targets by cell at resolution ``res``
  2. per point-batch, group points by their cell (numpy group-by)
  3. expand rings r = 0, 1, 2, ... collecting target candidates until
     >= k candidates AND the ring's haversine lower bound exceeds the
     k-th best distance of every point in the cell (exactness proof:
     any non-candidate target is >= r cells away in Chebyshev grid
     distance => its haversine distance >= LB(r))
  4. refine: vectorized haversine point x candidate, k-smallest

The latitude-aware lower bound LB(r) accounts for mercator ground
shrink and antimeridian wrap; cells where LB cannot certify (pole /
dateline edge) fall back to scanning all targets — still vectorized,
still no shuffle.

Scale: the big point table is never shuffled and never leaves the
executor; targets are a dict of numpy arrays shipped inside the
kernel (PySpark broadcasts a kernel pickled above 1 MB).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StructField, StructType
)

from gdal_spark.functions import geo
from gdal_spark.session import kernel_name

R_EARTH = 6371008.8


def _haversine_np(lon1, lat1, lon2, lat2):
    """Vectorized haversine in meters (same formula as
    geo.HAVERSINE_SQL so engine paths agree bit-for-bit-ish)."""
    la1 = np.radians(lat1)
    la2 = np.radians(lat2)
    dla = np.radians(lat2 - lat1)
    dlo = np.radians(lon2 - lon1)
    a = np.sin(dla / 2.0) ** 2 + np.cos(la1) * np.cos(la2) * np.sin(
        dlo / 2.0) ** 2
    return 2.0 * R_EARTH * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def _lat_of_merc_y(y: float) -> float:
    y = min(max(y, -geo.ORIGIN), geo.ORIGIN)
    return float(np.degrees(2.0 * np.arctan(np.exp(y / geo.ORIGIN * np.pi))
                            - np.pi / 2.0))


def _ring_lower_bound_m(tx: int, ty: int, r: int, res: int) -> float:
    """Haversine lower bound to any target >= r cells away (Chebyshev)
    from cell (tx, ty).  0.0 when no useful bound exists (edge cells,
    dateline wrap)."""
    if r <= 0:
        return 0.0
    n = 1 << res
    span = geo.tile_span(res)
    y1 = geo.ORIGIN - ty * span          # top merc y of the cell
    y0 = y1 - span                        # bottom
    gap = r * span
    # Case |dy| >= gap: |dphi| lower bound (poleward / equatorward)
    pole_gap = np.inf
    if y1 + gap < geo.ORIGIN:
        pole_gap = np.radians(_lat_of_merc_y(y1 + gap) - _lat_of_merc_y(y1))
    eq_gap = np.inf
    if y0 - gap > -geo.ORIGIN:
        eq_gap = np.radians(_lat_of_merc_y(y0) - _lat_of_merc_y(y0 - gap))
    lb_y = R_EARTH * min(pole_gap, eq_gap)
    # Case |dx| >= gap with |dy| < (r+1)*span: both in a latitude band
    band_hi = _lat_of_merc_y(y1 + (r + 1) * span)
    band_lo = _lat_of_merc_y(y0 - (r + 1) * span)
    cos_band = min(np.cos(np.radians(band_hi)), np.cos(np.radians(band_lo)))
    dlam = gap / geo.ORIGIN * np.pi
    # antimeridian wrap: the true longitude gap may be 2*pi - dlam when
    # the grid-edge distance is large but the wrap distance is small
    x_west = -geo.ORIGIN + tx * span
    x_east = x_west + span
    wrap_gap = (x_west + geo.ORIGIN) + (geo.ORIGIN - x_east) \
        - (n - 1 - 2 * r) * 0  # grid does not wrap; candidates can't
    # cover across the dateline, so if the cell is within r of either
    # grid edge the x-bound must consider wrapped targets:
    near_edge = tx - r < 0 or tx + r >= n
    if near_edge:
        lb_x = 0.0
    else:
        eff = min(dlam, np.pi)
        lb_x = 2.0 * R_EARTH * np.arcsin(
            min(1.0, max(0.0, cos_band) * np.sin(eff / 2.0))
        )
        # wrapped distance via the other side of the grid
        other = (min(tx - 0, n - 1 - tx)) * span / geo.ORIGIN * np.pi
        lb_x_wrap = 2.0 * R_EARTH * np.arcsin(
            min(1.0, max(0.0, cos_band) * np.sin(min(other, np.pi) / 2.0))
        )
        lb_x = min(lb_x, lb_x_wrap)
    return float(min(lb_y, lb_x))


def build_target_index(targets_pdf: pd.DataFrame, res: int,
                       target_id: str = "target_id",
                       t_lon: str = "t_lon", t_lat: str = "t_lat") -> dict:
    ids = targets_pdf[target_id].to_numpy(dtype=np.int64)
    lons = targets_pdf[t_lon].to_numpy(dtype=np.float64)
    lats = targets_pdf[t_lat].to_numpy(dtype=np.float64)
    tx, ty = geo.cells_of(lons, lats, res)
    n = 1 << res
    cell = tx * n + ty
    order = np.argsort(cell, kind="stable")
    cell_s = cell[order]
    bounds = np.searchsorted(cell_s, np.unique(cell_s))
    index: dict[int, np.ndarray] = {}
    uniq = np.unique(cell_s)
    for i, c in enumerate(uniq):
        lo = bounds[i]
        hi = bounds[i + 1] if i + 1 < len(bounds) else len(cell_s)
        index[int(c)] = order[lo:hi]
    return {"index": index, "ids": ids, "lons": lons, "lats": lats,
            "res": res}


def knn_cells(
    points: DataFrame, targets_pdf: pd.DataFrame, k: int = 1,
    res: int = 4,
    point_key: str = "i", lon: str = "lon", lat: str = "lat",
    target_id: str = "target_id", t_lon: str = "t_lon", t_lat: str = "t_lat",
) -> DataFrame:
    """Exact kNN of each point against the broadcast target set.

    Output: (point_key, target_id, dist_m, rank) with rank 1..k
    (ties broken by target_id, deterministic).
    """
    tgt = build_target_index(targets_pdf, res, target_id, t_lon, t_lat)
    in_schema = points.schema
    key_type = in_schema[point_key].dataType
    if in_schema.names != [point_key, lon, lat]:
        points = points.select(point_key, lon, lat)
    schema = StructType([
        StructField(point_key, key_type),
        StructField(target_id, LongType()),
        StructField("dist_m", DoubleType()),
        StructField("rank", IntegerType()),
    ])

    @kernel_name("operators.knn.nearest")
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        index = tgt["index"]
        ids, lons, lats = tgt["ids"], tgt["lons"], tgt["lats"]
        res_ = tgt["res"]
        n = 1 << res_
        n_t = len(ids)
        kk = min(k, n_t)
        for b in batches:
            if len(b) == 0:
                continue
            if n_t <= 64:
                # tiny target set: the (batch x targets) distance
                # matrix beats any ring logic — one vectorized pass
                # (the degenerate case of the expanding search where
                # ring 0 already holds every target)
                px = b[lon].to_numpy(dtype=np.float64)
                py = b[lat].to_numpy(dtype=np.float64)
                d = _haversine_np(px[:, None], py[:, None],
                                  lons[None, :], lats[None, :])
                ord2 = np.lexsort(
                    (np.broadcast_to(ids, d.shape), d), axis=1)[:, :kk]
                rowi = np.arange(len(b))[:, None]
                sel_d = d[rowi, ord2]
                sel_id = ids[ord2]
                keys = b[point_key].to_numpy()
                yield pd.DataFrame({
                    point_key: np.repeat(keys, kk),
                    target_id: sel_id.ravel(),
                    "dist_m": sel_d.ravel(),
                    "rank": np.tile(np.arange(1, kk + 1, dtype=np.int32),
                                    len(b)),
                })
                continue
            px = b[lon].to_numpy(dtype=np.float64)
            py = b[lat].to_numpy(dtype=np.float64)
            tx, ty = geo.cells_of(px, py, res_)
            cell = tx * n + ty
            out_key, out_id, out_d, out_r = [], [], [], []
            # group points by cell: shared expansion per occupied cell
            order = np.argsort(cell, kind="stable")
            cs = cell[order]
            starts = np.flatnonzero(np.r_[True, cs[1:] != cs[:-1]])
            ends = np.r_[starts[1:], len(cs)]
            for s, e in zip(starts, ends):
                pidx = order[s:e]
                ctx, cty = int(tx[pidx[0]]), int(ty[pidx[0]])
                cand: list[np.ndarray] = []
                n_cand = 0
                r = 0
                dk = None       # current worst k-th best dist bound
                n_at_dk = -1    # candidate count dk was computed at
                while True:
                    # collect targets in ring r (Chebyshev shell)
                    shell = _shell_cells(ctx, cty, r, n)
                    for c in shell:
                        hit = index.get(c)
                        if hit is not None:
                            cand.append(hit)
                            n_cand += len(hit)
                    # after shells 0..r, non-candidates are >= r+1
                    # cells away (Chebyshev), so their merc-plane gap
                    # is >= r*span: bound with gap argument r
                    lb = _ring_lower_bound_m(ctx, cty, r, res_)
                    if n_cand >= kk:
                        # recompute the bound only when this ring added
                        # candidates — empty rings reuse the cached dk
                        if n_cand != n_at_dk:
                            allc = np.concatenate(cand)
                            d = _haversine_np(
                                px[pidx][:, None], py[pidx][:, None],
                                lons[allc][None, :], lats[allc][None, :],
                            )
                            kth = np.partition(d, kk - 1, axis=1)[:, kk - 1]
                            dk = kth.max()
                            n_at_dk = n_cand
                        if lb > dk:
                            break
                    if r >= 2 * n:
                        break
                    r += 1
                    if r >= n:  # expansion exhausted the grid: full scan
                        cand = [np.arange(n_t)]
                        n_cand = n_t
                        allc = np.arange(n_t)
                        d = _haversine_np(
                            px[pidx][:, None], py[pidx][:, None],
                            lons[None, :], lats[None, :],
                        )
                        break
                allc = np.concatenate(cand) if len(cand) else np.arange(0)
                allc = np.unique(allc)
                d = _haversine_np(
                    px[pidx][:, None], py[pidx][:, None],
                    lons[allc][None, :], lats[allc][None, :],
                )
                # k-smallest with (dist, id) tie-break
                ord2 = np.lexsort((ids[allc][None, :].repeat(len(pidx), 0),
                                   d), axis=1)[:, :kk]
                rowi = np.arange(len(pidx))[:, None]
                sel_d = d[rowi, ord2]
                sel_id = ids[allc][ord2]
                for j in range(kk):
                    out_key.extend(b[point_key].to_numpy()[pidx])
                    out_id.extend(sel_id[:, j])
                    out_d.extend(sel_d[:, j])
                    out_r.extend([j + 1] * len(pidx))
            yield pd.DataFrame({
                point_key: out_key,
                target_id: np.array(out_id, dtype=np.int64),
                "dist_m": np.array(out_d, dtype=np.float64),
                "rank": np.array(out_r, dtype=np.int32),
            })

    return points.mapInPandas(kernel, schema)


def _shell_cells(tx: int, ty: int, r: int, n: int) -> list[int]:
    """Cells at exactly Chebyshev distance r (clamped to grid)."""
    if r == 0:
        return [tx * n + ty]
    out = []
    for dx in range(-r, r + 1):
        nx = tx + dx
        if not (0 <= nx < n):
            continue
        if abs(dx) == r:
            for dy in range(-r, r + 1):
                ny = ty + dy
                if 0 <= ny < n:
                    out.append(nx * n + ny)
        else:
            for dy in (-r, r):
                ny = ty + dy
                if 0 <= ny < n:
                    out.append(nx * n + ny)
    return out


def knn_bruteforce(
    points: DataFrame, targets_pdf: pd.DataFrame, k: int = 1,
    point_key: str = "i", lon: str = "lon", lat: str = "lat",
    target_id: str = "target_id", t_lon: str = "t_lon", t_lat: str = "t_lat",
) -> DataFrame:
    """Broadcast nested-loop kNN baseline (exact by construction;
    JVM-side haversine + window top-k)."""
    spark = points.sparkSession
    tgt = F.broadcast(spark.createDataFrame(targets_pdf))
    joined = points.crossJoin(tgt).withColumn(
        "dist_m", geo.haversine_m(lon, lat, t_lon, t_lat)
    )
    w = Window.partitionBy(point_key).orderBy("dist_m", target_id)
    return (
        joined.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(point_key, target_id, "dist_m", "rank")
    )
