"""Grid interpolation (scattered points -> raster) and raster
sampling at points.

Re-creates the reference's gridding catalog (alg/gdalgrid.h:31-87;
invdist / invdistnn / nearest / average + the data metrics
minimum / maximum / range / count / average_distance) and its
interpolate-at-point API (alg/gdal_interpolateatpoint.cpp:165/415):

* gdalgrid searches neighbors with a CPLQuadTree + expanding radius
  (alg/gdalgrid.cpp:922-949); here each input point is replicated to
  every output tile whose (radius-padded) bbox contains it — a pure
  JVM explode over the tile ranges — and each tile interpolates its
  own pixel grid from its gathered points with one vectorized
  (pixels x points) distance computation;
* sample_at_points is the inverse join: points -> owning tile ->
  per-tile gather + near/bilinear sampling (the tile is haloed one
  pixel so bilinear works across borders).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, LongType, StructField, StructType
)

from gdal_spark.operators.halo import assemble_halo_canvas, emit_halos
from gdal_spark.operators.rasterize import GridSpec
from gdal_spark.operators.tiling import TILE_SCHEMA, encode_tile
from gdal_spark.session import kernel_name

_CHUNK = 1 << 21


def grid_interpolate(
    points: DataFrame, grid: GridSpec,
    algorithm: str = "invdist",
    x_col: str = "x", y_col: str = "y", v_col: str = "v",
    radius: float = 0.0, power: float = 2.0, smoothing: float = 0.0,
    nodata: float = 0.0, tile_size: int = 256,
    codec: str | None = None, max_points: int = 12,
) -> DataFrame:
    """Interpolate scattered (x, y, v) onto ``grid`` -> tile rows.

    ``radius`` = 0 means all points participate (GDALGridInverse
    DistanceToAPower semantics for radius1=radius2=0) — executed as
    per-point-partition partial rasters + one reduce shuffle, never a
    cross join.  With a radius, points are gathered per tile from the
    padded neighborhood (a bounded JVM explode).
    """
    ts = tile_size
    n_tx = (grid.width + ts - 1) // ts
    n_ty = (grid.height + ts - 1) // ts

    if radius <= 0.0:
        # unbounded search: NEVER a cross join — the math decomposes
        # over point partitions (see _grid_all_points)
        return _grid_all_points(points, grid, algorithm, x_col, y_col,
                                v_col, power, smoothing, nodata, ts,
                                codec)

    px = (F.col(x_col) - F.lit(grid.x0)) / F.lit(grid.px_w)
    py = (F.lit(grid.y1) - F.col(y_col)) / F.lit(grid.px_h)
    rpx = radius / grid.px_w
    rpy = radius / grid.px_h
    tx0 = F.greatest(F.floor((px - rpx) / ts), F.lit(0))
    tx1 = F.least(F.floor((px + rpx) / ts), F.lit(n_tx - 1))
    ty0 = F.greatest(F.floor((py - rpy) / ts), F.lit(0))
    ty1 = F.least(F.floor((py + rpy) / ts), F.lit(n_ty - 1))
    staged = (
        points.select(
            F.col(x_col).alias("x"), F.col(y_col).alias("y"),
            F.col(v_col).alias("v"),
            F.explode(F.sequence(tx0.cast("long"), tx1.cast("long")))
            .alias("tile_x"),
            ty0.cast("long").alias("_ty0"), ty1.cast("long").alias("_ty1"),
        )
        .select(
            "x", "y", "v", "tile_x",
            F.explode(F.sequence("_ty0", "_ty1")).alias("tile_y"),
        )
    )

    gx0, gy1, pw, ph = grid.x0, grid.y1, grid.px_w, grid.px_h
    gw, gh = grid.width, grid.height

    def render(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        w = min(ts, gw - tx * ts)
        h = min(ts, gh - ty * ts)
        jj, ii = np.mgrid[0:h, 0:w]
        cx = gx0 + (tx * ts + ii + 0.5) * pw
        cy = gy1 - (ty * ts + jj + 0.5) * ph
        xs = pdf["x"].to_numpy(dtype=np.float64)
        ys = pdf["y"].to_numpy(dtype=np.float64)
        vs = pdf["v"].to_numpy(dtype=np.float64)
        out = np.full((h, w), nodata, dtype=np.float64)
        flat_x = cx.ravel()
        flat_y = cy.ravel()
        res = np.full(flat_x.shape, nodata, dtype=np.float64)
        step = max(1, _CHUNK // max(len(xs), 1))
        for s in range(0, len(flat_x), step):
            e = min(s + step, len(flat_x))
            d2 = (flat_x[s:e, None] - xs[None, :]) ** 2 \
                + (flat_y[s:e, None] - ys[None, :]) ** 2
            if radius > 0.0:
                mask = d2 <= radius * radius
            else:
                mask = np.ones_like(d2, dtype=bool)
            if algorithm == "nearest":
                d2m = np.where(mask, d2, np.inf)
                k = np.argmin(d2m, axis=1)
                ok = np.isfinite(d2m[np.arange(e - s), k])
                res[s:e] = np.where(ok, vs[k], nodata)
            elif algorithm == "average":
                cnt = mask.sum(axis=1)
                ssum = np.where(mask, vs[None, :], 0.0).sum(axis=1)
                res[s:e] = np.where(cnt > 0, ssum / np.maximum(cnt, 1),
                                    nodata)
            elif algorithm == "count":
                res[s:e] = mask.sum(axis=1)
            elif algorithm in ("minimum", "maximum", "range"):
                # GDALGridDataMetricMinimum/Maximum/Range
                # (alg/gdalgrid.cpp data-metric family)
                cnt = mask.sum(axis=1)
                mn = np.where(mask, vs[None, :], np.inf).min(axis=1)
                mx = np.where(mask, vs[None, :], -np.inf).max(axis=1)
                pick = {"minimum": mn, "maximum": mx,
                        "range": mx - mn}[algorithm]
                res[s:e] = np.where(cnt > 0, pick, nodata)
            elif algorithm == "average_distance":
                # mean node->point distance within the radius
                cnt = mask.sum(axis=1)
                dsum = np.where(mask, np.sqrt(d2), 0.0).sum(axis=1)
                res[s:e] = np.where(cnt > 0,
                                    dsum / np.maximum(cnt, 1),
                                    nodata)
            elif algorithm == "invdistnn":
                # GDALGridInverseDistanceToAPowerNearestNeighbor:
                # the max_points nearest inside the radius
                d2m = np.where(mask, d2, np.inf)
                if d2m.shape[1] > max_points:
                    sel = np.argpartition(d2m, max_points - 1,
                                          axis=1)[:, :max_points]
                    dsel = np.take_along_axis(d2m, sel, axis=1)
                    vsel = vs[sel]
                else:
                    dsel, vsel = d2m, np.broadcast_to(
                        vs[None, :], d2m.shape)
                ok = np.isfinite(dsel)
                d2s = dsel + smoothing * smoothing
                wgt = np.where(ok, 1.0 / np.maximum(d2s, 1e-300)
                               ** (power / 2.0), 0.0)
                num = (wgt * np.where(ok, vsel, 0.0)).sum(axis=1)
                den = wgt.sum(axis=1)
                val = np.where(den > 0,
                               num / np.where(den == 0, 1, den),
                               nodata)
                # exact-hit shortcut mirrors the reference
                # (alg/gdalgrid.cpp GDALGridInverseDistanceToAPower
                # NearestNeighbor): only when dfR2 + dfSmoothing2 <
                # 1e-13 — with nonzero smoothing a coincident point
                # is blended like any other neighbor
                hit = ok & (d2s < 1e-13)
                any_hit = hit.any(axis=1)
                first = np.argmax(hit, axis=1)
                res[s:e] = np.where(
                    any_hit,
                    np.take_along_axis(
                        np.where(ok, vsel, 0.0),
                        first[:, None], axis=1)[:, 0],
                    val)
            elif algorithm == "invdist":
                d2s = d2 + smoothing * smoothing
                # reference shortcut: dfR2 (incl. smoothing2) < 1e-13
                exact = (d2s < 1e-13)
                wgt = np.where(mask, 1.0 / np.maximum(d2s, 1e-300)
                               ** (power / 2.0), 0.0)
                num = (wgt * vs[None, :]).sum(axis=1)
                den = wgt.sum(axis=1)
                val = np.where(den > 0, num / np.where(den == 0, 1, den),
                               nodata)
                # coincident node: take the point's value exactly
                # (gdalgrid invdist special case)
                hit = exact & mask
                any_hit = hit.any(axis=1)
                first = np.argmax(hit, axis=1)
                res[s:e] = np.where(any_hit, vs[first], val)
            else:
                raise ValueError(f"unknown grid algorithm {algorithm}")
        out[:, :] = res.reshape(h, w)
        if (h, w) != (ts, ts):
            full = np.full((ts, ts), nodata, dtype=np.float64)
            full[:h, :w] = out
            out = full
        payload, dts = encode_tile(out, codec)
        return pd.DataFrame({
            "zoom": [-1], "tile_x": [tx], "tile_y": [ty], "band": [1],
            "data": [payload], "dtype": [dts], "tile_size": [ts],
        })

    # groupBy shuffles on its own; a repartitionByRange here would add
    # a second exchange plus the RangePartitioner sampling job
    return (
        staged.groupBy("tile_x", "tile_y")
        .applyInPandas(render, TILE_SCHEMA)
    )


_PARTIAL_GRID_SCHEMA = StructType([
    StructField("tile_x", LongType()),
    StructField("tile_y", LongType()),
    StructField("a", BinaryType()),
    StructField("b", BinaryType()),
])


def _grid_all_points(points: DataFrame, grid: GridSpec, algorithm: str,
                     x_col: str, y_col: str, v_col: str, power: float,
                     smoothing: float, nodata: float, ts: int,
                     codec: str | None) -> DataFrame:
    """radius = 0 (unbounded search, GDALGridInverseDistanceToAPower
    radius1=radius2=0 semantics) WITHOUT a cross join.

    The per-pixel results are reductions over ALL points:
      invdist:  sum(w*v) / sum(w)          — two additive partials
      nearest:  argmin(d^2)                — (dmin, v) min-partial
      average:  mean over all points       — a global scalar
      count:    number of points           — a global scalar
    so each POINT partition computes a partial raster and one shuffle
    (bounded by n_partitions x raster bytes, never |points| x tiles)
    reduces them.  Whole-raster partials are held in executor memory;
    unbounded-search gridding targets moderate rasters (the reference
    computes O(pixels x points) for this mode too) — huge rasters
    should pass a radius."""
    from pyspark.sql.types import LongType  # noqa: F401

    spark = points.sparkSession
    gw, gh = grid.width, grid.height
    if gw * gh > (1 << 26):
        raise ValueError(
            "radius=0 gridding holds a whole-raster partial per task; "
            f"{gw}x{gh} exceeds the 64M-pixel bound — pass a radius")
    n_tx = (gw + ts - 1) // ts
    n_ty = (gh + ts - 1) // ts
    gx0, gy1, pw, ph = grid.x0, grid.y1, grid.px_w, grid.px_h

    if algorithm in ("average", "count", "minimum", "maximum",
                     "range"):
        # radius=0: these metrics are the SAME global scalar at
        # every node — one JVM agg, then a constant fill
        row = points.agg(
            F.count("*").alias("n"),
            F.avg(F.col(v_col)).alias("avg"),
            F.min(F.col(v_col)).alias("mn"),
            F.max(F.col(v_col)).alias("mx")).collect()[0]
        if algorithm == "count":
            const = float(row["n"])
        elif row["avg"] is None:
            const = nodata
        elif algorithm == "average":
            const = float(row["avg"])
        elif algorithm == "minimum":
            const = float(row["mn"])
        elif algorithm == "maximum":
            const = float(row["mx"])
        else:
            const = float(row["mx"]) - float(row["mn"])
        tiles_pdf = pd.DataFrame(
            [(tx, ty) for tx in range(n_tx) for ty in range(n_ty)],
            columns=["tile_x", "tile_y"])

        def fill(batches):
            for b in batches:
                rows = {f.name: [] for f in TILE_SCHEMA.fields}
                for tx, ty in zip(b["tile_x"], b["tile_y"]):
                    w = min(ts, gw - int(tx) * ts)
                    h = min(ts, gh - int(ty) * ts)
                    out = np.full((ts, ts), nodata, dtype=np.float64)
                    out[:h, :w] = const
                    payload, dts = encode_tile(out, codec)
                    rows["zoom"].append(-1)
                    rows["tile_x"].append(int(tx))
                    rows["tile_y"].append(int(ty))
                    rows["band"].append(1)
                    rows["data"].append(payload)
                    rows["dtype"].append(dts)
                    rows["tile_size"].append(ts)
                yield pd.DataFrame(rows)

        return spark.createDataFrame(tiles_pdf).mapInPandas(
            fill, TILE_SCHEMA)

    if algorithm in ("average_distance", "invdistnn"):
        raise ValueError(
            f"{algorithm} needs a search radius (the radius=0 "
            "reduction would be a full |points| scan per node)")
    if algorithm not in ("invdist", "nearest"):
        raise ValueError(f"unknown grid algorithm {algorithm}")

    # pixel centers, precomputed metadata shared by every task
    is_invdist = algorithm == "invdist"
    s2 = smoothing * smoothing

    def partials(batches):
        if is_invdist:
            acc_a = np.zeros(gh * gw, dtype=np.float64)   # sum w
            acc_b = np.zeros(gh * gw, dtype=np.float64)   # sum w*v
        else:
            acc_a = np.full(gh * gw, np.inf, dtype=np.float64)  # dmin
            acc_b = np.full(gh * gw, nodata, dtype=np.float64)  # v
        jj, ii = np.mgrid[0:gh, 0:gw]
        cxs = (gx0 + (ii + 0.5) * pw).ravel()
        cys = (gy1 - (jj + 0.5) * ph).ravel()
        seen = False
        for b in batches:
            if len(b) == 0:
                continue
            seen = True
            xs = b["x"].to_numpy(np.float64)
            ys = b["y"].to_numpy(np.float64)
            vs = b["v"].to_numpy(np.float64)
            step = max(1, _CHUNK // max(len(xs), 1))
            for s in range(0, len(cxs), step):
                e = min(s + step, len(cxs))
                d2 = (cxs[s:e, None] - xs[None, :]) ** 2 \
                    + (cys[s:e, None] - ys[None, :]) ** 2
                if is_invdist:
                    # coincident nodes: the clamped weight (1e200)
                    # dominates every finite weight, reproducing the
                    # reference's exact-value special case to double
                    # precision without a separate flag array
                    wgt = np.minimum(
                        1.0 / np.maximum(d2 + s2, 1e-300)
                        ** (power / 2.0), 1e200)
                    acc_a[s:e] += wgt.sum(axis=1)
                    acc_b[s:e] += (wgt * vs[None, :]).sum(axis=1)
                else:
                    # deterministic tie-break: among equidistant
                    # points take the SMALLEST VALUE, so the output
                    # cannot depend on partition arrival order (the
                    # distributed == single-array golden invariant)
                    dk = d2.min(axis=1)
                    vk = np.where(d2 == dk[:, None], vs[None, :],
                                  np.inf).min(axis=1)
                    cur_a = acc_a[s:e]
                    cur_b = acc_b[s:e]
                    closer = (dk < cur_a) | ((dk == cur_a)
                                             & (vk < cur_b))
                    acc_a[s:e] = np.where(closer, dk, cur_a)
                    acc_b[s:e] = np.where(closer, vk, cur_b)
        if not seen:
            return
        # emit per-tile partial rows
        full_a = acc_a.reshape(gh, gw)
        full_b = acc_b.reshape(gh, gw)
        rows = {"tile_x": [], "tile_y": [], "a": [], "b": []}
        for ty in range(n_ty):
            for tx in range(n_tx):
                sa = full_a[ty * ts:(ty + 1) * ts, tx * ts:(tx + 1) * ts]
                sb = full_b[ty * ts:(ty + 1) * ts, tx * ts:(tx + 1) * ts]
                rows["tile_x"].append(tx)
                rows["tile_y"].append(ty)
                rows["a"].append(np.ascontiguousarray(sa).tobytes())
                rows["b"].append(np.ascontiguousarray(sb).tobytes())
        yield pd.DataFrame(rows)

    src = points.select(F.col(x_col).alias("x"), F.col(y_col).alias("y"),
                        F.col(v_col).alias("v"))
    # exactly par partials: the shuffle below is n_partials x raster bytes
    par = spark.sparkContext.defaultParallelism
    part = src.repartition(par).mapInPandas(partials, _PARTIAL_GRID_SCHEMA)

    def reduce_tile(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        w = min(ts, gw - tx * ts)
        h = min(ts, gh - ty * ts)
        if is_invdist:
            sw = np.zeros((h, w), dtype=np.float64)
            swv = np.zeros((h, w), dtype=np.float64)
            for a_buf, b_buf in zip(pdf["a"], pdf["b"]):
                sw += np.frombuffer(a_buf, np.float64).reshape(h, w)
                swv += np.frombuffer(b_buf, np.float64).reshape(h, w)
            out = np.where(sw > 0, swv / np.where(sw == 0, 1, sw),
                           nodata)
        else:
            dmin = np.full((h, w), np.inf)
            vmin = np.full((h, w), nodata, dtype=np.float64)
            for a_buf, b_buf in zip(pdf["a"], pdf["b"]):
                da = np.frombuffer(a_buf, np.float64).reshape(h, w)
                va = np.frombuffer(b_buf, np.float64).reshape(h, w)
                # same (distance, value) lexicographic rule as the
                # partial pass — reduce order cannot change the result
                closer = (da < dmin) | ((da == dmin) & (va < vmin))
                dmin = np.where(closer, da, dmin)
                vmin = np.where(closer, va, vmin)
            out = vmin
        if (h, w) != (ts, ts):
            full = np.full((ts, ts), nodata, dtype=np.float64)
            full[:h, :w] = out
            out = full
        payload, dts = encode_tile(out, codec)
        return pd.DataFrame({
            "zoom": [-1], "tile_x": [tx], "tile_y": [ty], "band": [1],
            "data": [payload], "dtype": [dts], "tile_size": [ts],
        })

    return part.groupBy("tile_x", "tile_y").applyInPandas(
        reduce_tile, TILE_SCHEMA)


SAMPLE_SCHEMA_FIELDS = [
    StructField("sample", DoubleType()),
]


def sample_at_points(
    tiles: DataFrame, grid: GridSpec, points: DataFrame,
    method: str = "near", key_col: str = "k",
    x_col: str = "x", y_col: str = "y",
    nodata: float | None = None, tile_size: int = 256,
) -> DataFrame:
    """Sample a tiled raster at point locations (near / bilinear) —
    the point-lookup join of alg/gdal_interpolateatpoint.cpp.

    Output: (key_col, sample:double)."""
    from gdal_spark.operators.warp import resample_patch

    ts = tile_size
    px = (F.col(x_col) - F.lit(grid.x0)) / F.lit(grid.px_w)
    py = (F.lit(grid.y1) - F.col(y_col)) / F.lit(grid.px_h)
    pts = points.select(
        F.col(key_col).alias("k"),
        px.alias("px"), py.alias("py"),
        F.floor(px / ts).cast("long").alias("tile_x"),
        F.floor(py / ts).cast("long").alias("tile_y"),
    )
    # only tiles in the 3x3 neighborhood of a POINT tile can
    # contribute (center or strip) to a sampled group — prune the
    # raster BEFORE the halo emit so the exchange carries a few
    # tiles instead of the whole raster (a 12-point lookup into a
    # z6 density shipped ~GBs of decoded tiles otherwise); the
    # second semi-join drops strips addressed to point-less tiles.
    # No broadcast hint: AQE broadcasts the key sets when the probe
    # layer is small (the interpolate-at-point shape) and falls back
    # to a shuffle semi-join for dense probe sets, which costs at
    # most one extra pass over the tile payloads.
    pkeys = pts.select("tile_x", "tile_y").distinct()
    offs = [F.struct((F.col("tile_x") + dx).alias("tile_x"),
                     (F.col("tile_y") + dy).alias("tile_y"))
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    cover = (pkeys.select(F.explode(F.array(*offs)).alias("c"))
             .select("c.tile_x", "c.tile_y").distinct())
    tiles_needed = tiles.join(cover, ["tile_x", "tile_y"],
                              "left_semi")
    halos = emit_halos(tiles_needed, 1).join(
        pkeys, ["tile_x", "tile_y"], "left_semi")
    key_type = points.schema[key_col].dataType
    schema = StructType([
        StructField("k", key_type),
        StructField("sample", DoubleType()),
    ])

    @kernel_name("operators.grid.sample")
    def kernel(key, pts_pdf: pd.DataFrame, halo_pdf: pd.DataFrame
               ) -> pd.DataFrame:
        if len(pts_pdf) == 0:
            return pd.DataFrame({"k": [], "sample": []})
        tx, ty = int(key[0]), int(key[1])
        fill = np.nan if nodata is None else nodata
        # no centre: the whole canvas is fill, strips ignored
        canvas = assemble_halo_canvas(halo_pdf, ts, 1, fill) \
            if len(halo_pdf) else None
        if canvas is None:
            canvas = np.full((ts + 2, ts + 2), fill)
        lx = pts_pdf["px"].to_numpy() - tx * ts + 1.0
        ly = pts_pdf["py"].to_numpy() - ty * ts + 1.0
        vals = resample_patch(canvas, 0, 0, lx, ly, method, nodata)
        return pd.DataFrame({"k": pts_pdf["k"], "sample": vals})

    return (
        pts.groupBy("tile_x", "tile_y")
        .cogroup(halos.groupBy("tile_x", "tile_y"))
        .applyInPandas(kernel, schema)
    )
