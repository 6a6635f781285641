"""Proximity, fillnodata, sieve — the remaining raster cleanup ops.

* proximity — distance-to-nearest-target raster
  (alg/gdalproximity.cpp: GDAL runs a two-pass scan; here each tile
  computes an EXACT Euclidean distance transform over a halo of
  ``max_dist`` pixels using the separable lower-envelope EDT
  [Felzenszwalb & Huttenlocher 2004, public algorithm], which equals
  GDAL's result wherever distance <= max_dist — GDAL's own MAXDIST
  option has the same truncation semantics)
* fillnodata — fill nodata pixels from surrounding valid pixels
  (alg/rasterfill.cpp); variant: value of the *nearest* valid pixel
  (exact via the same EDT with site tracking) where GDAL uses a
  4-ray IDW — both converge for smooth fields; documented difference
* sieve — remove raster polygons smaller than a threshold by merging
  them into their largest neighbor (alg/gdalsievefilter.cpp),
  implemented on the distributed-CCL machinery of polygonize:
  global labels -> sizes -> neighbor graph -> driver-side merge loop
  -> broadcast remap -> rewrite tiles.

proximity and fillnodata run on the engine's one halo exchange
(operators/halo.py): every tile ships its k-wide border blocks to its
8 neighbours, and each tile's kernel runs on the assembled canvas.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from gdal_spark.operators.halo import (
    assemble_halo_canvas, emit_halos, render_by_tile,
)
from gdal_spark.operators.tiling import TILE_SCHEMA, encode_tile
from gdal_spark.session import kernel_name


# --- exact Euclidean distance transform (separable lower envelope) ---

def _edt_1d(f: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """1-D squared EDT of sampled function f; returns (d, argmin)."""
    n = len(f)
    d = np.zeros(n)
    arg = np.zeros(n, dtype=np.int64)
    v = np.zeros(n, dtype=np.int64)
    z = np.zeros(n + 1)
    kk = 0
    v[0] = 0
    z[0] = -np.inf
    z[1] = np.inf
    for q in range(1, n):
        s = ((f[q] + q * q) - (f[v[kk]] + v[kk] * v[kk])) \
            / (2 * q - 2 * v[kk])
        while s <= z[kk]:
            kk -= 1
            s = ((f[q] + q * q) - (f[v[kk]] + v[kk] * v[kk])) \
                / (2 * q - 2 * v[kk])
        kk += 1
        v[kk] = q
        z[kk] = s
        z[kk + 1] = np.inf
    kk = 0
    for q in range(n):
        while z[kk + 1] < q:
            kk += 1
        d[q] = (q - v[kk]) ** 2 + f[v[kk]]
        arg[q] = v[kk]
    return d, arg


def edt_squared(mask: np.ndarray) -> tuple[np.ndarray, np.ndarray,
                                           np.ndarray]:
    """Exact squared EDT to the nearest True pixel; returns
    (dist2, src_y, src_x) with nearest-site coordinates."""
    h, w = mask.shape
    INF = 1e18
    f = np.where(mask, 0.0, INF)
    dcol = np.empty((h, w))
    argy = np.empty((h, w), dtype=np.int64)
    for x in range(w):
        dcol[:, x], argy[:, x] = _edt_1d(f[:, x])
    d = np.empty((h, w))
    argx = np.empty((h, w), dtype=np.int64)
    for y in range(h):
        d[y], argx[y] = _edt_1d(dcol[y])
    src_x = argx
    src_y = argy[np.arange(h)[:, None], argx]
    return d, src_y, src_x


def proximity_tiles(tiles: DataFrame, target_values: list[float],
                    max_dist: float, nodata: float = -1.0) -> DataFrame:
    """Distance (pixels) to the nearest target-valued pixel, exact up
    to ``max_dist``; beyond it, ``nodata``
    (alg/gdalproximity.cpp MAXDIST semantics)."""
    k = int(np.ceil(max_dist))
    targets = set(float(v) for v in target_values)

    @kernel_name("operators.proximity.distance")
    def render(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ts = int(pdf["tile_size"].iloc[0])
        canvas = assemble_halo_canvas(pdf, ts, k, fill=np.nan)
        if canvas is None:
            return pd.DataFrame({f.name: [] for f in TILE_SCHEMA.fields})
        mask = np.isin(canvas, list(targets))
        d2, _, _ = edt_squared(mask)
        dist = np.sqrt(d2)[k:k + ts, k:k + ts]
        out = np.where(dist <= max_dist, dist, nodata)
        payload, dts = encode_tile(out.astype(np.float64), None)
        return pd.DataFrame({
            "zoom": [int(key[0])], "tile_x": [int(key[1])],
            "tile_y": [int(key[2])], "band": [int(key[3])],
            "data": [payload], "dtype": [dts], "tile_size": [ts],
        })

    return render_by_tile(emit_halos(tiles, k), render, TILE_SCHEMA)


def fill_quad_idw(canvas: np.ndarray, valid: np.ndarray,
                  max_dist: float, nearest: bool = False) -> np.ndarray:
    """GDALFillNodata's per-pixel interpolation, vectorized
    (alg/rasterfill.cpp:794-915): for each invalid pixel take, per
    column within +-max_dist, the nearest ORIGINAL valid pixel above
    (inclusive row) and below (exclusive row); reduce those to the
    closest candidate in each of the four quadrants (left quads
    include dx=0); combine the quadrant hits with 1/dist inverse-
    distance weights (or take the nearest, bNearest).

    Deviation (documented): the reference's bottom-up sweep lets
    already-filled pixels feed later searches, making its output
    scan-order-dependent; this kernel searches original data only,
    which is deterministic and partition-invariant."""
    h, w = canvas.shape
    k = int(np.ceil(max_dist))
    yy = np.arange(h, dtype=np.int64)[:, None]
    # per column: nearest valid row above (inclusive) / below (excl.)
    ytop = np.where(valid, yy, np.int64(-(1 << 40)))
    ytop = np.maximum.accumulate(ytop, axis=0)
    vtop = canvas[np.clip(ytop, 0, h - 1), np.arange(w)[None, :]]
    ok_top = (yy - ytop) <= max_dist
    ybot = np.where(valid, yy, np.int64(1 << 40))
    ybot = np.minimum.accumulate(ybot[::-1], axis=0)[::-1]
    # exclusive: shift down one row
    ybot = np.vstack([ybot[1:], np.full((1, w), 1 << 40, np.int64)])
    vbot = canvas[np.clip(ybot, 0, h - 1), np.arange(w)[None, :]]
    ok_bot = (ybot - yy) <= max_dist

    INF = max_dist + 1.0
    qd = np.full((4, h, w), INF)
    qv = np.zeros((4, h, w))

    for dx in range(0, k + 1):
        for side, q_top, q_bot in ((-1, 0, 1), (1, 2, 3)):
            if side > 0 and dx == 0:
                continue  # right quads exclude the center column
            sh = side * dx
            if sh <= 0:
                sl = slice(0, w + sh) if sh else slice(0, w)
                dst = slice(-sh, w)
            else:
                sl = slice(sh, w)
                dst = slice(0, w - sh)
            dyt = yy - ytop[:, sl]
            dt = np.hypot(dx, dyt)
            improve_dst(q_top, dst, dt, vtop[:, sl], ok_top[:, sl],
                        qd, qv)
            dyb = ybot[:, sl] - yy
            db = np.hypot(dx, dyb)
            improve_dst(q_bot, dst, db, vbot[:, sl], ok_bot[:, sl],
                        qd, qv)
    fill_mask = ~valid
    if nearest:
        best = np.argmin(qd, axis=0)
        bd = np.take_along_axis(qd, best[None], 0)[0]
        bv = np.take_along_axis(qv, best[None], 0)[0]
        out = np.where(fill_mask & (bd <= max_dist), bv, canvas)
        return out
    wgt = np.where(qd <= max_dist, 1.0 / np.maximum(qd, 1e-300), 0.0)
    wsum = wgt.sum(axis=0)
    vsum = (wgt * qv).sum(axis=0)
    out = np.where(fill_mask & (wsum > 0), vsum / np.maximum(wsum, 1e-300),
                   canvas)
    return out


def improve_dst(q, dst, dist, val, ok, qd, qv):
    """Quadrant-minimum update on the destination column slice."""
    cur_d = qd[q][:, dst]
    better = ok & (dist < cur_d)
    qd[q][:, dst] = np.where(better, dist, cur_d)
    qv[q][:, dst] = np.where(better, val, qv[q][:, dst])


def smooth_filled(filled: np.ndarray, orig_valid: np.ndarray,
                  nodata: float, iters: int) -> np.ndarray:
    """GDALFillNodata's smoothing post-pass (alg/rasterfill.cpp,
    nSmoothingIterations): N iterations of a 3x3 mean over pixels
    that have data, applied to FILLED pixels only — original data is
    never modified.  Beyond-array (and still-nodata) neighbors are
    excluded from the mean."""
    out = np.asarray(filled, dtype=np.float64).copy()
    h, w = out.shape
    for _ in range(int(iters)):
        has = out != nodata
        acc = np.zeros((h, w))
        cnt = np.zeros((h, w))
        vals = np.where(has, out, 0.0)
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                ys0, ys1 = max(dy, 0), h + min(dy, 0)
                xs0, xs1 = max(dx, 0), w + min(dx, 0)
                dst = (slice(ys0, ys1), slice(xs0, xs1))
                src = (slice(ys0 - dy, ys1 - dy),
                       slice(xs0 - dx, xs1 - dx))
                acc[dst] += vals[src]
                cnt[dst] += has[src]
        avg = acc / np.where(cnt == 0, 1.0, cnt)
        take = (~orig_valid) & has & (cnt > 0)
        out[take] = avg[take]
    return out


def fillnodata_tiles(tiles: DataFrame, nodata: float,
                     max_dist: float = 16.0,
                     method: str = "inv_dist",
                     smoothing_iterations: int = 0) -> DataFrame:
    """Fill nodata regions by interpolation from the edges
    (GDALFillNodata, alg/rasterfill.cpp).

    ``method``: "inv_dist" (reference default — four-quadrant conic
    search + 1/dist weighting), "nearest" (the reference's bNearest
    over the same quadrant candidates), or "edt_nearest" (this
    engine's earlier exact-EDT variant, kept for callers that want
    true nearest-site fill).

    ``smoothing_iterations``: the reference's 3x3-mean post-pass over
    filled pixels; each iteration widens the halo by one pixel so the
    distributed result equals the single-array kernel."""
    si = max(0, int(smoothing_iterations))
    k = int(np.ceil(max_dist)) + si

    @kernel_name("operators.proximity.fill")
    def render(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ts = int(pdf["tile_size"].iloc[0])
        canvas = assemble_halo_canvas(pdf, ts, k, fill=nodata)
        if canvas is None:
            return pd.DataFrame({f.name: [] for f in TILE_SCHEMA.fields})
        valid = canvas != nodata
        if method == "edt_nearest":
            d2, sy, sx = edt_squared(valid)
            filled = canvas.copy()
            take = (~valid) & (np.sqrt(d2) <= max_dist)
            filled[take] = canvas[sy[take], sx[take]]
        else:
            filled = fill_quad_idw(canvas, valid, max_dist,
                                   nearest=(method == "nearest"))
        if si:
            # beyond-grid halo cells (no piece provided them) were
            # nodata going in but the fill writes into them; reset so
            # the smoothing means see exactly what the single-array
            # kernel sees at grid borders
            provided = ~np.isnan(
                assemble_halo_canvas(pdf, ts, k, fill=np.nan))
            filled = filled.copy()
            filled[~provided] = nodata
            filled = smooth_filled(filled, valid, nodata, si)
        out = filled[k:k + ts, k:k + ts]
        payload, dts = encode_tile(out.astype(np.float64), None)
        return pd.DataFrame({
            "zoom": [int(key[0])], "tile_x": [int(key[1])],
            "tile_y": [int(key[2])], "band": [int(key[3])],
            "data": [payload], "dtype": [dts], "tile_size": [ts],
        })

    return render_by_tile(emit_halos(tiles, k), render, TILE_SCHEMA)


def sieve_tiles(tiles: DataFrame, threshold: int,
                gt: list[float] | None = None,
                nodata: float | None = None,
                connectedness: int = 4,
                collect_cap: int = 2_000_000) -> DataFrame:
    """Sieve filter: polygons smaller than ``threshold`` pixels merge
    into their largest neighbor (alg/gdalsievefilter.cpp), on the
    polygonize run/label machinery.

    The merge is fully distributed: per round, every undersized
    component points at its largest neighboring component (ties to
    the smaller label id); only pointers that strictly increase the
    (size, -id) key are applied — this breaks mutual-pair cycles and
    converges because each kept pointer moves mass up a total order.
    Mergers cascade across rounds exactly as the reference's
    iterative small-into-largest loop does; the one deviation is tie
    resolution between two mutually-small polygons, where the
    reference follows raster scan order and this picks the larger
    (then lower-id) side — a resolution the reference itself leaves
    scan-order-dependent.

    Returns new tiles with small-polygon values rewritten."""
    # stage 1+2 of polygonize: global labels on runs.
    # localCheckpoint, NOT .cache(): these frames feed the merge
    # loop and the final rewrite but there is no unpersist point
    # after return, and a CacheManager entry lives for the session
    # (the r6 minhash leak class) — checkpoint blocks free when the
    # frame is GC'd.
    runs, tile_size = _global_runs(tiles, nodata, connectedness)
    runs = runs.localCheckpoint()

    sizes = runs.groupBy("label").agg(
        F.sum(F.col("x1") - F.col("x0")).alias("n_pix"),
        F.first("value").alias("value"),
    ).localCheckpoint()
    top = runs.alias("t")
    bot = runs.alias("b")
    adj = (
        top.join(
            bot,
            (F.col("t.y") + 1 == F.col("b.y"))
            & (F.col("t.x0") < F.col("b.x1"))
            & (F.col("b.x0") < F.col("t.x1"))
            & (F.col("t.label") != F.col("b.label")),
        )
        .select(F.col("t.label").alias("a"), F.col("b.label").alias("b"))
    )
    # horizontal adjacency within a row
    hadj = (
        top.join(
            bot,
            (F.col("t.y") == F.col("b.y"))
            & (F.col("t.x1") == F.col("b.x0"))
            & (F.col("t.label") != F.col("b.label")),
        )
        .select(F.col("t.label").alias("a"), F.col("b.label").alias("b"))
    )
    half = adj.unionByName(hadj)
    edges = half.unionByName(
        half.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().localCheckpoint()

    # Bounded-collect gate (the duplicate_clusters pattern): the
    # merge loop costs 5 joins + 2 Spark actions PER ROUND, which
    # dominates fixture/border workloads where the adjacency graph
    # is a few thousand edges.  When edges AND sizes are provably
    # small, replay the IDENTICAL round law (candidate choice, tie
    # rule, strict-improvement filter, single pointer jump, 20-round
    # cap) on driver arrays; larger graphs keep the distributed
    # loop, which never collects.  Both frames are already
    # checkpoint-materialized, so the probes read blocks, not
    # lineage.
    if collect_cap and collect_cap > 0:
        edges_pdf = edges.limit(collect_cap + 1).toPandas()
        sizes_pdf = (sizes.limit(collect_cap + 1).toPandas()
                     if len(edges_pdf) <= collect_cap else None)
        if sizes_pdf is not None and len(sizes_pdf) <= collect_cap:
            final_pdf = _sieve_merge_driver(sizes_pdf, edges_pdf,
                                            int(threshold))
            spark = tiles.sparkSession
            if len(final_pdf):
                final_sdf = spark.createDataFrame(
                    final_pdf, "label long, new_value double")
                runs = runs.join(final_sdf, "label", "left") \
                    .withColumn("value", F.coalesce("new_value",
                                                    "value")) \
                    .drop("new_value")
            return _rewrite_sieved_runs(runs, tile_size, nodata)

    # iterative distributed merge over component roots (a cheap
    # projection of the checkpointed sizes — no cache needed)
    roots = sizes.select("label", F.col("label").alias("root"))
    converged = False
    for _ in range(20):
        eff = roots.join(sizes, "label").groupBy("root") \
            .agg(F.sum("n_pix").alias("eff"))
        redges = (
            edges
            .join(roots.select(F.col("label").alias("a"),
                               F.col("root").alias("ra")), "a")
            .join(roots.select(F.col("label").alias("b"),
                               F.col("root").alias("rb")), "b")
            .filter(F.col("ra") != F.col("rb"))
            .select("ra", "rb").distinct()
        )
        cand = (
            redges
            .join(eff.select(F.col("root").alias("ra"),
                             F.col("eff").alias("eff_a")), "ra")
            .join(eff.select(F.col("root").alias("rb"),
                             F.col("eff").alias("eff_b")), "rb")
            .filter(F.col("eff_a") < F.lit(int(threshold)))
            .groupBy("ra", "eff_a")
            .agg(F.max(F.struct(
                F.col("eff_b").alias("eff"),
                (-F.col("rb")).alias("negid"))).alias("tk"))
        )
        moved = cand.filter(
            (F.col("tk.eff") > F.col("eff_a"))
            | ((F.col("tk.eff") == F.col("eff_a"))
               & ((-F.col("tk.negid")) < F.col("ra")))
        ).select(F.col("ra").alias("root"),
                 (-F.col("tk.negid")).alias("tgt")).localCheckpoint()
        if moved.limit(1).count() == 0:
            converged = True
            break
        stepped = roots.join(moved, "root", "left").select(
            "label", F.coalesce("tgt", F.col("root")).alias("root"))
        # pointer jump so chains of merges contract in O(log) rounds
        jump = stepped.select(F.col("label").alias("root"),
                              F.col("root").alias("root2"))
        # localCheckpoint: roots feeds 5 joins per round, so carrying
        # the logical plan across rounds blows up exponentially
        roots = stepped.join(jump, "root", "left").select(
            "label", F.coalesce("root2", F.col("root")).alias("root")
        ).localCheckpoint()

    if not converged:
        # the 20-round cap is a guard (pointer jumping contracts
        # ~2^20-long merge chains), not the convergence criterion: a
        # silent early exit would be an unflagged parity break vs
        # GDALSieveFilter's run-to-fixpoint union-find
        import warnings

        warnings.warn(
            "sieve merge hit the 20-round cap before convergence; "
            "undersized components may remain unmerged",
            RuntimeWarning, stacklevel=2)

    final = roots.join(
        sizes.select(F.col("label").alias("root"),
                     F.col("value").alias("new_value")), "root")
    runs = runs.join(final.select("label", "new_value"), "label", "left") \
        .withColumn("value", F.coalesce("new_value", "value")) \
        .drop("new_value")
    return _rewrite_sieved_runs(runs, tile_size, nodata)


def _sieve_merge_driver(sizes_pdf: pd.DataFrame, edges_pdf: pd.DataFrame,
                        threshold: int) -> pd.DataFrame:
    """Round-for-round driver replica of the distributed pointer
    merge: identical candidate set (undersized roots), identical
    target choice (max by (neighbor-size, -neighbor-id)), identical
    strict-improvement filter, one pointer jump per round, identical
    20-round cap + warning.  Returns (label, new_value) for labels
    whose value changes (a left join + coalesce leaves the rest
    unchanged, exactly as the distributed final join does)."""
    labels = sizes_pdf["label"].to_numpy(np.int64)
    order = np.argsort(labels)
    labels = labels[order]
    n_pix = sizes_pdf["n_pix"].to_numpy(np.int64)[order]
    values = sizes_pdf["value"].to_numpy(np.float64)[order]
    root = labels.copy()
    if len(edges_pdf):
        ea = np.searchsorted(labels, edges_pdf["a"].to_numpy(np.int64))
        eb = np.searchsorted(labels, edges_pdf["b"].to_numpy(np.int64))
        converged = False
        thr = int(threshold)
        for _ in range(20):
            rpos = np.searchsorted(labels, root)
            eff = np.zeros(len(labels), dtype=np.int64)
            np.add.at(eff, rpos, n_pix)
            ra_p, rb_p = rpos[ea], rpos[eb]
            cand = (ra_p != rb_p) & (eff[ra_p] < thr)
            if not cand.any():
                converged = True
                break
            cra, crb = ra_p[cand], rb_p[cand]
            eff_b = eff[crb]
            tgt_lab = labels[crb]
            # max by (eff_b, -rb) per ra: ascending lexsort, last of
            # each ra group wins — same struct-max as the join loop
            srt = np.lexsort((-tgt_lab, eff_b, cra))
            cra_s = cra[srt]
            last = np.flatnonzero(
                np.r_[cra_s[1:] != cra_s[:-1], True])
            ra_u = cra_s[last]
            eff_b_u = eff_b[srt][last]
            tgt_u = tgt_lab[srt][last]
            eff_a_u = eff[ra_u]
            ra_lab_u = labels[ra_u]
            mv = ((eff_b_u > eff_a_u)
                  | ((eff_b_u == eff_a_u) & (tgt_u < ra_lab_u)))
            if not mv.any():
                converged = True
                break
            # apply moved pointers, then one pointer jump (exactly
            # the stepped+jump shape of the distributed round)
            step = labels.copy()
            step[ra_u[mv]] = tgt_u[mv]
            stepped = step[rpos]          # stepped.root per label
            # jump table maps label x -> stepped.root(x), so the
            # jumped root is stepped applied at the stepped value
            root = stepped[np.searchsorted(labels, stepped)]
        if not converged:
            import warnings

            warnings.warn(
                "sieve merge hit the 20-round cap before convergence; "
                "undersized components may remain unmerged",
                RuntimeWarning, stacklevel=3)
    new_value = values[np.searchsorted(labels, root)]
    changed = new_value != values
    return pd.DataFrame({"label": labels[changed],
                         "new_value": new_value[changed]})


def _rewrite_sieved_runs(runs: DataFrame, tile_size: int,
                         nodata) -> DataFrame:
    """Rewrite tiles from the (possibly revalued) runs frame."""
    def rewrite(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ts = tile_size
        tx, ty = int(key[0]), int(key[1])
        grid_arr = np.full((ts, ts), np.nan if nodata is None else nodata,
                           dtype=np.float64)
        for _, r in pdf.iterrows():
            y = int(r["y"]) - ty * ts
            x0 = int(r["x0"]) - tx * ts
            x1 = int(r["x1"]) - tx * ts
            grid_arr[y, x0:x1] = float(r["value"])
        payload, dts = encode_tile(grid_arr, None)
        return pd.DataFrame({
            "zoom": [-1], "tile_x": [tx], "tile_y": [ty], "band": [1],
            "data": [payload], "dtype": [dts], "tile_size": [ts],
        })

    ts = tile_size
    keyed = runs.withColumn("tile_x", (F.col("x0") / ts).cast("long")) \
        .withColumn("tile_y", (F.col("y") / ts).cast("long"))
    par = runs.sparkSession.sparkContext.defaultParallelism
    return (
        keyed.repartition(par, "tile_x", "tile_y")
        .groupBy("tile_x", "tile_y")
        .applyInPandas(rewrite, TILE_SCHEMA)
    )


def _global_runs(tiles: DataFrame, nodata, connectedness):
    """Labeled runs with globally-merged labels (polygonize stages
    1+2, shared: border runs merged on the driver up to BORDER_CAP)."""
    from gdal_spark.operators import polygonize as pz

    return pz.global_label_runs(tiles, nodata, connectedness)
