"""Cutline clip with blend distance.

Re-creates the warp cutline masker (alg/gdalcutline.cpp:397,
GDALWarpCutlineMaskerBlend): the cutline polygon(s) clip the raster,
and pixels within ``blend_px`` of the cutline edge get a feathered
alpha instead of a hard cut —

    alpha = clamp(0.5 + signed_dist / (2 * blend_px), 0, 1)

where signed_dist is the pixel distance to the cutline boundary
(positive inside).  blend_px = 0 is the hard mask x multiply
composition.  Output pixel = alpha * src + (1 - alpha) * nodata,
always float64 (the blend is fractional by definition).

Distributed shape: the cutline rasterizes to mask tiles on the same
grid; every src tile is then classified inside / outside / boundary
from per-mask-tile stats exploded over the 3x3 neighbor offsets
(all JVM joins after one bounded stats kernel), and ONLY the
boundary band — O(perimeter) tiles — enters the halo exchange and
the signed-distance sweep.  Inside tiles pass through (alpha == 1),
outside tiles emit constant nodata (alpha == 0), both as single map
passes with no shuffle beyond the classification semi-joins.  Exactness: alpha
saturates for |signed_dist| >= blend, and any boundary pixel within
blend is inside the halo window, so the per-tile EDT equals the
global one wherever alpha is fractional (same argument as
proximity_tiles' MAXDIST truncation).  Beyond the raster edge the
world is outside-the-cutline (zero padding) — the single-array
oracle in tests pads identically.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    IntegerType, StructField, StructType,
)

from gdal_spark.operators.halo import (
    assemble_halo_canvas, emit_halos, render_by_tile,
)
from gdal_spark.operators.rasterize import GridSpec, rasterize
from gdal_spark.operators.tiling import (
    TILE_SCHEMA, decode_tile, encode_tile,
)
from gdal_spark.session import kernel_name, spread_for_kernel


def blend_alpha(mask: np.ndarray, blend_px: float) -> np.ndarray:
    """Feathered alpha from a boolean inside-mask (single-array
    reference kernel; the distributed path must reproduce it).

    Alpha only depends on distances <= blend_px (it saturates
    beyond), so instead of a full EDT the signed distance comes from
    an exact (2k+1)^2 window min-sweep of vectorized shifts — equal
    output, and ~1000x cheaper per tile than the Python-loop EDT
    when hundreds of small tiles land in one task."""
    if blend_px <= 0:
        return mask.astype(np.float64)
    k = int(np.ceil(blend_px))
    h, w = mask.shape
    d2_in = np.full((h, w), np.inf)    # nearest OUTSIDE px, for in px
    d2_out = np.full((h, w), np.inf)   # nearest INSIDE px, for out px
    inv = ~mask
    for dy in range(-k, k + 1):
        for dx in range(-k, k + 1):
            dd = dy * dy + dx * dx
            if dd == 0 or dd > k * k:
                continue
            ys0, ys1 = max(dy, 0), h + min(dy, 0)
            xs0, xs1 = max(dx, 0), w + min(dx, 0)
            # candidate window shifted by (dy, dx); beyond-array has
            # no candidates (the EDT convention)
            sl_dst = (slice(ys0, ys1), slice(xs0, xs1))
            sl_src = (slice(ys0 - dy, ys1 - dy),
                      slice(xs0 - dx, xs1 - dx))
            d2_in[sl_dst] = np.where(
                inv[sl_src], np.minimum(d2_in[sl_dst], dd),
                d2_in[sl_dst])
            d2_out[sl_dst] = np.where(
                mask[sl_src], np.minimum(d2_out[sl_dst], dd),
                d2_out[sl_dst])
    with np.errstate(invalid="ignore"):
        signed = np.where(mask, np.sqrt(d2_in), -np.sqrt(d2_out))
    return np.clip(0.5 + signed / (2.0 * blend_px), 0.0, 1.0)


CLASS_SCHEMA_DOC = """Tile classes (classify_cutline_tiles):
inside   — this tile and its 8 neighbors are all fully inside the
           cutline, so every pixel is >= tile_size >= blend from the
           boundary: alpha == 1, the tile passes through (as float64)
           with no halo exchange or distance sweep.
outside  — no cutline pixel anywhere in the 3x3 neighborhood: every
           pixel is >= tile_size >= blend from the inside region,
           alpha == 0, the output is a constant-nodata tile (no src
           decode at all).
boundary — everything else (partial mask, raster edge, or a full/
           empty tile adjacent to the other kind): only these enter
           the haloed signed-distance pipeline.  On a continental
           raster with one cutline this is O(perimeter) tiles, not
           O(area)."""


def _classify_near_mask(spark: SparkSession, mask: DataFrame
                        ) -> DataFrame:
    """(tile_x, tile_y, cls) for every tile within one ring of a mask
    tile; tiles ABSENT from the result are pure outside (no cutline
    pixel anywhere in their 3x3 neighborhood).  Working only on the
    near-mask set keeps the classification O(cutline cover), not
    O(lattice), and saves the full-lattice distinct+join.

    Per-mask-tile stats (full / any-inside, decoded once per mask
    tile — bounded by tiles the cutline touches) explode over the
    3x3 neighbor offsets JVM-side; a groupBy then counts full
    neighbors and ORs any-inside per target tile.  Absent neighbors
    count as not-full / no-inside, which conservatively classes
    raster-edge tiles as boundary — matching the zero-padding world
    outside the raster."""
    STATS = StructType([
        StructField("tile_x", IntegerType()),
        StructField("tile_y", IntegerType()),
        StructField("m_full", IntegerType()),
        StructField("m_any", IntegerType()),
    ])

    def stats_kernel(batches: Iterator[pd.DataFrame]) \
            -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b) == 0:
                continue
            rows = {n: [] for n in ("tile_x", "tile_y",
                                    "m_full", "m_any")}
            for _, r in b.iterrows():
                ts = int(r["tile_size"])
                arr = decode_tile(r["data"], r["dtype"], ts) >= 0.5
                rows["tile_x"].append(int(r["tile_x"]))
                rows["tile_y"].append(int(r["tile_y"]))
                rows["m_full"].append(int(arr.all()))
                rows["m_any"].append(int(arr.any()))
            yield pd.DataFrame(rows)

    stats = mask.select("tile_x", "tile_y", "data", "dtype",
                        "tile_size").mapInPandas(stats_kernel, STATS)
    # 3x3 offsets as an exploded literal array — a pure projection,
    # no driver-side frame, no join
    offs = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    nbr = stats.select(
        "tile_x", "tile_y", "m_full", "m_any",
        F.explode(offs).alias("o")).select(
        (F.col("tile_x") + F.col("o.dx")).alias("tile_x"),
        (F.col("tile_y") + F.col("o.dy")).alias("tile_y"),
        "m_full", "m_any")
    agg = nbr.groupBy("tile_x", "tile_y").agg(
        F.sum("m_full").alias("n_full"),
        F.max("m_any").alias("any_in"))
    return agg.withColumn(
        "cls",
        F.when(F.col("n_full") == 9, F.lit("inside"))
        .when(F.col("any_in") == 0, F.lit("outside"))
        .otherwise(F.lit("boundary"))) \
        .select("tile_x", "tile_y", "cls")


def classify_cutline_tiles(spark: SparkSession, keys: DataFrame,
                           mask: DataFrame) -> DataFrame:
    """Classify every src tile key against the rasterized cutline
    mask (see _classify_near_mask; keys absent from the near set are
    outside)."""
    near = _classify_near_mask(spark, mask)
    return keys.join(near, ["tile_x", "tile_y"], "left") \
        .fillna("outside", subset=["cls"]) \
        .select("zoom", "tile_x", "tile_y", "tile_size", "cls")


# above this total vertex count the cutline stops being broadcast:
# the per-tile window rasterization costs O(edges) per tile, so a
# giant cutline pays the mask-tile exchange instead (which visits
# each edge once, map-side)
_BROADCAST_MAX_VERTS = 20_000

# neighbor offsets in bit order for the existence mask the broadcast
# kernel consumes (bit i set == the neighbor at _NBR_OFFS[i] exists
# in the src lattice)
_NBR_OFFS = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
             if (dx, dy) != (0, 0)]


def cutline_clip(spark: SparkSession, src_tiles: DataFrame,
                 cutline_pdf: pd.DataFrame, grid: GridSpec,
                 blend_px: float = 0.0, nodata: float = 0.0,
                 tile_size: int = 256,
                 method: str = "auto") -> DataFrame:
    """Clip ``src_tiles`` to the cutline polygons, feathering
    ``blend_px`` pixels across the edge (0 = hard cut).

    Two physical strategies, dispatched on cutline size (``method``
    in {auto, broadcast, distributed}):

    * **broadcast** (cutline under ~20k vertices — the common case;
      GDAL's warp cutline is a single geometry in the warp options,
      alg/gdalwarp_lib.cpp cutline handling): every src tile
      rasterizes the broadcast cutline over its own (ts+2k)^2 haloed
      window map-side and blends in ONE kernel — no mask tiles, no
      halo exchange, no classification joins.  Tiles whose window
      misses the cutline's pixel bbox never enter Python at all
      (constant-nodata payload via a JVM projection).  Absent-lattice
      neighbors zero their window strips via an 8-bit existence mask:
      derived as a pure column expression from the lattice bounds
      when the lattice is dense, else one keys-only explode/bit_or
      aggregation joined back.
    * **distributed**: the boundary-band mask-tile pipeline below —
      each cutline edge is rasterized once, so it stays O(perimeter)
      work per tile no matter how many vertices the cutline has.

    Both produce bit-identical output (the window mask equals the
    global mask restricted to the window; tests run both)."""
    if method not in {"auto", "broadcast", "distributed"}:
        raise ValueError(f"unknown cutline method {method!r}")
    if method != "distributed":
        from gdal_spark.geometry.wkb import parse_wkb

        n_verts = sum(
            sum(len(p) for p in parse_wkb(bytes(w)).parts)
            for w in cutline_pdf["geometry"])
        if method == "broadcast" or n_verts <= _BROADCAST_MAX_VERTS:
            return _cutline_clip_broadcast(
                spark, src_tiles, cutline_pdf, grid, blend_px,
                nodata, tile_size)
    return _cutline_clip_distributed(
        spark, src_tiles, cutline_pdf, grid, blend_px, nodata,
        tile_size)


def _cutline_clip_broadcast(spark: SparkSession, src_tiles: DataFrame,
                            cutline_pdf: pd.DataFrame, grid: GridSpec,
                            blend_px: float, nodata: float,
                            tile_size: int) -> DataFrame:
    from gdal_spark.geometry.wkb import parse_wkb
    from gdal_spark.operators.rasterize import rasterize_chunk

    ts = tile_size
    k = max(1, int(np.ceil(blend_px)))
    if k > ts:
        raise ValueError(
            f"blend_px={blend_px} exceeds tile_size={tile_size}: the "
            "1-ring halo/classification machinery needs blend <= "
            "tile_size (retile coarser or shrink the blend)")

    # driver: cutline features in PIXEL space (same transform as
    # rasterize(): grid.to_px ring by ring, feature = all its rings)
    feats = []
    for _, r in cutline_pdf.iterrows():
        g = parse_wkb(bytes(r["geometry"]))
        feats.append(([grid.to_px(ring) for ring in g.rings()],
                      g.kind))
    if not feats:
        # empty cutline layer: everything is outside (the distributed
        # path reaches the same result via an empty mask frame);
        # constant tiles ship as the 8-byte const: coding, never a
        # raw ts^2 payload (decode_tile expands it)
        const_payload, const_dt = (np.float64(nodata).tobytes(),
                                   "const:float64")
        return src_tiles.select(
            "zoom", "tile_x", "tile_y", "band",
            F.lit(bytearray(const_payload)).alias("data"),
            F.lit(const_dt).alias("dtype"), "tile_size")
    allc = np.vstack([ring for rings, _ in feats for ring in rings])
    bx0, bx1 = float(allc[:, 0].min()), float(allc[:, 0].max())
    by0, by1 = float(allc[:, 1].min()), float(allc[:, 1].max())
    bc = spark.sparkContext.broadcast(
        (feats, float(blend_px), float(nodata), k,
         int(grid.width), int(grid.height)))

    if blend_px <= 0:
        # HARD-CUT fast path: with no feather, alpha is the tile's
        # OWN ts^2 mask — the k-halo, neighbor-lattice bits and the
        # stats probe contribute nothing (the halo ring is cropped
        # away before use).  Those stages each re-executed the full
        # src lineage once per action (probe collect + near arm +
        # far arm = THREE density builds in q44's shape); this is
        # ONE map-only pass, with a bbox shortcut replacing the JVM
        # far-arm projection.
        const_payload0, const_dt0 = (np.float64(nodata).tobytes(),
                                     "const:float64")

        def kernel0(batches: Iterator[pd.DataFrame]) \
                -> Iterator[pd.DataFrame]:
            feats_, _blend, nd, _k, gw, gh = bc.value
            out = {f.name: [] for f in TILE_SCHEMA.fields}
            last_key = None
            m = None

            def tile_mask(tx: int, ty: int) -> np.ndarray:
                ox, oy = tx * ts, ty * ts
                shift = np.array([[float(ox), float(oy)]])
                local = [([ring - shift for ring in rings], 1.0,
                          kind) for rings, kind in feats_]
                W = rasterize_chunk((ts, ts), local, "uint8")
                # the world beyond the grid is outside-the-cutline
                if ox + ts > gw:
                    W[:, max(gw - ox, 0):] = 0
                if oy + ts > gh:
                    W[max(gh - oy, 0):, :] = 0
                return W >= 0.5

            for b in batches:
                for _, r in b.iterrows():
                    tx, ty = int(r["tile_x"]), int(r["tile_y"])
                    if (tx, ty) != last_key:
                        ox, oy = tx * ts, ty * ts
                        if (ox > bx1 or ox + ts < bx0
                                or oy > by1 or oy + ts < by0):
                            m = None          # bbox miss: all-outside
                        else:
                            m = tile_mask(tx, ty)
                        last_key = (tx, ty)
                    if m is None or not m.any():
                        payload, dts = const_payload0, const_dt0
                    elif m.all():
                        dts_in = str(r["dtype"])
                        if np.dtype(dts_in.split(":")[-1]) \
                                == np.float64:
                            payload, dts = bytes(r["data"]), dts_in
                        else:
                            src = decode_tile(r["data"], dts_in,
                                              ts).astype(np.float64)
                            payload, dts = encode_tile(src, None)
                    else:
                        src = decode_tile(r["data"], r["dtype"],
                                          ts).astype(np.float64)
                        payload, dts = encode_tile(
                            np.where(m, src, float(nd)), None)
                    out["zoom"].append(int(r["zoom"]))
                    out["tile_x"].append(tx)
                    out["tile_y"].append(ty)
                    out["band"].append(int(r["band"]))
                    out["data"].append(payload)
                    out["dtype"].append(dts)
                    out["tile_size"].append(ts)
                    if len(out["zoom"]) >= 64:
                        yield pd.DataFrame(out)
                        out = {f.name: []
                               for f in TILE_SCHEMA.fields}
            if out["zoom"]:
                yield pd.DataFrame(out)

        return src_tiles.mapInPandas(kernel0, TILE_SCHEMA)

    # lattice shape probe (keys-only JVM agg): dense rectangular
    # lattices derive neighbor existence from the bounds as a pure
    # column expression; sparse ones pay one keys-only bit_or join
    st = src_tiles.agg(
        F.min("tile_x").alias("x0"), F.max("tile_x").alias("x1"),
        F.min("tile_y").alias("y0"), F.max("tile_y").alias("y1"),
        F.countDistinct("tile_x", "tile_y").alias("n")).collect()[0]
    if st["n"] is None or st["n"] == 0:
        return spark.createDataFrame([], TILE_SCHEMA)
    dense = (int(st["n"])
             == (st["x1"] - st["x0"] + 1) * (st["y1"] - st["y0"] + 1))
    if dense:
        bits = None
        for i, (dx, dy) in enumerate(_NBR_OFFS):
            has = (
                (F.col("tile_x") + dx).between(st["x0"], st["x1"])
                & (F.col("tile_y") + dy).between(st["y0"], st["y1"]))
            term = F.when(has, F.lit(1 << i)).otherwise(F.lit(0))
            bits = term if bits is None else bits + term
        with_bits = src_tiles.withColumn("nbr_mask", bits)
    else:
        contrib = F.array(*[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
                     F.lit(1 << _NBR_OFFS.index((-dx, -dy)))
                     .alias("bit"))
            for dx, dy in _NBR_OFFS])
        nbr = (
            src_tiles.select("tile_x", "tile_y",
                             F.explode(contrib).alias("o"))
            .select((F.col("tile_x") + F.col("o.dx")).alias("tile_x"),
                    (F.col("tile_y") + F.col("o.dy")).alias("tile_y"),
                    F.col("o.bit").alias("bit"))
            .groupBy("tile_x", "tile_y")
            .agg(F.expr("bit_or(bit)").alias("nbr_mask")))
        with_bits = (
            src_tiles.join(nbr, ["tile_x", "tile_y"], "left")
            .withColumn("nbr_mask",
                        F.coalesce("nbr_mask", F.lit(0))))

    # JVM pre-cull: tiles whose haloed window misses the cutline's
    # pixel bbox are pure outside.  Their payload is NULLed in a JVM
    # projection (never decoded, never shipped through Arrow) and the
    # kernel emits the constant-nodata coding for them — ONE arm, so
    # the src lineage executes once here instead of twice (the old
    # far/near union re-evaluated the whole upstream per arm; the
    # spatial-join union-arm lesson)
    const_payload, const_dt = (np.float64(nodata).tobytes(),
                               "const:float64")
    wx0 = F.col("tile_x").cast("double") * ts - k
    wy0 = F.col("tile_y").cast("double") * ts - k
    near_cond = ((wx0 <= F.lit(bx1)) & (wx0 + (ts + 2 * k) >= F.lit(bx0))
                 & (wy0 <= F.lit(by1))
                 & (wy0 + (ts + 2 * k) >= F.lit(by0)))

    def kernel(batches: Iterator[pd.DataFrame]) \
            -> Iterator[pd.DataFrame]:
        feats_, blend_, nd, k_, gw, gh = bc.value
        win = ts + 2 * k_
        out = {f.name: [] for f in TILE_SCHEMA.fields}
        # single-entry mask carry: same-tile rows (multi-band) are
        # adjacent within a source partition, so the window mask —
        # the O(edges) cost of this kernel — computes once per tile
        # without any payload shuffle (map-only; a recompute for
        # out-of-order bands costs CPU only, never correctness)
        last_key = None
        m = None
        alpha = None

        def window_mask(tx: int, ty: int, nbm: int) -> np.ndarray:
            ox, oy = tx * ts - k_, ty * ts - k_
            shift = np.array([[float(ox), float(oy)]])
            local = [([ring - shift for ring in rings], 1.0, kind)
                     for rings, kind in feats_]
            W = rasterize_chunk((win, win), local, "uint8")
            # the world beyond the grid is outside-the-cutline
            if ox < 0:
                W[:, :-ox] = 0
            if oy < 0:
                W[:-oy, :] = 0
            if ox + win > gw:
                W[:, max(gw - ox, 0):] = 0
            if oy + win > gh:
                W[max(gh - oy, 0):, :] = 0
            # absent-lattice neighbors zero their window strips
            for i, (dx, dy) in enumerate(_NBR_OFFS):
                if nbm & (1 << i):
                    continue
                xs = {-1: slice(0, k_), 0: slice(k_, k_ + ts),
                      1: slice(k_ + ts, win)}[dx]
                ys = {-1: slice(0, k_), 0: slice(k_, k_ + ts),
                      1: slice(k_ + ts, win)}[dy]
                W[ys, xs] = 0
            return W >= 0.5

        for b in batches:
            for _, r in b.iterrows():
                tx, ty = int(r["tile_x"]), int(r["tile_y"])
                if r["data"] is None:
                    # bbox-far tile (payload NULLed JVM-side): pure
                    # outside, constant nodata, no window mask — and
                    # no mask-carry disturbance (a tile is either
                    # near or far, never both)
                    payload, dts = const_payload, const_dt
                    out["zoom"].append(int(r["zoom"]))
                    out["tile_x"].append(tx)
                    out["tile_y"].append(ty)
                    out["band"].append(int(r["band"]))
                    out["data"].append(payload)
                    out["dtype"].append(dts)
                    out["tile_size"].append(ts)
                    if len(out["zoom"]) >= 64:
                        yield pd.DataFrame(out)
                        out = {f.name: [] for f in TILE_SCHEMA.fields}
                    continue
                if (tx, ty) != last_key:
                    m = window_mask(tx, ty, int(r["nbr_mask"]))
                    alpha = (None if m.all() or not m.any() else
                             blend_alpha(m, blend_)[k_:-k_, k_:-k_])
                    last_key = (tx, ty)
                if not m.any():
                    payload, dts = const_payload, const_dt
                elif m.all():
                    # fully-inside tile: output == src (alpha 1).  A
                    # float64 payload passes through UNTOUCHED in its
                    # original (possibly deflate/const) coding — no
                    # decode, no re-encode, and compressed inputs stay
                    # compressed across the output
                    dts_in = str(r["dtype"])
                    if np.dtype(dts_in.split(":")[-1]) == np.float64:
                        payload, dts = bytes(r["data"]), dts_in
                    else:
                        src = decode_tile(r["data"], dts_in, ts) \
                            .astype(np.float64)
                        payload, dts = encode_tile(src, None)
                else:
                    src = decode_tile(r["data"], r["dtype"], ts) \
                        .astype(np.float64)
                    payload, dts = encode_tile(
                        alpha * src + (1.0 - alpha) * nd, None)
                out["zoom"].append(int(r["zoom"]))
                out["tile_x"].append(tx)
                out["tile_y"].append(ty)
                out["band"].append(int(r["band"]))
                out["data"].append(payload)
                out["dtype"].append(dts)
                out["tile_size"].append(ts)
                if len(out["zoom"]) >= 64:
                    yield pd.DataFrame(out)
                    out = {f.name: [] for f in TILE_SCHEMA.fields}
        if out["zoom"]:
            yield pd.DataFrame(out)

    # MAP-ONLY, ONE ARM: no repartition (the old tile-key shuffle
    # shipped every near-tile payload through an exchange; bands of
    # one tile already sit in the same source partition, and a cold
    # mask recompute is O(edges) CPU), and no far/near union (far
    # tiles cross as NULL-payload rows instead of re-executing the
    # src subtree in a second arm)
    one = with_bits.withColumn("data",
                               F.when(near_cond, F.col("data")))
    return one.mapInPandas(kernel, TILE_SCHEMA)


def _cutline_clip_distributed(
        spark: SparkSession, src_tiles: DataFrame,
        cutline_pdf: pd.DataFrame, grid: GridSpec,
        blend_px: float = 0.0, nodata: float = 0.0,
        tile_size: int = 256) -> DataFrame:
    """Boundary-band mask-tile pipeline: the halo exchange +
    signed-distance sweep run ONLY on boundary-class tiles (see
    CLASS_SCHEMA_DOC); inside tiles pass through, outside tiles emit
    constant nodata — both single cheap map passes, so a continental
    raster with one cutline does O(perimeter) distance work, not
    O(area)."""
    k = max(1, int(np.ceil(blend_px)))
    if k > tile_size:
        raise ValueError(
            f"blend_px={blend_px} exceeds tile_size={tile_size}: the "
            "1-ring halo/classification machinery needs blend <= "
            "tile_size (retile coarser or shrink the blend)")
    mask = rasterize(spark, cutline_pdf, grid, burn_value=1.0,
                     dtype="uint8", tile_size=tile_size)

    # Mask tiles beyond the src lattice are cut FIRST (the world
    # outside the raster/lattice is outside-the-cutline by the
    # zero-pad convention) — classification and halos must both see
    # the same restricted mask, or a boundary tile whose only mask
    # neighbors lie outside the lattice would get no alpha canvas
    # (NULL payload in the blend) and lattice-edge tiles would
    # misclassify 'inside' off out-of-lattice content.
    inlat_mask = mask.join(src_tiles.select("tile_x", "tile_y"),
                           ["tile_x", "tile_y"], "left_semi") \
        .localCheckpoint(eager=False)

    # classification lives on the near-mask set only (absent tile =>
    # pure outside); checkpointed because both the boundary keys and
    # the final dispatch consume it
    cls = _classify_near_mask(spark, inlat_mask) \
        .localCheckpoint(eager=False)
    b_keys = cls.filter(F.col("cls") == "boundary") \
        .select("tile_x", "tile_y")

    # Halo exchange sourced from the IN-LATTICE MASK TILES ALONE —
    # no zero-fill band is ever materialized:
    #  * an inside neighbor IS a (full) mask tile, so its all-ones
    #    strips ship like any other;
    #  * a no-mask neighbor's strips are all-zero == the canvas fill,
    #    so omitting them is exact;
    #  * a boundary tile with no mask tile of its own still gets a
    #    canvas group (boundary implies some 3x3 in-lattice neighbor
    #    has mask pixels => at least one strip row targets it)
    #    assembled over a fill-valued center (allow_missing_center).
    # canvases assemble ONLY for boundary tiles (neighbors contribute
    # strips, never a canvas)
    halos = emit_halos(inlat_mask, k) \
        .join(b_keys, ["tile_x", "tile_y"], "left_semi")

    @kernel_name("operators.cutline.alpha")
    def render_alpha(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ts = int(pdf["tile_size"].iloc[0])
        canvas = assemble_halo_canvas(pdf, ts, k, fill=0.0,
                                      allow_missing_center=True)
        alpha = blend_alpha(canvas >= 0.5, blend_px)[k:-k, k:-k]
        payload, dts = encode_tile(alpha.astype(np.float64), None)
        return pd.DataFrame({
            "zoom": [int(key[0])], "tile_x": [int(key[1])],
            "tile_y": [int(key[2])], "band": [int(key[3])],
            "data": [payload], "dtype": [dts], "tile_size": [ts],
        })

    alpha_tiles = render_by_tile(halos, render_alpha, TILE_SCHEMA).select(
        "tile_x", "tile_y", F.col("data").alias("a_data"),
        F.col("dtype").alias("a_dtype"))

    # ONE output kernel for all three classes: src tiles join the
    # class column (small vs the lattice, broadcastable) and the
    # alpha payloads (boundary tiles only, left join), then each row
    # dispatches — boundary blends with its alpha, inside copies to
    # float64 (alpha == 1), outside emits constant nodata without
    # ever decoding the src payload (alpha == 0)
    blended_in = spread_for_kernel(
        src_tiles
        .join(cls, ["tile_x", "tile_y"], "left")
        .fillna("outside", subset=["cls"])
        .join(alpha_tiles, ["tile_x", "tile_y"], "left")
    )

    def blend(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        nd = float(nodata)
        for b in batches:
            if len(b) == 0:
                continue
            rows = {f.name: [] for f in TILE_SCHEMA.fields}
            for _, r in b.iterrows():
                ts = int(r["tile_size"])
                c = r["cls"]
                if c == "outside":
                    out = np.full((ts, ts), nd, dtype=np.float64)
                else:
                    out = decode_tile(r["data"], r["dtype"], ts) \
                        .astype(np.float64)
                    if c == "boundary":
                        alpha = decode_tile(r["a_data"], r["a_dtype"],
                                            ts)
                        out = alpha * out + (1.0 - alpha) * nd
                payload, dts = encode_tile(out, None)
                rows["zoom"].append(int(r["zoom"]))
                rows["tile_x"].append(int(r["tile_x"]))
                rows["tile_y"].append(int(r["tile_y"]))
                rows["band"].append(int(r["band"]))
                rows["data"].append(payload)
                rows["dtype"].append(dts)
                rows["tile_size"].append(ts)
            yield pd.DataFrame(rows)

    return blended_in.mapInPandas(blend, TILE_SCHEMA)
