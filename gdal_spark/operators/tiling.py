"""The tiling engine: z/x/y pyramid over WebMercatorQuad.

Re-creates ``gdal raster tile`` (apps/gdalalg_raster_tile.cpp) as
Spark dataflow:

* tile assignment uses the exact GetTileIndices math (:457-480 —
  floor((x - topLeftX)/(res*tileW) + 1e-3), clamped) as JVM column
  expressions;
* the pyramid (``sparse_pyramid``, ``build_pyramid``) is one pass. A
  map-side kernel reduces its input partition to per-pixel counts at
  the base zoom and derives every coarser level's (tile, pixel) keys
  from them by bit shifts (parent pixel = child pixel >> 1), then
  packs the entries into one row per hash bucket of the tile key.
  Hot tiles (Zipf cities) arrive pre-reduced, with the input
  partition as the salt, so the shuffle carries at most one entry per
  pixel per input partition.  ONE hash exchange on the bucket id then
  merges each tile's entries per partition in numpy, for all levels
  at once; the reference builds overviews level by level
  (gdalalg_raster_tile.cpp:1552-1596).  A single-zoom density
  (``page_density_tiles``, the streaming state) is the one-level
  pyramid, and ``_merge_sparse`` re-merges stored sparse rows through
  the same exchange and merge kernel;
* the sinks (``tile_blob_frame``, ``write_tiles``) hash-partition on
  (z, x, y) at defaultParallelism and sort within each partition, so
  a tile's bands arrive adjacent; no range partitioning, no sampling
  job.

Tile rows: (zoom:int, tile_x:long, tile_y:long, band:int,
data:binary raw C-order, dtype:string, tile_size:int).
"""

from __future__ import annotations

import os
import shutil
import stat
from contextlib import suppress
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StringType, StructField, StructType
)

from gdal_spark.functions import geo
from gdal_spark.session import kernel_name

TILE_SCHEMA = StructType([
    StructField("zoom", IntegerType()),
    StructField("tile_x", LongType()),
    StructField("tile_y", LongType()),
    StructField("band", IntegerType()),
    StructField("data", BinaryType()),
    StructField("dtype", StringType()),
    StructField("tile_size", IntegerType()),
])

_PARTIAL_SCHEMA = StructType([
    StructField("zoom", IntegerType()),
    StructField("tile_x", LongType()),
    StructField("tile_y", LongType()),
    StructField("idx", BinaryType()),    # int32 flat pixel indices
    StructField("cnt", BinaryType()),    # int64 counts
])

# packed partials (r7): ONE row per (input partition, destination
# bucket) instead of one row per (input partition, tile).  A 1M-point
# pyramid shuffled ~520k tiny rows whose per-row overhead dominated
# the exchange; packing cuts that to a few thousand rows while the
# byte payload (the sparse entries themselves) is unchanged.  hdr
# packs int64 quads [zoom, tile_x, tile_y, n_entries] per tile;
# idx/cnt concatenate the per-tile entry arrays in hdr order.
_PACKED_SCHEMA = StructType([
    StructField("bucket", IntegerType()),
    StructField("hdr", BinaryType()),
    StructField("idx", BinaryType()),
    StructField("cnt", BinaryType()),
])

# distinct bucket values per output partition: >> 1 so the hash
# partitioner spreads buckets evenly (guide §2.5 — too few distinct
# synthetic keys leaves partitions empty under hash collisions)
_BUCKETS_PER_PART = 32


def _pack_frame(zs, txs, tys, lens, pix, csum,
                n_buckets: int) -> pd.DataFrame:
    """Per-tile sparse arrays -> packed one-row-per-bucket frame.

    ``zs/txs/tys/lens``: per-tile int64 arrays; ``pix``/``csum``:
    entries concatenated in tile order (int32 / int64).  Tiles map to
    buckets via a splitmix hash of the tile key, so every copy of a
    tile lands in the same bucket regardless of producer."""
    tile_key = ((zs << 58) + (txs << 29) + tys).astype(np.uint64)
    h = tile_key * np.uint64(0x9E3779B97F4A7C15)
    h ^= h >> np.uint64(29)
    bkt = (h % np.uint64(n_buckets)).astype(np.int64)
    order = np.argsort(bkt, kind="stable")
    lens_o = lens[order]
    starts = np.r_[0, np.cumsum(lens)[:-1]]
    # ragged gather of entry ranges in bucket order
    total = int(lens.sum())
    if total:
        off = np.repeat(starts[order] - np.r_[0, np.cumsum(lens_o)[:-1]],
                        lens_o)
        ent = np.arange(total, dtype=np.int64) + off
        pix_o = pix[ent]
        cnt_o = csum[ent]
    else:
        pix_o = pix[:0]
        cnt_o = csum[:0]
    bko = bkt[order]
    bstart = np.flatnonzero(np.r_[True, bko[1:] != bko[:-1]])
    bend = np.r_[bstart[1:], len(bko)]
    ent_bounds = np.r_[0, np.cumsum(lens_o)]
    rows = {"bucket": [], "hdr": [], "idx": [], "cnt": []}
    quads = np.column_stack([zs[order], txs[order], tys[order],
                             lens_o]).astype(np.int64)
    for s, e in zip(bstart, bend):
        rows["bucket"].append(int(bko[s]))
        rows["hdr"].append(quads[s:e].tobytes())
        lo, hi = ent_bounds[s], ent_bounds[e]
        rows["idx"].append(pix_o[lo:hi].tobytes())
        rows["cnt"].append(cnt_o[lo:hi].tobytes())
    return pd.DataFrame(rows)


def _merge_packed(packed: DataFrame, nparts: int,
                  dense: tuple | None = None) -> DataFrame:
    """Packed partials -> merged tiles: ONE hash exchange on the
    bucket id, then a per-partition numpy reduce.  The kernel buffers
    its partition's sparse entries, entries / nparts of them; nparts
    is defaultParallelism, the one width of the density path.  Output
    is sparse (_PARTIAL_SCHEMA) unless ``dense=(tile_size, codec)``
    renders TILE_SCHEMA rows inside the same kernel."""

    @kernel_name("operators.tiling.merge")
    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        hdrs, idxs, cnts = [], [], []
        for b in batches:
            for hb, ib, cb in zip(b["hdr"], b["idx"], b["cnt"]):
                hdrs.append(np.frombuffer(hb, np.int64).reshape(-1, 4))
                idxs.append(np.frombuffer(ib, np.int32))
                cnts.append(np.frombuffer(cb, np.int64))
        if not hdrs:
            return
        hdr = np.vstack(hdrs)
        alli = np.concatenate(idxs)
        allc = np.concatenate(cnts)
        tile_key = (hdr[:, 0] << 58) + (hdr[:, 1] << 29) + hdr[:, 2]
        lens = hdr[:, 3]
        uniq_tiles, tile_ord = np.unique(tile_key, return_inverse=True)
        tiles_rep = np.repeat(tile_ord.astype(np.int64), lens)
        key = tiles_rep * (1 << 18) + alli
        order = np.argsort(key, kind="stable")
        ks = key[order]
        starts = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1]])
        uk = ks[starts]
        csum = (np.add.reduceat(allc[order], starts)
                if len(ks) else np.zeros(0, np.int64))
        tile = uniq_tiles[(uk >> 18)]
        pix = (uk & ((1 << 18) - 1)).astype(np.int32)
        tst = np.flatnonzero(np.r_[True, tile[1:] != tile[:-1]])
        ten = np.r_[tst[1:], len(tile)]
        csum64 = csum.astype(np.int64)
        # emit in bounded tile blocks so no Arrow column grows large
        block = 4096
        for bs in range(0, len(tst), block):
            be = min(bs + block, len(tst))
            rows = {"zoom": [], "tile_x": [], "tile_y": [], "idx": [],
                    "cnt": []}
            for s, e in zip(tst[bs:be], ten[bs:be]):
                t = int(tile[s])
                rows["zoom"].append(t >> 58)
                rows["tile_x"].append((t >> 29) & ((1 << 29) - 1))
                rows["tile_y"].append(t & ((1 << 29) - 1))
                rows["idx"].append(pix[s:e].tobytes())
                rows["cnt"].append(csum64[s:e].tobytes())
            pdf = pd.DataFrame(rows)
            if dense is not None:
                yield from _dense_pdf(pdf, dense[0], dense[1])
            else:
                yield pdf

    shuffled = packed.repartition(nparts, "bucket")
    schema = TILE_SCHEMA if dense is not None else _PARTIAL_SCHEMA
    return shuffled.mapInPandas(merge, schema)


def _merge_sparse(partials: DataFrame) -> DataFrame:
    """Merge sparse (zoom, tile_x, tile_y, idx, cnt) rows that may
    repeat a tile, e.g. a stored density state unioned with a new
    batch's partials: pack them per bucket map-side, then run the
    pyramid's own exchange and merge kernel (_merge_packed)."""
    nparts = partials.sparkSession.sparkContext.defaultParallelism
    n_buckets = nparts * _BUCKETS_PER_PART

    @kernel_name("operators.tiling.pack")
    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b) == 0:
                continue
            idx = [np.frombuffer(v, np.int32) for v in b["idx"]]
            cnt = [np.frombuffer(v, np.int64) for v in b["cnt"]]
            yield _pack_frame(
                b["zoom"].to_numpy(np.int64),
                b["tile_x"].to_numpy(np.int64),
                b["tile_y"].to_numpy(np.int64),
                np.fromiter(map(len, idx), np.int64, len(idx)),
                np.concatenate(idx), np.concatenate(cnt), n_buckets)

    return _merge_packed(partials.mapInPandas(pack, _PACKED_SCHEMA),
                         nparts)


def decode_tile(data: bytes, dtype: str, tile_size: int) -> np.ndarray:
    """Decode one tile payload.  ``dtype`` may carry a codec prefix:
    'deflate:uint32' (zlib-compressed, the engine's PNG-filter
    stand-in — gdal raster tile deflate-encodes its PNG tiles,
    apps/gdalalg_raster_tile.cpp:520-545)."""
    if dtype.startswith("deflate:"):
        import zlib

        raw = zlib.decompress(data)
        dt = np.dtype(dtype.split(":", 1)[1])
    elif dtype.startswith("const:"):
        # constant-tile encoding (r7): an all-equal tile ships as a
        # single value; consumers decode to the full array
        dt = np.dtype(dtype.split(":", 1)[1])
        val = np.frombuffer(data, dtype=dt)[0]
        return np.full((tile_size, tile_size), val, dtype=dt)
    else:
        raw = data
        dt = np.dtype(dtype)
    return np.frombuffer(raw, dtype=dt).reshape(tile_size, tile_size)


# ---- stitched-deflate fast path for sparse tiles -------------------
#
# zlib.compress scans every byte, so a mostly-zero 256 KB histogram
# costs ~450 us regardless of content — and densify()'s zlib was the
# measured bottleneck of the whole pyramid build (71,698 tiles at
# median 7 nonzero pixels = ~50 s of CPU scanning zeros).  Deflate
# streams are stitchable at Z_FULL_FLUSH boundaries (the flush resets
# the dictionary and aligns the stream on a byte), so the zero GAPS
# can reuse cached pre-deflated segments and only the nonzero spans
# compress live; the zlib trailer's adler32 over a zero run has the
# closed form b += n*a (mod 65521) with a unchanged.  The output is a
# STANDARD zlib stream — zlib.decompress(out) == buf, byte-for-byte
# equal raw data, only the compressed representation differs.

_Z_LADDER = (65536, 8192, 1024, 128, 16, 2, 1)
_ZERO_SEGS: dict[int, bytes] = {}
# live spans are merged when the gap between them is under this many
# BYTES, bounding the per-span compressobj overhead
_SPAN_MERGE_BYTES = 512
# above this nonzero fraction plain zlib.compress wins — spans stop
# being sparse and the stitch overhead dominates
_SPARSE_FRAC = 0.05


def _zero_seg(n: int) -> bytes:
    import zlib

    seg = _ZERO_SEGS.get(n)
    if seg is None:
        co = zlib.compressobj(1, zlib.DEFLATED, -15)
        seg = co.compress(b"\x00" * n) + co.flush(zlib.Z_FULL_FLUSH)
        _ZERO_SEGS[n] = seg
    return seg


def _adler_zeros(adler: int, n: int) -> int:
    a = adler & 0xFFFF
    b = (adler >> 16) & 0xFFFF
    b = (b + (n % 65521) * a) % 65521
    return (b << 16) | a


def _deflate_pieces(total_len: int,
                    pieces: list[tuple[int, bytes]]) -> bytes:
    """zlib stream of a ``total_len``-byte buffer that is zero
    everywhere except the given (byte_offset, chunk) pieces (sorted,
    non-overlapping).  The dense buffer is NEVER materialized — zero
    gaps come from the cached segment ladder, so cost is
    O(sum of piece sizes), not O(total_len)."""
    import zlib

    out = [b"\x78\x01"]          # zlib header, level-1 flags
    adler = 1
    pos = 0
    # ONE compressor for every live piece of this tile: each
    # Z_FULL_FLUSH resets the dictionary, so the cached zero
    # segments (themselves full-flush-terminated, fresh-state) can
    # interleave freely — and the zero ladder reaches 1, so gaps
    # never touch zlib at all
    co = zlib.compressobj(1, zlib.DEFLATED, -15)

    def emit_zeros(n: int) -> None:
        nonlocal adler
        if n <= 0:
            return
        adler = _adler_zeros(adler, n)
        for c in _Z_LADDER:
            q, n = divmod(n, c)
            if q:
                out.append(_zero_seg(c) * q)

    for s, chunk in pieces:
        emit_zeros(s - pos)
        out.append(co.compress(chunk) + co.flush(zlib.Z_FULL_FLUSH))
        adler = zlib.adler32(chunk, adler)
        pos = s + len(chunk)
    emit_zeros(total_len - pos)
    out.append(co.flush(zlib.Z_FINISH))   # final empty block
    out.append(adler.to_bytes(4, "big"))
    return b"".join(out)


# each live piece costs ~20 us (zeros+scatter+compress+flush+ladder);
# plain zlib costs ~450-700 us on a 256 KB tile, so past this many
# pieces the dense scan wins (measured breakeven ~24)
_MAX_PIECES = 24


def deflate_sparse_tile(idx: np.ndarray, vals: np.ndarray,
                        n_elems: int) -> bytes:
    """Deflate payload of a tile given its (sorted element index,
    value) sparse representation.  Returns the standard zlib stream
    of the dense ``n_elems``-element array of ``vals.dtype``; for
    genuinely sparse tiles (few merged pieces) the dense histogram
    is never allocated or scanned."""
    import zlib

    isz = vals.dtype.itemsize
    if len(idx) == 0:
        return _deflate_pieces(n_elems * isz, [])
    merge = max(_SPAN_MERGE_BYTES // isz, 1)
    brk = np.flatnonzero(np.diff(idx) > merge)
    if len(brk) + 1 > _MAX_PIECES:
        dense = np.zeros(n_elems, dtype=vals.dtype)
        dense[idx] = vals
        return zlib.compress(dense.tobytes(), 1)
    p0 = np.r_[0, brk + 1]               # piece start POSITIONS in idx
    p1 = np.r_[brk + 1, len(idx)]        # piece end positions
    pieces = []
    for a, b in zip(p0, p1):
        s = int(idx[a])
        e = int(idx[b - 1]) + 1
        seg = np.zeros(e - s, dtype=vals.dtype)
        seg[idx[a:b] - s] = vals[a:b]
        pieces.append((s * isz, seg.tobytes()))
    return _deflate_pieces(n_elems * isz, pieces)


def encode_tile(arr: np.ndarray, codec: str | None = None
                ) -> tuple[bytes, str]:
    """-> (payload, dtype-string) honoring the optional codec."""
    c = np.ascontiguousarray(arr)
    if codec == "deflate":
        import zlib

        dts = f"deflate:{arr.dtype}"
        flat = c.ravel()
        nz = np.flatnonzero(flat)
        if len(nz) <= _SPARSE_FRAC * flat.size:
            return deflate_sparse_tile(nz, flat[nz], flat.size), dts
        return zlib.compress(c.tobytes(), 1), dts
    return c.tobytes(), str(arr.dtype)


def tiles_to_arrays(pdf: pd.DataFrame) -> dict:
    """Decode tile rows -> {(zoom, x, y, band): np.ndarray}."""
    out = {}
    for _, r in pdf.iterrows():
        ts = int(r["tile_size"])
        out[(int(r["zoom"]), int(r["tile_x"]), int(r["tile_y"]),
             int(r["band"]))] = decode_tile(r["data"], r["dtype"], ts)
    return out


def _dense_pdf(b: pd.DataFrame, tile_size: int,
               codec: str | None) -> Iterator[pd.DataFrame]:
    """Sparse (idx, cnt) rows -> dense TILE_SCHEMA frames (shared by
    densify() and the fused merge kernel), yielded in bounded blocks
    so no Arrow column exceeds its 2GB cap."""
    tsts = tile_size * tile_size
    umax = np.iinfo(np.uint32).max
    block = 256
    n = len(b)
    for s in range(0, n, block):
        e = min(s + block, n)
        payloads, dts_s = [], []
        for idx_b, cnt_b in zip(b["idx"].iloc[s:e],
                                b["cnt"].iloc[s:e]):
            idx = np.frombuffer(idx_b, dtype=np.int32)
            vals = np.minimum(
                np.frombuffer(cnt_b, dtype=np.int64), umax
            ).astype(np.uint32)
            if codec == "deflate" and \
                    len(idx) <= _SPARSE_FRAC * tsts:
                # straight from the sparse entries: the dense
                # histogram is never allocated (the zlib zero-scan
                # was the measured pyramid bottleneck)
                payloads.append(deflate_sparse_tile(
                    idx.astype(np.int64), vals, tsts))
                dts_s.append("deflate:uint32")
                continue
            hist = np.zeros(tsts, dtype=np.uint32)
            hist[idx] = vals
            payload, dts = encode_tile(
                hist.reshape(tile_size, tile_size), codec)
            payloads.append(payload)
            dts_s.append(dts)
        yield pd.DataFrame({
            "zoom": b["zoom"].iloc[s:e].to_numpy(),
            "tile_x": b["tile_x"].iloc[s:e].to_numpy(),
            "tile_y": b["tile_y"].iloc[s:e].to_numpy(),
            "band": 1,
            "data": payloads,
            "dtype": dts_s,
            "tile_size": tile_size,
        })


def densify(sparse: DataFrame, zoom: int, tile_size: int = 256,
            codec: str | None = None) -> DataFrame:
    """Sparse (idx, cnt) rows -> dense TILE_SCHEMA rasters (map-side
    only; done at materialization time, never shuffled).  With
    ``codec='deflate'`` the payloads are zlib-compressed (the PNG
    stand-in), cutting Arrow/sink bytes ~100x on sparse tiles."""

    @kernel_name("operators.tiling.densify")
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if "zoom" not in b.columns:
                b = b.assign(zoom=zoom)
            yield from _dense_pdf(b, tile_size, codec)

    return sparse.mapInPandas(kernel, TILE_SCHEMA)


def overview_reduce(tiles: DataFrame, agg: str = "sum") -> DataFrame:
    """One overview level: zoom z -> z-1, 2x2 block reduce.

    ``agg``: 'sum' (counts/density), 'average' (the reference's
    default overview resampling), 'max', 'min' — the overview subset
    of GDALResampleAlg (alg/gdalwarper.h:34-68).
    """

    def _reduce(children: list[tuple[int, int, bytes]], ts: int,
                dts: str):
        dt = np.dtype(dts.split(":")[-1])
        canvas = np.zeros((2 * ts, 2 * ts),
                          dtype=np.float64 if agg == "average" else dt)
        filled = np.zeros((2 * ts, 2 * ts), dtype=bool)
        for cx, cy, data in children:
            sub = decode_tile(data, dts, ts)
            ox, oy = cx % 2, cy % 2
            canvas[oy * ts:(oy + 1) * ts, ox * ts:(ox + 1) * ts] = sub
            filled[oy * ts:(oy + 1) * ts, ox * ts:(ox + 1) * ts] = True
        q = canvas.reshape(ts, 2, ts, 2)
        if agg == "sum":
            out = q.sum(axis=(1, 3))
        elif agg == "average":
            cnt = filled.reshape(ts, 2, ts, 2).sum(axis=(1, 3))
            cnt[cnt == 0] = 1
            out = q.sum(axis=(1, 3)) / cnt
        elif agg == "max":
            out = q.max(axis=(1, 3))
        elif agg == "min":
            out = q.min(axis=(1, 3))
        else:
            raise ValueError(f"unknown overview agg {agg}")
        return out.astype(dt)

    @kernel_name("operators.tiling.overview")
    def reduce_stream(batches: Iterator[pd.DataFrame]
                      ) -> Iterator[pd.DataFrame]:
        cur = None
        children: list[tuple[int, int, bytes]] = []
        meta = {}
        out = {"zoom": [], "tile_x": [], "tile_y": [], "band": [],
               "data": [], "dtype": [], "tile_size": []}

        def flush():
            if cur is None:
                return
            ts = meta["ts"]
            dts = meta["dt"]
            arr = _reduce(children, ts, dts)
            out["zoom"].append(meta["zoom"] - 1)
            out["tile_x"].append(cur[0])
            out["tile_y"].append(cur[1])
            out["band"].append(meta["band"])
            out["data"].append(arr.tobytes())
            out["dtype"].append(str(arr.dtype))
            out["tile_size"].append(ts)

        for b in batches:
            for ptx, pty, ts_, dt_, zm, bd, ctx, cty, data in zip(
                b["ptile_x"], b["ptile_y"], b["tile_size"], b["dtype"],
                b["zoom"], b["band"], b["tile_x"], b["tile_y"], b["data"],
            ):
                t = (int(ptx), int(pty))
                if t != cur:
                    flush()
                    cur = t
                    children = []
                    if len(out["zoom"]) >= 64:
                        yield pd.DataFrame(out)
                        for k in out:
                            out[k] = []
                meta = {"ts": int(ts_), "dt": str(dt_),
                        "zoom": int(zm), "band": int(bd)}
                children.append((int(ctx), int(cty), data))
        flush()
        if out["zoom"]:
            yield pd.DataFrame(out)

    parents = tiles.withColumn(
        "ptile_x", (F.col("tile_x") / 2).cast("long")
    ).withColumn("ptile_y", (F.col("tile_y") / 2).cast("long"))
    # hash repartition, NOT repartitionByRange: range partitioning
    # runs a sampling job that recomputes the whole upstream stage
    # (CLAUDE.md lesson); the carry kernel only needs parent keys
    # colocated and contiguous, which hash + within-partition sort
    # provides (children fill disjoint quadrants, so their order
    # within a parent does not affect the reduce)
    nparts = tiles.sparkSession.sparkContext.defaultParallelism
    return (
        parents.repartition(nparts, "ptile_x", "ptile_y")
        .sortWithinPartitions("ptile_x", "ptile_y")
        .mapInPandas(reduce_stream, TILE_SCHEMA)
        .select(*[f.name for f in TILE_SCHEMA.fields])
    )


def sparse_pyramid(
    points: DataFrame, base_zoom: int, min_zoom: int = 0,
    tile_size: int = 256, lon: str = "lon", lat: str = "lat",
    _dense: tuple | None = None,
) -> DataFrame:
    """ALL pyramid levels in a single pass: phase 1 derives every
    zoom's (tile, pixel) key from the base-zoom key by bit shifts
    (parent pixel = child pixel >> 1), so the whole pyramid costs ONE
    shuffle of sparse entries instead of one per level.  The engine's
    only point -> density builder: one zoom is the one-level pyramid
    (``base_zoom == min_zoom``).

    This is the engine's improvement over the reference's
    level-by-level overview build (gdalalg_raster_tile.cpp:1552 — a
    sequential dependency chain); the reduction is associative, so
    all levels aggregate concurrently.

    ``tile_size`` must be a power of two <= 512: a pixel index rides
    in the low 2*log2(tile_size) bits of the tile key, and the merge
    kernel (_merge_packed) packs it in 18."""
    if tile_size not in [1 << k for k in range(10)]:
        raise ValueError(f"tile_size must be a power of two <= 512; "
                         f"got {tile_size!r}")
    res = geo.tile_span(base_zoom) / tile_size
    n_base = (1 << base_zoom) * tile_size
    px = F.floor(
        (geo.merc_x(lon) + F.lit(geo.ORIGIN)) / F.lit(res) + F.lit(1e-3)
    )
    py = F.floor(
        (F.lit(geo.ORIGIN) - geo.merc_y(lat)) / F.lit(res) + F.lit(1e-3)
    )
    px = F.least(F.greatest(px, F.lit(0)), F.lit(n_base - 1))
    py = F.least(F.greatest(py, F.lit(0)), F.lit(n_base - 1))
    staged = points.select(
        (px.cast("long") * F.lit(n_base) + py.cast("long")).alias("key")
    )
    pix_bits = 2 * int(np.log2(tile_size))
    log_nb = int(np.log2(n_base))
    nparts = points.sparkSession.sparkContext.defaultParallelism
    n_buckets = nparts * _BUCKETS_PER_PART

    @kernel_name("operators.tiling.partial")
    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks: list[np.ndarray] = []
        counts: list[np.ndarray] = []
        for b in batches:
            if len(b) == 0:
                continue
            k, c = np.unique(b["key"].to_numpy(), return_counts=True)
            chunks.append(k)
            counts.append(c)
        if not chunks:
            return
        allk = np.concatenate(chunks)
        allc = np.concatenate(counts)
        base_px = allk >> log_nb
        base_py = allk & (n_base - 1)
        zl, txl, tyl, lenl, pixl, cntl = [], [], [], [], [], []
        for z in range(min_zoom, base_zoom + 1):
            shift = base_zoom - z
            zpx = base_px >> shift
            zpy = base_py >> shift
            n = 1 << z
            tkey = ((zpx // tile_size) * n + (zpy // tile_size)) \
                * (1 << pix_bits) \
                + (zpy % tile_size) * tile_size + (zpx % tile_size)
            order = np.argsort(tkey, kind="stable")
            ks = tkey[order]
            starts = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1]])
            uk = ks[starts]
            csum = np.add.reduceat(allc[order], starts)
            tile = uk >> pix_bits
            pix = (uk & ((1 << pix_bits) - 1)).astype(np.int32)
            tst = np.flatnonzero(np.r_[True, tile[1:] != tile[:-1]])
            ten = np.r_[tst[1:], len(tile)]
            utile = tile[tst]
            zl.append(np.full(len(utile), z, dtype=np.int64))
            txl.append((utile // n).astype(np.int64))
            tyl.append((utile % n).astype(np.int64))
            lenl.append((ten - tst).astype(np.int64))
            pixl.append(pix)
            cntl.append(csum.astype(np.int64))
        yield _pack_frame(
            np.concatenate(zl), np.concatenate(txl),
            np.concatenate(tyl), np.concatenate(lenl),
            np.concatenate(pixl), np.concatenate(cntl), n_buckets)

    packed = staged.mapInPandas(partial, _PACKED_SCHEMA)
    return _merge_packed(packed, nparts, dense=_dense)


def build_pyramid(points: DataFrame, base_zoom: int, min_zoom: int = 0,
                  tile_size: int = 256, lon: str = "lon", lat: str = "lat",
                  codec: str | None = None) -> DataFrame:
    """Full pyramid: base zoom rendered from points, overview zooms
    aggregated concurrently in the same single-shuffle pass
    (see sparse_pyramid); densified inside the merge kernel (no
    extra Arrow stage)."""
    return sparse_pyramid(points, base_zoom, min_zoom, tile_size,
                          lon, lat, _dense=(tile_size, codec))


def page_density_tiles(
    points: DataFrame, zoom: int, tile_size: int = 256,
    lon: str = "lon", lat: str = "lat", codec: str | None = None,
) -> DataFrame:
    """Page-density raster at one zoom, count of points per pixel:
    the one-level pyramid, build_pyramid(points, zoom, zoom, ...)."""
    return build_pyramid(points, zoom, zoom, tile_size, lon, lat, codec)


def tiles_as_features(tiles: DataFrame, gt: list[float] | None = None,
                      skip_value: float | None = None) -> DataFrame:
    """Explode tiles into per-pixel feature rows — the engine's UDTF
    analog of ``gdal raster as-features``
    (apps/gdalalg_raster_as_features.cpp): one row per pixel with its
    global pixel coords, georeferenced center, and value.

    ``skip_value`` drops pixels of that value (e.g. 0 background) so
    sparse rasters don't explode into mostly-empty rows.
    """
    from pyspark.sql.types import DoubleType, LongType, StructField

    out_schema = StructType([
        StructField("zoom", IntegerType()),
        StructField("band", IntegerType()),
        StructField("px", LongType()),
        StructField("py", LongType()),
        StructField("x", DoubleType()),
        StructField("y", DoubleType()),
        StructField("value", DoubleType()),
    ])
    gt_ = gt

    @kernel_name("operators.tiling.as_features")
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for _, r in b.iterrows():
                ts = int(r["tile_size"])
                arr = decode_tile(r["data"], r["dtype"], ts) \
                    .astype(np.float64)
                jj, ii = np.mgrid[0:ts, 0:ts]
                keep = np.ones((ts, ts), dtype=bool)
                if skip_value is not None:
                    keep = arr != skip_value
                gx = int(r["tile_x"]) * ts + ii[keep]
                gy = int(r["tile_y"]) * ts + jj[keep]
                if gt_ is not None:
                    wx = gt_[0] + (gx + 0.5) * gt_[1] + (gy + 0.5) * gt_[2]
                    wy = gt_[3] + (gx + 0.5) * gt_[4] + (gy + 0.5) * gt_[5]
                else:
                    wx = gx + 0.5
                    wy = gy + 0.5
                yield pd.DataFrame({
                    "zoom": int(r["zoom"]), "band": int(r["band"]),
                    "px": gx.astype(np.int64),
                    "py": gy.astype(np.int64),
                    "x": wx.astype(np.float64),
                    "y": wy.astype(np.float64),
                    "value": arr[keep],
                })

    return tiles.mapInPandas(kernel, out_schema)


def tile_y_file(tiles: DataFrame, convention: str = "xyz") -> DataFrame:
    """Apply the XYZ/TMS file-name convention
    (gdalalg_raster_tile.cpp:509-514 GetFileY)."""
    if convention == "xyz":
        return tiles.withColumn("file_y", F.col("tile_y"))
    return tiles.withColumn(
        "file_y",
        F.expr("CAST(POWER(2, zoom) AS BIGINT) - 1 - tile_y"),
    )


def _to_byte(arr: np.ndarray) -> np.ndarray:
    """Clip + round to Byte (the translate -ot Byte convention).
    Rounding is the identity on integers, so integer tiles skip the
    float pass."""
    if arr.dtype == np.uint8:
        return arr
    if arr.dtype.kind in "iu":
        return np.clip(arr, 0, 255).astype(np.uint8)
    return np.clip(np.round(arr.astype(np.float64)),
                   0, 255).astype(np.uint8)


def _by_tile(tiles: DataFrame, y_col: str) -> DataFrame:
    """Hash-partition on the tile key at defaultParallelism and sort
    so a tile's bands are adjacent for _tile_rows' carry
    (groupBy().applyInPandas would pay ~ms per tile at millions of
    tiles — CLAUDE.md small-groups lesson)."""
    par = tiles.sparkSession.sparkContext.defaultParallelism
    return (tiles.repartition(par, "zoom", "tile_x", y_col)
            .sortWithinPartitions("zoom", "tile_x", y_col, "band"))


def _tile_rows(batches: Iterator[pd.DataFrame], y_col: str,
               ok_bands: tuple, format: str, to_byte: bool,
               emit, columns: list) -> Iterator[pd.DataFrame]:
    """Carry each tile's bands across the batches of a _by_tile
    frame: stack them into one (h, w[, c]) image (Byte when
    ``to_byte``) and yield, per input batch, a frame of
    ``emit((zoom, tile_x, y), tile_size, img)`` rows for the tiles
    it completed."""
    cur = None
    chans: list = []
    cur_ts = 0

    def done():
        if len(chans) not in ok_bands:
            raise ValueError(f"{format} tile needs bands in {ok_bands}; "
                             f"got {len(chans)}")
        img = chans[0] if len(chans) == 1 else np.stack(chans, axis=-1)
        return emit(cur, cur_ts, img)

    for b in batches:
        rows = []
        for z, tx, ty, data, dts, ts in zip(
                b["zoom"], b["tile_x"], b[y_col], b["data"], b["dtype"],
                b["tile_size"]):
            key = (int(z), int(tx), int(ty))
            if key != cur:
                if cur is not None:
                    rows.append(done())
                cur, chans, cur_ts = key, [], int(ts)
            arr = decode_tile(data, dts, cur_ts)
            chans.append(_to_byte(arr) if to_byte else arr)
        if rows:
            yield pd.DataFrame(rows, columns=columns)
    if cur is not None:
        yield pd.DataFrame([done()], columns=columns)


def tile_blob_frame(tiles: DataFrame, format: str = "png",
                    quality: int = 75) -> DataFrame:
    """TILE_SCHEMA -> DataFrame(zoom, tile_x, tile_y, blob,
    tile_size): the distributed image-encode stage shared by every
    container tile sink (GeoPackage, MBTiles).

    Hash-partition on the tile key + band sort, one mapInPandas
    carry kernel stacks bands and runs the in-repo PNG/JPEG codec —
    the expensive encode never serializes through the driver; only
    finished blobs leave this frame."""
    if format not in ("png", "jpeg"):
        raise ValueError(f"tile blobs must be png or jpeg; got "
                         f"{format!r}")

    from pyspark.sql.types import LongType, StructField

    from gdal_spark.operators.jpeg import encode_jpeg
    from gdal_spark.operators.png import encode_png

    enc = (encode_png if format == "png"
           else lambda img: encode_jpeg(img, quality=quality))
    ok_bands = (1, 3, 4) if format == "png" else (1, 3)

    out_schema = StructType([
        StructField("zoom", IntegerType()),
        StructField("tile_x", LongType()),
        StructField("tile_y", LongType()),
        StructField("blob", BinaryType()),
        StructField("tile_size", IntegerType()),
    ])
    wt = _by_tile(tiles, "tile_y")

    @kernel_name("operators.tiling.encode")
    def encode_kernel(batches: Iterator[pd.DataFrame]
                      ) -> Iterator[pd.DataFrame]:
        yield from _tile_rows(
            batches, "tile_y", ok_bands, format, True,
            lambda key, ts, img: (*key, enc(img), ts), out_schema.names)

    return wt.mapInPandas(encode_kernel, out_schema)


def bounded_local_stream(df: DataFrame, limit_rows: int = 100_000):
    """Driver-side row iterator for single-writer sinks (SQLite
    containers): materialize the frame ONCE (persist + count),
    ``collect()`` when provably small — ``toLocalIterator`` pays a
    ~0.1 s job launch PER PARTITION, which dominated the GeoPackage
    sink (0.6 s collect vs 4.3 s iterator for 256 tiles, measured) —
    else stream partitions from the cache with bounded driver
    memory.  Returns (iterator, row_count)."""
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    n = df.count()
    if n <= limit_rows:
        rows = df.collect()
        df.unpersist()
        return iter(rows), n

    def gen():
        try:
            yield from df.toLocalIterator(prefetchPartitions=True)
        finally:
            df.unpersist()

    return gen(), n


def _drop(entry: os.DirEntry) -> None:
    """Remove one entry of a tile tree as rmtree(ignore_errors=True)
    would: a directory with its contents, anything else (a symlink
    included) by unlinking the name itself."""
    if entry.is_dir(follow_symlinks=False):
        shutil.rmtree(entry.path, ignore_errors=True)
    else:
        with suppress(OSError):
            os.unlink(entry.path)


def _tile_tree(path: str) -> tuple[list[str], list[str]]:
    """One driver walk of an existing z/x/y tree before it is
    rewritten in place.  Keeps the directories at depth 1-2 and the
    regular, owner-writable, single-link files at depth 3; removes
    every other entry (symlinks, hard-linked files, a directory where
    a tile file belongs, a file where a z or x directory belongs), so
    an in-place write neither follows a link out of ``path`` nor
    changes bytes that another name shares.  Returns the kept files
    and the kept directories, each x directory before its z directory
    and ``path`` last."""
    files: list[str] = []
    dirs: list[str] = []
    with os.scandir(path) as zs:
        for z in zs:
            if not z.is_dir(follow_symlinks=False):
                _drop(z)
                continue
            with os.scandir(z.path) as xs:
                for x in xs:
                    if not x.is_dir(follow_symlinks=False):
                        _drop(x)
                        continue
                    with os.scandir(x.path) as ys:
                        for y in ys:
                            st = y.stat(follow_symlinks=False)
                            if (stat.S_ISREG(st.st_mode)
                                    and st.st_nlink == 1
                                    and st.st_mode & stat.S_IWUSR):
                                files.append(y.path)
                            else:
                                _drop(y)
                    dirs.append(x.path)
            dirs.append(z.path)
    dirs.append(path)
    return files, dirs


def _prune(files: list[str], dirs: list[str], written: set[str]) -> None:
    """Delete the kept files this write did not produce, then every
    kept directory left empty (children before parents)."""
    for p in files:
        if p not in written:
            with suppress(OSError):
                os.unlink(p)
    for d in dirs:
        with suppress(OSError):     # ENOTEMPTY: the write filled it
            os.rmdir(d)


def write_tiles(tiles: DataFrame, path: str, convention: str = "xyz",
                mode: str = "overwrite", format: str = "parquet",
                quality: int = 75) -> None:
    """Tile sink.

    format="parquet" (default): zoom=*/... parquet layout (Hive
    scheme, the same layout as apps/gdalalg_vector_partition.cpp).

    format="png" | "jpeg" | "gtiff": real z/x/y.<ext> files (the
    slippy-map layout the reference's tile writer emits,
    apps/gdalalg_raster_tile.cpp:520-545; the png/jpeg/webp format
    option surfaces at :2564-2569) — every tile's bands stack into
    grey/RGB(/RGBA for png) channels, and each executor writes its
    own files (path must be a shared filesystem all executors can
    reach — same contract as the reference writing a local output
    directory).  png/jpeg clip+round values to Byte (the translate
    -ot Byte convention); gtiff keeps the NATIVE dtype and stamps
    each tile with its EPSG:3857 geotransform + GeoKeys, so the
    pyramid doubles as a georeferenced raster dataset.  All three
    codecs are in-repo spec implementations (operators/png.py,
    operators/jpeg.py — baseline JFIF, ``quality`` applies the IJG
    scaling — and operators/gtiff.py — TIFF 6.0 + GeoTIFF 1.1,
    deflate), so output decodes in any client; webp is declared out
    of scope (COVERAGE.md).

    mode="overwrite" leaves the same tree as deleting ``path`` and
    writing afresh, file for file and byte for byte, but rewrites an
    existing pyramid IN PLACE: a driver walk first removes whatever
    is not a z/x directory or a plain single-link tile file (links
    are never written through), each tile is then written over its
    old file without truncating it to zero (write, then ftruncate to
    the new length), and the driver finally deletes the files this
    write did not produce and the directories left empty.  Re-creating
    every file cost as much as encoding it.  A reader during the
    rewrite may see a half-written tile (old tail, or new head over
    old bytes) where a delete-first write showed a missing one.
    mode="append" writes over the named files and keeps the rest.  A
    ``path`` that exists and is not a directory is refused before
    any job runs.
    """
    if format == "parquet":
        tile_y_file(tiles, convention).write.partitionBy("zoom") \
            .parquet(path, mode=mode)
        return
    if format not in ("png", "jpeg", "gtiff"):
        raise ValueError(f"unknown tile sink format {format!r}")

    if "://" in str(path):
        # the file branch writes with os.open on executors and walks
        # and prunes on the driver — a URI-scheme path (hdfs://,
        # s3a://) would silently land on executor-local disks.  The
        # parquet branch goes through Hadoop FS and accepts them.
        raise ValueError(
            f"{format} tile sink needs a plain filesystem path, got "
            f"{path!r} (object-store/HDFS URIs are supported by the "
            f"parquet sink; for {format}, write locally and upload)")
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unknown {format} sink mode {mode!r}")
    if os.path.lexists(path) and not os.path.isdir(path):
        raise ValueError(f"{format} tile sink path {path!r} exists and "
                         f"is not a directory")
    # a symlinked root is written through, uncleaned, as rmtree (which
    # refuses symlinks) left it
    kept = (_tile_tree(path) if mode == "overwrite"
            and os.path.isdir(path) and not os.path.islink(path)
            else None)

    from gdal_spark.operators.gtiff import encode_gtiff
    from gdal_spark.operators.jpeg import encode_jpeg
    from gdal_spark.operators.png import encode_png

    if format == "png":
        ext, ok_bands = "png", (1, 3, 4)
        enc = encode_png
    elif format == "jpeg":
        ext, ok_bands = "jpg", (1, 3)
        enc = lambda img: encode_jpeg(img, quality=quality)  # noqa: E731
    else:                       # gtiff: native dtype, georeferenced
        ext, ok_bands = "tif", (1, 2, 3, 4)
        enc = None              # needs the tile key; built in flush

    def tile_path(z, tx, fy) -> str:
        return os.path.join(path, str(z), str(tx), f"{fy}.{ext}")

    out_schema = StructType([
        StructField("zoom", IntegerType()),
        StructField("tile_x", IntegerType()),
        StructField("file_y", IntegerType()),
        StructField("nbytes", LongType()),
    ])
    wt = _by_tile(tile_y_file(tiles, convention), "file_y")

    def write_file(key, ts, img):
        z, tx, fy = key
        if format == "gtiff":
            # native dtype + EPSG:3857 georeferencing derived from the
            # tile key (the reference tile writer's GeoTIFF output path)
            ty = fy if convention == "xyz" else (1 << z) - 1 - fy
            size = 2.0 * geo.ORIGIN / (1 << z)
            px = size / ts
            gt = (-geo.ORIGIN + tx * size, px, 0.0,
                  geo.ORIGIN - ty * size, 0.0, -px)
            data = encode_gtiff(img, geotransform=gt, epsg=3857)
        else:
            data = enc(img)
        p = tile_path(z, tx, fy)
        # no O_TRUNC: rewriting a file cut to zero cost as much as
        # creating it anew
        try:
            fd = os.open(p, os.O_WRONLY | os.O_CREAT, 0o666)
        except FileNotFoundError:
            os.makedirs(os.path.dirname(p), exist_ok=True)
            fd = os.open(p, os.O_WRONLY | os.O_CREAT, 0o666)
        try:
            view = memoryview(data)
            while view:
                view = view[os.write(fd, view):]
            os.ftruncate(fd, len(data))
        finally:
            os.close(fd)
        return z, tx, fy, len(data)

    @kernel_name("operators.tiling.write")
    def write_files(batches: Iterator[pd.DataFrame]
                    ) -> Iterator[pd.DataFrame]:
        # png/jpeg are Byte formats; gtiff keeps the native dtype
        yield from _tile_rows(batches, "file_y", ok_bands, format,
                              format != "gtiff", write_file,
                              out_schema.names)

    rows = wt.mapInPandas(write_files, out_schema).collect()
    if kept is not None:
        _prune(*kept, {tile_path(*r[:3]) for r in rows})
