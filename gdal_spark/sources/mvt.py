"""Mapbox Vector Tiles (MVT) driver — distributed write + read.

The reference ships an MVT reader/writer pair
(/root/reference/ogr/ogrsf_frmts/mvt/ogrmvtdataset.cpp; option
surface and defaults in mvtutils.h:20-60: EXTENT=4096, BUFFER=80,
MINZOOM=0, MAXZOOM=5, gzip-compressed tiles).  This module
re-derives both sides from the PUBLIC Mapbox vector-tile-spec 2.1
(protobuf wire layout, zigzag command encoding, winding rules) —
no reference code involved; the C++ writer is a tile-cache +
sqlite temp-DB design that makes no sense on Spark.

Spark-first shape
-----------------
* ``write_mvt``: two stages.  Stage A is a narrow Arrow-batched
  cover kernel — parse each feature's WKB ONCE, reproject to
  web-mercator, replicate per covered ``(zoom, x, y)`` tile (bbox
  cover expanded by the buffer, the same GetTileIndices epsilon
  math as functions/geo.py so the driver oracle shares the
  formula).  Stage B hash-partitions on the tile key, sorts within
  partitions, and one mapInPandas carry kernel clips + quantizes +
  protobuf-encodes each tile and writes ``{z}/{x}/{y}.pbf``
  (CLAUDE.md small-groups lesson: no per-tile applyInPandas).
  Feature duplication across covering tiles is inherent to the
  format; everything else is one keyed shuffle.
* ``read_mvt``: Spark's built-in ``binaryFile`` source lists and
  ships the ``.pbf`` files distributed; a decode kernel walks the
  protobuf and emits (fid, geometry WKB in lon/lat, typed
  properties) — schema comes from ``metadata.json``, so no
  sampling job.

Scope: POINT/LINESTRING/POLYGON + multis, gzip on/off, optional
per-zoom Douglas-Peucker simplification (tile units).  MAX_SIZE /
MAX_FEATURES tile truncation is NOT implemented (truncation order
would depend on shuffle arrival order — nondeterministic output;
declared in COVERAGE.md).  Coordinates are lon/lat EPSG:4326 on
both sides (the engine convention; the spec's tile space is
reached through the exact web-mercator forms of functions/geo.py).
"""

from __future__ import annotations

import gzip
import json
import os
import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType, BooleanType, DoubleType, IntegerType, LongType,
    StringType, StructField, StructType,
)

from gdal_spark.functions.geo import MERC_LAT_MAX, ORIGIN
from gdal_spark.session import spread_for_kernel

# ---------------------------------------------------------------------
# protobuf wire primitives (public protobuf encoding spec)
# ---------------------------------------------------------------------


def _uvarint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zz(n: int) -> int:
    """Zigzag-encode a signed int (arbitrary Python precision)."""
    return (n << 1) ^ (n >> 63) if -(1 << 63) <= n < (1 << 63) else 0


def _unzz(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _key(field: int, wire: int) -> bytes:
    return _uvarint((field << 3) | wire)


def _ld(field: int, payload: bytes) -> bytes:
    return _key(field, 2) + _uvarint(len(payload)) + payload


def _packed(field: int, vals) -> bytes:
    return _ld(field, b"".join(_uvarint(v) for v in vals))


def _read_uvarint(mv, i: int) -> tuple[int, int]:
    n = shift = 0
    while True:
        b = mv[i]
        i += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, i
        shift += 7


def _walk(mv, i: int, end: int):
    """Yield (field, wire, value) over a protobuf message slice.

    wire 0 -> int, wire 2 -> (start, end) byte range, wire 5 ->
    4-byte range, wire 1 -> 8-byte range."""
    while i < end:
        tag, i = _read_uvarint(mv, i)
        field, wire = tag >> 3, tag & 7
        if wire == 0:
            v, i = _read_uvarint(mv, i)
            yield field, wire, v
        elif wire == 2:
            ln, i = _read_uvarint(mv, i)
            yield field, wire, (i, i + ln)
            i += ln
        elif wire == 5:
            yield field, wire, (i, i + 4)
            i += 4
        elif wire == 1:
            yield field, wire, (i, i + 8)
            i += 8
        else:  # pragma: no cover - malformed input
            raise ValueError(f"unsupported wire type {wire}")


# ---------------------------------------------------------------------
# MVT Value message (spec 4.1)
# ---------------------------------------------------------------------


def _value_pb(v) -> bytes:
    if isinstance(v, (bool, np.bool_)):
        return _key(7, 0) + _uvarint(1 if v else 0)
    if isinstance(v, (int, np.integer)):
        return _key(6, 0) + _uvarint(_zz(int(v)))
    if isinstance(v, (float, np.floating)):
        return _key(3, 1) + struct.pack("<d", float(v))
    return _ld(1, str(v).encode("utf-8"))


def _value_decode(mv, lo: int, hi: int):
    for field, wire, v in _walk(mv, lo, hi):
        if field == 1:
            return bytes(mv[v[0]:v[1]]).decode("utf-8")
        if field == 2:
            return float(struct.unpack("<f", mv[v[0]:v[1]])[0])
        if field == 3:
            return struct.unpack("<d", mv[v[0]:v[1]])[0]
        if field == 4:  # int64 varint (two's complement)
            return v - (1 << 64) if v >= (1 << 63) else v
        if field == 5:  # uint64
            return v
        if field == 6:
            return _unzz(v)
        if field == 7:
            return bool(v)
    return None


# ---------------------------------------------------------------------
# geometry command encoding (spec 4.3)
# ---------------------------------------------------------------------

_MOVETO, _LINETO, _CLOSEPATH = 1, 2, 7


def _cmds_points(pts: np.ndarray) -> list[int]:
    cmds = [(len(pts) << 3) | _MOVETO]
    cx = cy = 0
    for x, y in pts:
        cmds.append(_zz(int(x) - cx))
        cmds.append(_zz(int(y) - cy))
        cx, cy = int(x), int(y)
    return cmds


def _cmds_paths(parts: list[np.ndarray], close: bool) -> list[int]:
    cmds: list[int] = []
    cx = cy = 0
    for p in parts:
        cmds.append((1 << 3) | _MOVETO)
        cmds.append(_zz(int(p[0, 0]) - cx))
        cmds.append(_zz(int(p[0, 1]) - cy))
        cx, cy = int(p[0, 0]), int(p[0, 1])
        n = len(p)
        if n > 1:
            cmds.append(((n - 1) << 3) | _LINETO)
            for i in range(1, n):
                cmds.append(_zz(int(p[i, 0]) - cx))
                cmds.append(_zz(int(p[i, 1]) - cy))
                cx, cy = int(p[i, 0]), int(p[i, 1])
        if close:
            cmds.append((1 << 3) | _CLOSEPATH)
    return cmds


def _decode_cmds(gtype: int, cmds: list[int]) -> list[np.ndarray]:
    """Commands -> list of int (n,2) parts.  Polygon rings come back
    closed (first point repeated)."""
    parts: list[np.ndarray] = []
    cur: list[tuple[int, int]] = []
    cx = cy = 0
    i = 0
    while i < len(cmds):
        c = cmds[i]
        i += 1
        cmd, cnt = c & 7, c >> 3
        if cmd == _MOVETO:
            for _ in range(cnt):
                cx += _unzz(cmds[i])
                cy += _unzz(cmds[i + 1])
                i += 2
                if gtype == 1:
                    parts.append(np.array([[cx, cy]], dtype=np.int64))
                else:
                    if cur:
                        parts.append(np.array(cur, dtype=np.int64))
                    cur = [(cx, cy)]
        elif cmd == _LINETO:
            for _ in range(cnt):
                cx += _unzz(cmds[i])
                cy += _unzz(cmds[i + 1])
                i += 2
                cur.append((cx, cy))
        elif cmd == _CLOSEPATH:
            if cur:
                cur.append(cur[0])
                parts.append(np.array(cur, dtype=np.int64))
                cur = []
        else:  # pragma: no cover
            raise ValueError(f"bad geometry command {cmd}")
    if cur:
        parts.append(np.array(cur, dtype=np.int64))
    return parts


def _int_ring_area2(r: np.ndarray) -> int:
    """2x signed shoelace area of a CLOSED int ring in y-DOWN tile
    coords (spec 4.3.4.4: exterior rings have positive area)."""
    x, y = r[:-1, 0].astype(object), r[:-1, 1].astype(object)
    xn, yn = r[1:, 0].astype(object), r[1:, 1].astype(object)
    return int(np.sum(x * yn - xn * y))


# ---------------------------------------------------------------------
# layer assembly
# ---------------------------------------------------------------------


def _encode_layer(name: str, extent: int, feats: list) -> bytes:
    """feats: [(fid|None, gtype, cmds, {prop: value})] -> Tile bytes."""
    keys: dict[str, int] = {}
    vals: dict[bytes, int] = {}
    body = bytearray()
    for fid, gtype, cmds, props in feats:
        f = bytearray()
        if fid is not None:
            f += _key(1, 0) + _uvarint(int(fid))
        tags: list[int] = []
        for k, v in props.items():
            if v is None or (isinstance(v, float) and np.isnan(v)):
                continue
            ki = keys.setdefault(k, len(keys))
            vb = _value_pb(v)
            vi = vals.setdefault(vb, len(vals))
            tags.append(ki)
            tags.append(vi)
        if tags:
            f += _packed(2, tags)
        f += _key(3, 0) + _uvarint(gtype)
        f += _packed(4, cmds)
        body += _ld(2, bytes(f))
    layer = bytearray()
    layer += _key(15, 0) + _uvarint(2)          # version (required)
    layer += _ld(1, name.encode("utf-8"))
    layer += bytes(body)
    for k in keys:                               # insertion-ordered
        layer += _ld(3, k.encode("utf-8"))
    for vb in vals:
        layer += _ld(4, vb)
    layer += _key(5, 0) + _uvarint(extent)
    return _ld(3, bytes(layer))                  # Tile.layers


# ---------------------------------------------------------------------
# mercator helpers (numpy twins of functions/geo.py SQL forms)
# ---------------------------------------------------------------------


def _merc_xy(coords: np.ndarray) -> np.ndarray:
    lon = coords[:, 0]
    lat = np.clip(coords[:, 1], -MERC_LAT_MAX, MERC_LAT_MAX)
    mx = lon * ORIGIN / 180.0
    my = np.log(np.tan((90.0 + lat) * np.pi / 360.0)) / np.pi * ORIGIN
    return np.stack([mx, my], axis=1)


def _inv_merc(coords: np.ndarray) -> np.ndarray:
    lon = coords[:, 0] / ORIGIN * 180.0
    lat = np.degrees(
        2.0 * np.arctan(np.exp(coords[:, 1] / ORIGIN * np.pi))
        - np.pi / 2.0)
    return np.stack([lon, lat], axis=1)


def _tile_cover(bbox, zoom: int, buf_m: float):
    """GetTileIndices cover of a mercator bbox expanded by buf_m —
    the +1e-3 epsilon/clamp formula of functions/geo.py TILE_X_SQL,
    so point covers match the shared SQL exactly."""
    tw = 2.0 * ORIGIN / (1 << zoom)
    mi = (1 << zoom) - 1
    txmin = int(min(max(np.floor((bbox[0] - buf_m + ORIGIN) / tw + 0.001), 0), mi))
    txmax = int(min(max(np.floor((bbox[2] + buf_m + ORIGIN) / tw + 0.001), 0), mi))
    tymin = int(min(max(np.floor((ORIGIN - (bbox[3] + buf_m)) / tw + 0.001), 0), mi))
    tymax = int(min(max(np.floor((ORIGIN - (bbox[1] - buf_m)) / tw + 0.001), 0), mi))
    return txmin, txmax, tymin, tymax


def _geom_wkb_merc(g) -> bytes:
    """Re-serialize a parsed Geom whose parts are already mercator."""
    from gdal_spark.geometry import wkb as W

    if g.kind == W.POINT:
        return W.point_wkb(float(g.parts[0][0, 0]), float(g.parts[0][0, 1]))
    if g.kind == W.MULTIPOINT:
        return W.multipoint_wkb([(p[0, 0], p[0, 1]) for p in g.parts])
    if g.kind == W.LINESTRING:
        return W.linestring_wkb(g.parts[0])
    if g.kind == W.MULTILINESTRING:
        return W.multilinestring_wkb(g.parts)
    po = g.part_offsets
    groups = [g.parts[po[i]:po[i + 1]] for i in range(len(po) - 1)]
    if len(groups) == 1:
        return W.polygon_wkb(list(groups[0]))
    return W.multipolygon_wkb([list(gr) for gr in groups])


def _dedup_consecutive(p: np.ndarray) -> np.ndarray:
    if len(p) < 2:
        return p
    keep = np.ones(len(p), dtype=bool)
    keep[1:] = (p[1:] != p[:-1]).any(axis=1)
    return p[keep]


# ---------------------------------------------------------------------
# per-tile feature preparation (clip + quantize + encode commands)
# ---------------------------------------------------------------------


def _quantize(coords: np.ndarray, x0: float, y_top: float, span: float,
              extent: int) -> np.ndarray:
    ix = np.floor((coords[:, 0] - x0) / span * extent + 0.5)
    iy = np.floor((y_top - coords[:, 1]) / span * extent + 0.5)
    return np.stack([ix, iy], axis=1).astype(np.int64)


def _prep_feature(g, x0, y_top, span, extent, buffer, simp_tol):
    """Clip a mercator Geom to the buffered tile and encode commands.

    Returns (gtype, cmds) or None if nothing survives."""
    from gdal_spark.geometry import wkb as W
    from gdal_spark.geometry.lines import clip_line_to_rings
    from gdal_spark.geometry.ops import clip_ring_rect, douglas_peucker

    buf_m = buffer / extent * span
    rx0, ry0 = x0 - buf_m, y_top - span - buf_m
    rx1, ry1 = x0 + span + buf_m, y_top + buf_m

    if g.kind in (W.POINT, W.MULTIPOINT):
        pts = np.vstack(g.parts)
        q = _quantize(pts, x0, y_top, span, extent)
        # cover already restricted points to the buffered tile; the
        # epsilon tile assignment may leave a point 1 unit outside,
        # which the spec allows (coords may exceed the extent)
        return (1, _cmds_points(q)) if len(q) else None

    if g.kind in (W.LINESTRING, W.MULTILINESTRING):
        rect = np.array([(rx0, ry0), (rx1, ry0), (rx1, ry1),
                         (rx0, ry1), (rx0, ry0)])
        out = []
        for p in g.parts:
            for piece in clip_line_to_rings(p, [rect]):
                q = _dedup_consecutive(
                    _quantize(piece, x0, y_top, span, extent))
                if simp_tol and len(q) > 2:
                    q = np.rint(douglas_peucker(
                        q.astype(np.float64), simp_tol)).astype(np.int64)
                if len(q) >= 2:
                    out.append(q)
        return (2, _cmds_paths(out, close=False)) if out else None

    # polygon kinds: per part, shell first then holes
    po = g.part_offsets
    rings_out: list[np.ndarray] = []
    for gi in range(len(po) - 1):
        grp = g.parts[po[gi]:po[gi + 1]]
        shell_q = None
        holes_q = []
        for ri, r in enumerate(grp):
            c = clip_ring_rect(r, rx0, ry0, rx1, ry1)
            if not len(c):
                if ri == 0:
                    break
                continue
            q = _dedup_consecutive(
                _quantize(c[:-1], x0, y_top, span, extent))
            if simp_tol and len(q) > 3:
                q = np.rint(douglas_peucker(
                    q.astype(np.float64), simp_tol)).astype(np.int64)
                q = _dedup_consecutive(q)
            if len(q) < 3:
                if ri == 0:
                    break
                continue
            closed = np.vstack([q, q[:1]])
            a2 = _int_ring_area2(closed)
            if a2 == 0:
                if ri == 0:
                    break
                continue
            # spec 4.3.4.4: exterior positive, interior negative
            # (y-down coords)
            want_pos = ri == 0
            if (a2 > 0) != want_pos:
                q = q[::-1]
            if ri == 0:
                shell_q = q
            else:
                holes_q.append(q)
        if shell_q is not None:
            rings_out.append(shell_q)
            rings_out.extend(holes_q)
    if not rings_out:
        return None
    return (3, _cmds_paths(rings_out, close=True))


# ---------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------

def _coerce_value(v, ftype: str):
    """Pin a pandas cell to its DECLARED field type (NaN -> None)."""
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return None
    if ftype == "Integer64":
        return int(v)
    if ftype == "Real":
        return float(v)
    if ftype == "Boolean":
        return bool(v)
    return str(v)


_OK_PROP_TYPES = {"string": "String", "bigint": "Integer64",
                  "int": "Integer64", "smallint": "Integer64",
                  "double": "Real", "float": "Real",
                  "boolean": "Boolean"}
_TYPE_TO_SPARK = {"String": StringType(), "Integer64": LongType(),
                  "Real": DoubleType(), "Boolean": BooleanType()}
_TILEJSON_TYPE = {"String": "String", "Integer64": "Number",
                  "Real": "Number", "Boolean": "Boolean"}


_PT_HDR_B = b"\x01\x01\x00\x00\x00"
_NOFID = np.int64(-(1 << 63))          # packed-path null-fid sentinel
_PACKED_ENABLED = True                 # A/B switch for tests/benchmarks


def _splitmix_u64(v: np.ndarray) -> np.ndarray:
    """SplitMix64 finalizer over a uint64 array (wrapping mod 2^64 —
    numpy uint64 arithmetic wraps silently, which is exactly what a
    hash finalizer wants)."""
    v = v + np.uint64(0x9E3779B97F4A7C15)
    v = (v ^ (v >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    v = (v ^ (v >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return v ^ (v >> np.uint64(31))


def _tile_bucket(z: np.ndarray, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Deterministic tile-key hash for the packed shuffle: every
    entry of one (z, x, y) tile maps to the same bucket on every
    executor (NEVER python hash() — process-salted)."""
    h = ((z.astype(np.uint64) << np.uint64(52))
         ^ (x.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15))
         ^ (y.astype(np.uint64) * np.uint64(0xC2B2AE3D27D4EB4F)))
    return _splitmix_u64(h)


def _uvarint_arr(v: np.ndarray):
    """Vectorized protobuf varints for a uint64 array.

    Returns (flat uint8 buffer, per-value start offsets, per-value
    byte lengths); concatenating buffer slices reproduces
    ``b"".join(_uvarint(x) for x in v)`` byte-for-byte."""
    n = len(v)
    lens = np.ones(n, dtype=np.int64)
    x = v >> np.uint64(7)
    while x.any():
        lens += (x != 0).astype(np.int64)
        x = x >> np.uint64(7)
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    buf = np.zeros(int(offs[-1]), dtype=np.uint8)
    x = v.astype(np.uint64, copy=True)
    idx = np.arange(n)
    k = 0
    while len(idx):
        more = lens[idx] > k + 1
        buf[offs[idx] + k] = (x[idx] & np.uint64(0x7F)).astype(np.uint8) \
            | (more.astype(np.uint8) << np.uint8(7))
        x[idx] = x[idx] >> np.uint64(7)
        idx = idx[more]
        k += 1
    return buf, offs[:-1], lens


def _scatter_var(dst: np.ndarray, pos: np.ndarray, src: np.ndarray,
                 src_offs: np.ndarray, src_lens: np.ndarray) -> np.ndarray:
    """Copy variable-length byte runs src[src_offs[i]:+src_lens[i]]
    into dst at pos[i]; returns pos advanced by src_lens."""
    if len(pos):
        mx = int(src_lens.max()) if len(src_lens) else 0
        for k in range(mx):
            m = src_lens > k
            dst[pos[m] + k] = src[src_offs[m] + k]
    return pos + src_lens


def _point_feature_bytes(fids: np.ndarray | None, zzx: np.ndarray,
                         zzy: np.ndarray):
    """Vectorized MVT Feature messages for single-point features —
    byte-identical to the ``_encode_layer`` per-feature loop over
    ``(fid, 1, (9, zzx, zzy), {})`` feats::

        0x12 L( [0x08 fid]?  0x18 0x01  0x22 L2( 0x09 zzx zzy ) )

    ``fids`` is an int64 array (``_NOFID`` marks a null fid, which
    omits field 1 exactly as the loop does for ``fid is None``) or
    None.  Returns (uint8 buffer, int64 offsets[n+1])."""
    n = len(zzx)
    bx, ox, lx = _uvarint_arr(zzx.astype(np.uint64))
    by, oy, ly = _uvarint_arr(zzy.astype(np.uint64))
    if fids is not None:
        valid = fids != _NOFID
        bf, of, lf = _uvarint_arr(
            np.where(valid, fids, 0).astype(np.uint64))
        lf = np.where(valid, lf, 0)
        fid_part = np.where(valid, 1 + lf, 0)
    else:
        valid = None
        fid_part = np.zeros(n, dtype=np.int64)
    cmd_len = 1 + lx + ly                       # 0x09 + zzx + zzy
    bc, oc, lc = _uvarint_arr(cmd_len.astype(np.uint64))
    inner = fid_part + 2 + 1 + lc + cmd_len     # 18 01 | 22 L2 cmds
    bi, oi, li = _uvarint_arr(inner.astype(np.uint64))
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(1 + li + inner, out=offs[1:])     # 12 L inner
    buf = np.zeros(int(offs[-1]), dtype=np.uint8)
    pos = offs[:-1].copy()
    buf[pos] = 0x12
    pos += 1
    pos = _scatter_var(buf, pos, bi, oi, li)
    if fids is not None:
        buf[pos[valid]] = 0x08
        pos = pos + valid.astype(np.int64)
        pos = _scatter_var(buf, pos, bf, of, lf)
    buf[pos] = 0x18
    pos += 1
    buf[pos] = 0x01
    pos += 1
    buf[pos] = 0x22
    pos += 1
    pos = _scatter_var(buf, pos, bc, oc, lc)
    buf[pos] = 0x09
    pos += 1
    pos = _scatter_var(buf, pos, bx, ox, lx)
    _scatter_var(buf, pos, by, oy, ly)
    return buf, offs


def _feature_pb(fid, gtype: int, cmds) -> bytes:
    """One no-properties Feature message (the _encode_layer loop body
    minus tags)."""
    f = bytearray()
    if fid is not None:
        f += _key(1, 0) + _uvarint(int(fid))
    f += _key(3, 0) + _uvarint(gtype)
    f += _packed(4, cmds)
    return _ld(2, bytes(f))


def _wrap_layer(name: str, extent: int, body: bytes) -> bytes:
    """Tile message around a pre-built feature-bytes body —
    byte-identical to _encode_layer with zero keys/values."""
    layer = (_key(15, 0) + _uvarint(2) + _ld(1, name.encode("utf-8"))
             + body + _key(5, 0) + _uvarint(extent))
    return _ld(3, layer)


def _mvt_prepare_packed(df: DataFrame, geometry_col: str, minzoom: int,
                        maxzoom: int, extent: int, buffer: int,
                        fid_col: str | None):
    """Packed stage A for no-properties layers (guide §2.3: shuffle
    row OVERHEAD was the exchange cost, not entry bytes — same
    packing pattern as the pyramid partial shuffle).

    The cover kernel accumulates (tile, fid, merc x/y | wkb) entries
    per task and ships ONE blob row per (source partition, tile
    bucket): int16/int64/float64 arrays + a wkb side table, ~34
    bytes per point entry instead of a 7-column row.  Buckets =
    32 x defaultParallelism splitmix keys so the hash partitioner
    spreads evenly (§2.5); all entries of a tile share a bucket, so
    the encode kernel sees whole tiles.  Per-task memory is one
    bucket group (~1/32 of a reduce partition), matching the sorted
    carry contract of the row path."""
    zooms = list(range(minzoom, maxzoom + 1))
    ext, buf = extent, buffer
    has_fid = fid_col is not None
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    n_buckets = np.uint64(32 * par)
    fid_name = fid_col

    pack_schema = StructType([StructField("bucket", LongType()),
                              StructField("blob", BinaryType())])

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gdal_spark.geometry.wkb import parse_wkb

        chunks: list[tuple] = []     # (z16,x64,y64,fid|None,px,py,wkbs|None)
        any_wkb = False

        def fid_arr(series):
            vals = series.to_numpy()
            if vals.dtype.kind == "f":       # bigint col WITH NULLS
                na = np.isnan(vals)
                out = np.where(na, 0.0, vals).astype(np.int64)
                out[na] = _NOFID
                return out
            return vals.astype(np.int64, copy=False)

        for b in batches:
            vals = [None if v is None else bytes(v)
                    for v in b[geometry_col]]
            if not vals:
                continue
            fids = fid_arr(b[fid_name]) if has_fid else None
            if all(v is not None and len(v) == 21
                   and v[:5] == _PT_HDR_B for v in vals):
                a = np.frombuffer(b"".join(vals),
                                  dtype=[("hdr", "S5"), ("x", "<f8"),
                                         ("y", "<f8")])
                m = _merc_xy(np.stack([a["x"], a["y"]], axis=1))
                for z in zooms:
                    tw = 2.0 * ORIGIN / (1 << z)
                    mi = (1 << z) - 1
                    buf_m = buf / ext * tw
                    txmin = np.clip(np.floor(
                        (m[:, 0] - buf_m + ORIGIN) / tw + 0.001),
                        0, mi).astype(np.int64)
                    txmax = np.clip(np.floor(
                        (m[:, 0] + buf_m + ORIGIN) / tw + 0.001),
                        0, mi).astype(np.int64)
                    tymin = np.clip(np.floor(
                        (ORIGIN - (m[:, 1] + buf_m)) / tw + 0.001),
                        0, mi).astype(np.int64)
                    tymax = np.clip(np.floor(
                        (ORIGIN - (m[:, 1] - buf_m)) / tw + 0.001),
                        0, mi).astype(np.int64)
                    chunks.append((np.full(len(m), z, np.int16),
                                   txmin, tymin, fids,
                                   m[:, 0], m[:, 1], None))
                    multi = (txmax > txmin) | (tymax > tymin)
                    if multi.any():
                        idx, txs, tys = [], [], []
                        for j in np.flatnonzero(multi):
                            for tx in range(txmin[j], txmax[j] + 1):
                                for ty in range(tymin[j],
                                                tymax[j] + 1):
                                    if tx == txmin[j] and \
                                            ty == tymin[j]:
                                        continue
                                    idx.append(j)
                                    txs.append(tx)
                                    tys.append(ty)
                        ia = np.asarray(idx)
                        chunks.append((
                            np.full(len(ia), z, np.int16),
                            np.asarray(txs, np.int64),
                            np.asarray(tys, np.int64),
                            fids[ia] if has_fid else None,
                            m[ia, 0], m[ia, 1], None))
                continue
            # mixed/non-point batch: per-row (same class as the row
            # path's slow cover); single WKB points become px/py
            # entries (identical quantize law downstream)
            z_l: list = []
            x_l: list = []
            y_l: list = []
            f_l: list = []
            px_l: list = []
            py_l: list = []
            w_l: list = []
            for j, wv in enumerate(vals):
                if wv is None:
                    continue
                fidv = int(fids[j]) if has_fid else 0
                if len(wv) == 21 and wv[:5] == _PT_HDR_B:
                    xy = np.frombuffer(wv, dtype="<f8", offset=5)
                    m1 = _merc_xy(np.array([[xy[0], xy[1]]]))
                    mx, my = float(m1[0, 0]), float(m1[0, 1])
                    for z in zooms:
                        buf_m = buf / ext * (2.0 * ORIGIN / (1 << z))
                        txmin, txmax, tymin, tymax = _tile_cover(
                            (mx, my, mx, my), z, buf_m)
                        for tx in range(txmin, txmax + 1):
                            for ty in range(tymin, tymax + 1):
                                z_l.append(z)
                                x_l.append(tx)
                                y_l.append(ty)
                                f_l.append(fidv)
                                px_l.append(mx)
                                py_l.append(my)
                                w_l.append(None)
                    continue
                g = parse_wkb(wv)
                g.parts = [_merc_xy(p) for p in g.parts]
                if not g.parts:
                    continue
                merc = _geom_wkb_merc(g)
                bbox = g.bbox()
                for z in zooms:
                    buf_m = buf / ext * (2.0 * ORIGIN / (1 << z))
                    txmin, txmax, tymin, tymax = _tile_cover(
                        bbox, z, buf_m)
                    for tx in range(txmin, txmax + 1):
                        for ty in range(tymin, tymax + 1):
                            z_l.append(z)
                            x_l.append(tx)
                            y_l.append(ty)
                            f_l.append(fidv)
                            px_l.append(np.nan)
                            py_l.append(np.nan)
                            w_l.append(merc)
                            any_wkb = True
            if z_l:
                chunks.append((
                    np.asarray(z_l, np.int16),
                    np.asarray(x_l, np.int64),
                    np.asarray(y_l, np.int64),
                    np.asarray(f_l, np.int64) if has_fid else None,
                    np.asarray(px_l, np.float64),
                    np.asarray(py_l, np.float64), w_l))

        if not chunks:
            return
        z = np.concatenate([c[0] for c in chunks])
        x = np.concatenate([c[1] for c in chunks])
        y = np.concatenate([c[2] for c in chunks])
        fid = (np.concatenate([c[3] for c in chunks])
               if has_fid else None)
        px = np.concatenate([c[4] for c in chunks])
        py = np.concatenate([c[5] for c in chunks])
        wkbs = None
        if any_wkb:
            wkbs = []
            for c in chunks:
                wkbs.extend(c[6] if c[6] is not None
                            else [None] * len(c[0]))
        bkt = (_tile_bucket(z, x, y) % n_buckets).astype(np.int64)
        order = np.argsort(bkt, kind="stable")
        z, x, y = z[order], x[order], y[order]
        px, py = px[order], py[order]
        if has_fid:
            fid = fid[order]
        if wkbs is not None:
            wkbs = [wkbs[i] for i in order]
        sb = bkt[order]
        chg = np.flatnonzero(sb[1:] != sb[:-1]) + 1
        starts = np.concatenate(([0], chg)).tolist()
        ends = np.concatenate((chg, [len(sb)])).tolist()
        rows_b: list[int] = []
        rows_d: list[bytes] = []
        for s, e in zip(starts, ends):
            flags = 1 if has_fid else 0
            seg_w = wkbs[s:e] if wkbs is not None else None
            has_w = seg_w is not None and \
                any(w is not None for w in seg_w)
            if has_w:
                flags |= 2
            parts = [struct.pack("<Bq", flags, e - s),
                     np.ascontiguousarray(z[s:e]).tobytes(),
                     np.ascontiguousarray(x[s:e]).tobytes(),
                     np.ascontiguousarray(y[s:e]).tobytes(),
                     np.ascontiguousarray(px[s:e]).tobytes(),
                     np.ascontiguousarray(py[s:e]).tobytes()]
            if has_fid:
                parts.append(np.ascontiguousarray(fid[s:e]).tobytes())
            if has_w:
                lens = [0 if w is None else len(w) for w in seg_w]
                woffs = np.zeros(e - s + 1, dtype=np.int64)
                np.cumsum(lens, out=woffs[1:])
                parts.append(woffs.tobytes())
                parts.append(b"".join(w for w in seg_w
                                      if w is not None))
            rows_b.append(int(sb[s]))
            rows_d.append(b"".join(parts))
            if len(rows_b) >= 512:
                yield pd.DataFrame({"bucket": rows_b, "blob": rows_d})
                rows_b, rows_d = [], []
        if rows_b:
            yield pd.DataFrame({"bucket": rows_b, "blob": rows_d})

    return (spread_for_kernel(df).mapInPandas(pack, pack_schema)
            .repartition(par, "bucket")
            .sortWithinPartitions("bucket"))


def _mvt_encode_packed(packed: DataFrame, *, path: str | None,
                       layer: str, extent: int, buffer: int,
                       compress: bool, simplification: float | None,
                       fid_col: str | None, geometry_col: str
                       ) -> DataFrame:
    """Packed stage B: per-bucket carry over the bucket-sorted blob
    rows; point features encode in one vectorized pass per bucket
    (_point_feature_bytes), non-point entries replay the row path's
    _prep_feature law.  Same manifest schema as the row encode."""
    ext, bufp, comp = extent, buffer, compress
    simp = simplification if simplification else None
    lyr = layer
    has_fid = fid_col is not None

    man_schema = StructType([
        StructField("zoom", IntegerType()),
        StructField("tile_x", LongType()),
        StructField("tile_y", LongType()),
        StructField("n_features", LongType()),
        StructField("nbytes", LongType())
        if path is not None else
        StructField("blob", BinaryType()),
    ])

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gdal_spark.geometry.wkb import parse_wkb

        out: list[dict] = []

        def parse_blob(blob: bytes):
            mv = memoryview(blob)
            flags, n = struct.unpack_from("<Bq", mv, 0)
            off = 9
            z = np.frombuffer(mv, np.int16, n, off)
            off += 2 * n
            x = np.frombuffer(mv, np.int64, n, off)
            off += 8 * n
            y = np.frombuffer(mv, np.int64, n, off)
            off += 8 * n
            px = np.frombuffer(mv, np.float64, n, off)
            off += 8 * n
            py = np.frombuffer(mv, np.float64, n, off)
            off += 8 * n
            fid = None
            if flags & 1:
                fid = np.frombuffer(mv, np.int64, n, off)
                off += 8 * n
            wkbs = None
            if flags & 2:
                woffs = np.frombuffer(mv, np.int64, n + 1, off)
                off += 8 * (n + 1)
                data = bytes(mv[off:])
                wkbs = [data[woffs[i]:woffs[i + 1]]
                        if woffs[i + 1] > woffs[i] else None
                        for i in range(n)]
            return z, x, y, fid, px, py, wkbs

        def emit_tile(zv: int, xv: int, yv: int, body: bytes,
                      n_feats: int) -> None:
            blob = _wrap_layer(lyr, ext, body)
            if comp:
                blob = gzip.compress(blob, 6, mtime=0)
            if path is not None:
                d = os.path.join(path, str(zv), str(xv))
                os.makedirs(d, exist_ok=True)
                with open(os.path.join(d, f"{yv}.pbf"), "wb") as fh:
                    fh.write(blob)
                out.append({"zoom": zv, "tile_x": xv, "tile_y": yv,
                            "n_features": n_feats,
                            "nbytes": len(blob)})
            else:
                out.append({"zoom": zv, "tile_x": xv, "tile_y": yv,
                            "n_features": n_feats, "blob": blob})

        def nonpoint_bytes(entries: list, zv: int, xv: int, yv: int):
            span = 2.0 * ORIGIN / (1 << zv)
            x0 = xv * span - ORIGIN
            y_top = ORIGIN - yv * span
            pieces: list[bytes] = []
            k = 0
            # deterministic order (the row path's is shuffle-arrival)
            entries = sorted(entries,
                             key=lambda t: (t[0] is None, t[0] or 0,
                                            t[1]))
            for fidv, wv in entries:
                g = parse_wkb(wv)
                prep = _prep_feature(g, x0, y_top, span, ext, bufp,
                                     simp)
                if prep is None:
                    continue
                pieces.append(_feature_pb(fidv, prep[0], prep[1]))
                k += 1
            return b"".join(pieces), k

        def run_bucket(chunks: list) -> None:
            z = np.concatenate([c[0] for c in chunks])
            x = np.concatenate([c[1] for c in chunks])
            y = np.concatenate([c[2] for c in chunks])
            fid = (np.concatenate([c[3] for c in chunks])
                   if has_fid else None)
            px = np.concatenate([c[4] for c in chunks])
            py = np.concatenate([c[5] for c in chunks])
            wkb_any = any(c[6] is not None for c in chunks)
            pts = ~np.isnan(px)
            np_tiles: dict[tuple, list] = {}
            if wkb_any:
                wkbs: list = []
                for c in chunks:
                    wkbs.extend(c[6] if c[6] is not None
                                else [None] * len(c[0]))
                for i in np.flatnonzero(~pts).tolist():
                    fidv = None
                    if fid is not None and fid[i] != _NOFID:
                        fidv = int(fid[i])
                    np_tiles.setdefault(
                        (int(z[i]), int(x[i]), int(y[i])), []) \
                        .append((fidv, wkbs[i]))
            if pts.any():
                sel = np.flatnonzero(pts)
                zp = z[sel].astype(np.int64)
                xp = x[sel]
                yp = y[sel]
                fp = fid[sel] if fid is not None else None
                keys = ((fp, yp, xp, zp) if fp is not None
                        else (yp, xp, zp))
                o = np.lexsort(keys)
                zp, xp, yp = zp[o], xp[o], yp[o]
                if fp is not None:
                    fp = fp[o]
                pxp = px[sel][o]
                pyp = py[sel][o]
                span = 2.0 * ORIGIN / (1 << zp).astype(np.float64)
                x0 = xp.astype(np.float64) * span - ORIGIN
                y_top = ORIGIN - yp.astype(np.float64) * span
                ix = np.floor((pxp - x0) / span * ext + 0.5) \
                    .astype(np.int64)
                iy = np.floor((y_top - pyp) / span * ext + 0.5) \
                    .astype(np.int64)
                fbuf, foffs = _point_feature_bytes(
                    fp, (ix << 1) ^ (ix >> 63),
                    (iy << 1) ^ (iy >> 63))
                fb = fbuf.tobytes()
                chg = np.flatnonzero(
                    (zp[1:] != zp[:-1]) | (xp[1:] != xp[:-1])
                    | (yp[1:] != yp[:-1])) + 1
                st = np.concatenate(([0], chg)).tolist()
                en = np.concatenate((chg, [len(zp)])).tolist()
                for s, e in zip(st, en):
                    key = (int(zp[s]), int(xp[s]), int(yp[s]))
                    body = fb[foffs[s]:foffs[e]]
                    n_f = e - s
                    extra = np_tiles.pop(key, None)
                    if extra:
                        eb, k = nonpoint_bytes(extra, *key)
                        body += eb
                        n_f += k
                    emit_tile(*key, body, n_f)
            for key in sorted(np_tiles):
                eb, k = nonpoint_bytes(np_tiles[key], *key)
                if k:
                    emit_tile(*key, eb, k)

        cur = None
        acc: list = []
        for b in batches:
            bks = b["bucket"].to_numpy()
            blobs = b["blob"].to_numpy()
            for i in range(len(b)):
                bk = int(bks[i])
                if bk != cur:
                    if acc:
                        run_bucket(acc)
                        acc = []
                    cur = bk
                acc.append(parse_blob(bytes(blobs[i])))
                if len(out) >= 1024:
                    yield pd.DataFrame(out)
                    out = []
        if acc:
            run_bucket(acc)
        if out:
            yield pd.DataFrame(out)

    return packed.mapInPandas(encode, man_schema)


def _mvt_prepare(df: DataFrame, geometry_col: str, minzoom: int,
                 maxzoom: int, extent: int, buffer: int):
    """Shared stage A of every MVT sink (directory, MBTiles): the
    cover kernel + one keyed shuffle.  Returns (covered frame
    sorted by tile key, fid_col, prop_cols, field_types).

    No-properties layers (fid + geometry only — the dominant POI /
    page shape) take the PACKED pipeline instead: the returned
    frame has schema (bucket, blob) and ``_mvt_encode_frame``
    dispatches on it."""
    if not minzoom <= maxzoom:
        raise ValueError("minzoom must be <= maxzoom")
    dt = dict(df.dtypes)
    fid_col = "fid" if "fid" in df.columns and dt["fid"] in (
        "bigint", "int") else None
    prop_cols = [c for c in df.columns
                 if c not in (geometry_col, fid_col)]
    bad = [c for c in prop_cols if dt[c] not in _OK_PROP_TYPES]
    if bad:
        raise ValueError(
            f"mvt properties must be string/int/double/boolean; got "
            f"{[(c, dt[c]) for c in bad]}")
    field_types = {c: _OK_PROP_TYPES[dt[c]] for c in prop_cols}

    if not prop_cols and _PACKED_ENABLED:
        packed = _mvt_prepare_packed(df, geometry_col, minzoom,
                                     maxzoom, extent, buffer, fid_col)
        return packed, fid_col, prop_cols, field_types

    zooms = list(range(minzoom, maxzoom + 1))
    ext, buf = extent, buffer

    # __px/__py carry pure-point geometries as two doubles through
    # the tile shuffle (r7): the point fast path previously rebuilt
    # a 21-byte WKB object per row on BOTH sides of the exchange —
    # two python loops over every feature; now only non-point
    # geometries serialize as WKB (geometry_col stays for them).
    cover_schema = StructType(
        [StructField("zoom", IntegerType()),
         StructField("tile_x", LongType()),
         StructField("tile_y", LongType()),
         StructField(geometry_col, BinaryType()),
         StructField("__px", DoubleType()),
         StructField("__py", DoubleType())]
        + ([StructField(fid_col, LongType())] if fid_col else [])
        + [StructField(c, df.schema[c].dataType) for c in prop_cols])

    _PT_HDR = b"\x01\x01\x00\x00\x00"
    carry_cols = ([fid_col] if fid_col else []) + prop_cols

    def cover(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gdal_spark.geometry.wkb import parse_wkb

        for b in batches:
            vals = [None if v is None else bytes(v)
                    for v in b[geometry_col]]
            # vectorized fast path for pure little-endian POINT
            # batches (the dominant 100-TB shape: POI/page layers):
            # no per-row parse, no per-row dict building
            if vals and all(v is not None and len(v) == 21
                            and v[:5] == _PT_HDR for v in vals):
                raw = b"".join(vals)
                a = np.frombuffer(raw, dtype=[("hdr", "S5"),
                                              ("x", "<f8"),
                                              ("y", "<f8")])
                m = _merc_xy(np.stack([a["x"], a["y"]], axis=1))
                for z in zooms:
                    tw = 2.0 * ORIGIN / (1 << z)
                    mi = (1 << z) - 1
                    buf_m = buf / ext * tw
                    txmin = np.clip(np.floor(
                        (m[:, 0] - buf_m + ORIGIN) / tw + 0.001),
                        0, mi).astype(np.int64)
                    txmax = np.clip(np.floor(
                        (m[:, 0] + buf_m + ORIGIN) / tw + 0.001),
                        0, mi).astype(np.int64)
                    tymin = np.clip(np.floor(
                        (ORIGIN - (m[:, 1] + buf_m)) / tw + 0.001),
                        0, mi).astype(np.int64)
                    tymax = np.clip(np.floor(
                        (ORIGIN - (m[:, 1] - buf_m)) / tw + 0.001),
                        0, mi).astype(np.int64)
                    base = pd.DataFrame({
                        "zoom": np.full(len(m), z, dtype=np.int32),
                        "tile_x": txmin, "tile_y": tymin,
                        geometry_col: None,
                        "__px": m[:, 0], "__py": m[:, 1],
                    })
                    for c in carry_cols:
                        base[c] = b[c].to_numpy()
                    yield base
                    # near-edge duplicates (buffer > 0 only)
                    multi = (txmax > txmin) | (tymax > tymin)
                    if multi.any():
                        extra = []
                        for j in np.flatnonzero(multi):
                            for tx in range(txmin[j], txmax[j] + 1):
                                for ty in range(tymin[j],
                                                tymax[j] + 1):
                                    if tx == txmin[j] and \
                                            ty == tymin[j]:
                                        continue
                                    extra.append((j, tx, ty))
                        idx = np.array([e[0] for e in extra])
                        dup = pd.DataFrame({
                            "zoom": np.full(len(extra), z,
                                            dtype=np.int32),
                            "tile_x": [e[1] for e in extra],
                            "tile_y": [e[2] for e in extra],
                            geometry_col: None,
                            "__px": m[idx, 0], "__py": m[idx, 1],
                        })
                        for c in carry_cols:
                            dup[c] = b[c].to_numpy()[idx]
                        yield dup
                continue

            rows: list[dict] = []
            carried = {c: b[c] for c in carry_cols}
            for j, wkb in enumerate(vals):
                if wkb is None:
                    continue
                g = parse_wkb(wkb)
                g.parts = [_merc_xy(p) for p in g.parts]
                if not g.parts:
                    continue
                merc = _geom_wkb_merc(g)
                bbox = g.bbox()
                base = {c: carried[c].iloc[j] for c in carry_cols}
                base[geometry_col] = merc
                base["__px"] = None
                base["__py"] = None
                for z in zooms:
                    buf_m = buf / ext * (2.0 * ORIGIN / (1 << z))
                    txmin, txmax, tymin, tymax = _tile_cover(
                        bbox, z, buf_m)
                    for tx in range(txmin, txmax + 1):
                        for ty in range(tymin, tymax + 1):
                            rows.append({"zoom": z, "tile_x": tx,
                                         "tile_y": ty, **base})
                            if len(rows) >= 4096:
                                yield pd.DataFrame(rows)
                                rows = []
            if rows:
                yield pd.DataFrame(rows)

    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    covered = (spread_for_kernel(df).mapInPandas(cover, cover_schema)
               .repartition(par, "zoom", "tile_x", "tile_y")
               .sortWithinPartitions("zoom", "tile_x", "tile_y"))
    return covered, fid_col, prop_cols, field_types


def _mvt_encode_frame(covered: DataFrame, *, path: str | None,
                      layer: str, extent: int, buffer: int,
                      compress: bool, simplification: float | None,
                      fid_col: str | None, prop_cols: list[str],
                      field_types: dict, geometry_col: str
                      ) -> DataFrame:
    """Stage B: per-tile clip + quantize + protobuf encode over the
    sorted cover.  With ``path`` set the kernel writes
    ``{z}/{x}/{y}.pbf`` files and emits a manifest (zoom, tile_x,
    tile_y, n_features, nbytes); with ``path=None`` it emits the
    gzip blobs themselves (zoom, tile_x, tile_y, n_features, blob)
    for container sinks (MBTiles).  A (bucket, blob) input frame
    from the packed no-properties stage A dispatches to
    ``_mvt_encode_packed``."""
    if covered.columns == ["bucket", "blob"]:
        return _mvt_encode_packed(
            covered, path=path, layer=layer, extent=extent,
            buffer=buffer, compress=compress,
            simplification=simplification, fid_col=fid_col,
            geometry_col=geometry_col)
    ext, buf, comp, simp = extent, buffer, compress, simplification
    lyr = layer

    man_schema = StructType([
        StructField("zoom", IntegerType()),
        StructField("tile_x", LongType()),
        StructField("tile_y", LongType()),
        StructField("n_features", LongType()),
        StructField("nbytes", LongType())
        if path is not None else
        StructField("blob", BinaryType()),
    ])

    _CONV = {"Integer64": int, "Real": float, "Boolean": bool,
             "String": str}

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gdal_spark.geometry.wkb import parse_wkb

        cur = None
        c_fids: list = []
        c_geos: list = []
        c_props: list = []
        c_pxs: list = []
        c_pys: list = []
        out: list[dict] = []
        EMPTY: dict = {}

        def flush():
            if cur is None or not c_geos:
                return
            z, tx, ty = cur
            span = 2.0 * ORIGIN / (1 << z)
            x0 = tx * span - ORIGIN
            y_top = ORIGIN - ty * span
            enc_feats = []
            simp_tol = simp if simp else None
            # points arrive as __px/__py doubles (no WKB was built):
            # one vectorized quantize for all of them
            pxa = np.asarray(c_pxs, dtype=np.float64)
            pts_mask = ~np.isnan(pxa)
            if pts_mask.any():
                pya = np.asarray(c_pys, dtype=np.float64)
                sel = np.flatnonzero(pts_mask)
                ix = np.floor((pxa[sel] - x0) / span * ext + 0.5) \
                    .astype(np.int64)
                iy = np.floor((y_top - pya[sel]) / span * ext + 0.5) \
                    .astype(np.int64)
                zzx = ((ix << 1) ^ (ix >> 63)).tolist()
                zzy = ((iy << 1) ^ (iy >> 63)).tolist()
                enc_feats = [
                    (c_fids[j], 1, (9, zzx[i], zzy[i]), c_props[j])
                    for i, j in enumerate(sel.tolist())]
            if not pts_mask.all():
                for j in np.flatnonzero(~pts_mask).tolist():
                    wkb = bytes(c_geos[j])
                    if len(wkb) == 21 and \
                            wkb[:5] == b"\x01\x01\x00\x00\x00":
                        # WKB point from a mixed batch: same
                        # quantize law as the column fast path
                        mx, my = np.frombuffer(wkb, dtype="<f8",
                                               offset=5)
                        ix1 = int(np.floor((mx - x0) / span * ext
                                           + 0.5))
                        iy1 = int(np.floor((y_top - my) / span * ext
                                           + 0.5))
                        enc_feats.append(
                            (c_fids[j], 1,
                             (9, (ix1 << 1) ^ (ix1 >> 63),
                              (iy1 << 1) ^ (iy1 >> 63)), c_props[j]))
                        continue
                    g = parse_wkb(wkb)
                    prep = _prep_feature(g, x0, y_top, span, ext,
                                         buf, simp_tol)
                    if prep is not None:
                        enc_feats.append((c_fids[j], prep[0],
                                          prep[1], c_props[j]))
            if not enc_feats:
                return
            blob = _encode_layer(lyr, ext, enc_feats)
            if comp:
                blob = gzip.compress(blob, 6, mtime=0)
            if path is not None:
                d = os.path.join(path, str(z), str(tx))
                os.makedirs(d, exist_ok=True)
                with open(os.path.join(d, f"{ty}.pbf"), "wb") as fh:
                    fh.write(blob)
                out.append({"zoom": z, "tile_x": tx, "tile_y": ty,
                            "n_features": len(enc_feats),
                            "nbytes": len(blob)})
            else:
                out.append({"zoom": z, "tile_x": tx, "tile_y": ty,
                            "n_features": len(enc_feats),
                            "blob": blob})

        def cook(series, ftype):
            """Column -> python list, NaN -> None, values pinned to
            the DECLARED type (a bigint column with nulls arrives
            as float64+NaN — without this the Value message
            silently flips to double).  Vectorized isna: the old
            per-row pd.notna scalar was ~2us/row."""
            vals = series.to_numpy()
            na = pd.isna(vals)
            conv = _CONV[ftype]
            lst = vals.tolist()
            if not na.any():
                return [conv(v) for v in lst]
            return [None if na[j] else conv(lst[j])
                    for j in range(len(lst))]

        for b in batches:
            n = len(b)
            if not n:
                continue
            zs = b["zoom"].to_numpy()
            xs = b["tile_x"].to_numpy()
            ys = b["tile_y"].to_numpy()
            geos = b[geometry_col].to_numpy().tolist()
            pxs = b["__px"].to_numpy(dtype=np.float64).tolist()
            pys = b["__py"].to_numpy(dtype=np.float64).tolist()
            fids = (cook(b[fid_col], "Integer64") if fid_col
                    else [None] * n)
            if prop_cols:
                cooked = {c: cook(b[c], field_types[c])
                          for c in prop_cols}
                props = [{c: cooked[c][j] for c in prop_cols}
                         for j in range(n)]
            else:
                props = [EMPTY] * n
            # vectorized group boundaries over the sorted tile key
            chg = (np.flatnonzero((zs[1:] != zs[:-1])
                                  | (xs[1:] != xs[:-1])
                                  | (ys[1:] != ys[:-1])) + 1)
            starts = np.concatenate(([0], chg)).tolist()
            ends = np.concatenate((chg, [n])).tolist()
            for s, e in zip(starts, ends):
                key = (int(zs[s]), int(xs[s]), int(ys[s]))
                if key != cur:
                    flush()
                    cur = key
                    c_fids, c_geos, c_props = [], [], []
                    c_pxs, c_pys = [], []
                c_fids.extend(fids[s:e])
                c_geos.extend(geos[s:e])
                c_props.extend(props[s:e])
                c_pxs.extend(pxs[s:e])
                c_pys.extend(pys[s:e])
        flush()
        if out:
            yield pd.DataFrame(out)

    return covered.mapInPandas(encode, man_schema)


def write_mvt(df: DataFrame, path: str, *, layer: str = "layer0",
              minzoom: int = 0, maxzoom: int = 5, extent: int = 4096,
              buffer: int = 80, compress: bool = True,
              simplification: float | None = None,
              geometry_col: str = "geometry") -> dict:
    """Write a vector frame as an MVT directory dataset.

    ``{path}/{z}/{x}/{y}.pbf`` (XYZ scheme, gzip when ``compress``)
    plus ``metadata.json``.  An integer ``fid`` column becomes the
    feature id; every other column is a layer property (string /
    int / real / boolean).  Returns summary stats (tiles, features,
    bytes) computed JVM-side — the per-tile manifest never lands on
    the driver.
    """
    if "://" in str(path):
        raise ValueError(
            f"mvt sink needs a plain filesystem path, got {path!r}")

    import shutil

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)

    covered, fid_col, prop_cols, field_types = _mvt_prepare(
        df, geometry_col, minzoom, maxzoom, extent, buffer)
    man = _mvt_encode_frame(
        covered, path=path, layer=layer, extent=extent,
        buffer=buffer, compress=compress,
        simplification=simplification, fid_col=fid_col,
        prop_cols=prop_cols, field_types=field_types,
        geometry_col=geometry_col)
    stats = man.agg(
        F.count("*").alias("tiles"),
        F.sum("n_features").alias("features"),
        F.sum("nbytes").alias("nbytes"),
        F.min(F.when(F.col("zoom") == maxzoom, F.col("tile_x"))).alias("txmin"),
        F.max(F.when(F.col("zoom") == maxzoom, F.col("tile_x"))).alias("txmax"),
        F.min(F.when(F.col("zoom") == maxzoom, F.col("tile_y"))).alias("tymin"),
        F.max(F.when(F.col("zoom") == maxzoom, F.col("tile_y"))).alias("tymax"),
    ).collect()[0]

    meta = _mvt_metadata(
        os.path.basename(path.rstrip("/")) or "mvt", layer,
        minzoom, maxzoom, stats, field_types, bool(fid_col))
    with open(os.path.join(path, "metadata.json"), "w") as fh:
        json.dump(meta, fh, indent=2)
    return {"tiles": int(stats["tiles"] or 0),
            "features": int(stats["features"] or 0),
            "nbytes": int(stats["nbytes"] or 0)}


def _mvt_metadata(name: str, layer: str, minzoom: int, maxzoom: int,
                  stats, field_types: dict, has_fid: bool) -> dict:
    """TileJSON-ish metadata key/value dict (the same content the
    reference writes for directory AND mbtiles outputs)."""
    span = 2.0 * ORIGIN / (1 << maxzoom)
    if stats["txmin"] is not None:
        corners = np.array([
            [stats["txmin"] * span - ORIGIN,
             ORIGIN - (stats["tymax"] + 1) * span],
            [(stats["txmax"] + 1) * span - ORIGIN,
             ORIGIN - stats["tymin"] * span]])
        ll = _inv_merc(corners)
        bounds = [ll[0, 0], ll[0, 1], ll[1, 0], ll[1, 1]]
    else:
        bounds = [-180.0, -85.0, 180.0, 85.0]
    return {
        "name": name,
        "format": "pbf",
        "minzoom": str(minzoom),
        "maxzoom": str(maxzoom),
        "bounds": ",".join(repr(round(v, 7)) for v in bounds),
        "type": "overlay",
        "version": "1.1",
        "json": json.dumps({
            "vector_layers": [{
                "id": layer,
                "fields": {c: _TILEJSON_TYPE[t]
                           for c, t in field_types.items()},
                "minzoom": minzoom, "maxzoom": maxzoom,
            }],
            # exact engine types for lossless schema round-trip
            # (additive; standard readers use vector_layers.fields)
            "field_types": {layer: field_types},
            "fid": has_fid,
        }),
    }


# ---------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------


def _decode_tile(buf: bytes, want_layer: str | None):
    """Parse a Tile message -> (layer_name, extent, features) where
    features = [(fid, gtype, parts_int, {key: value})]."""
    if buf[:2] == b"\x1f\x8b":
        buf = gzip.decompress(buf)
    mv = memoryview(buf)
    for field, _w, rng in _walk(mv, 0, len(mv)):
        if field != 3:
            continue
        lo, hi = rng
        name, lext = None, 4096
        keys: list[str] = []
        vals: list = []
        feat_ranges: list[tuple[int, int]] = []
        for f2, _w2, v2 in _walk(mv, lo, hi):
            if f2 == 1:
                name = bytes(mv[v2[0]:v2[1]]).decode("utf-8")
            elif f2 == 2:
                feat_ranges.append(v2)
            elif f2 == 3:
                keys.append(bytes(mv[v2[0]:v2[1]]).decode("utf-8"))
            elif f2 == 4:
                vals.append(_value_decode(mv, v2[0], v2[1]))
            elif f2 == 5:
                lext = v2
        if want_layer is not None and name != want_layer:
            continue
        feats = []
        for flo, fhi in feat_ranges:
            fid, gtype, tags, cmds = None, 0, [], []
            for f3, w3, v3 in _walk(mv, flo, fhi):
                if f3 == 1:
                    fid = v3
                elif f3 == 2:
                    i = v3[0]
                    while i < v3[1]:
                        t, i = _read_uvarint(mv, i)
                        tags.append(t)
                elif f3 == 3:
                    gtype = v3
                elif f3 == 4:
                    if w3 == 0:
                        cmds.append(v3)
                    else:
                        i = v3[0]
                        while i < v3[1]:
                            c, i = _read_uvarint(mv, i)
                            cmds.append(c)
            props = {keys[tags[i]]: vals[tags[i + 1]]
                     for i in range(0, len(tags) - 1, 2)}
            feats.append((fid, gtype,
                          _decode_cmds(gtype, cmds), props))
        return name, lext, feats
    return None, 4096, []


def _parts_to_wkb(gtype: int, parts: list[np.ndarray], x0: float,
                  y_top: float, span: float, lext: int) -> bytes | None:
    from gdal_spark.geometry import wkb as W

    def to_ll(q: np.ndarray) -> np.ndarray:
        merc = np.stack(
            [x0 + q[:, 0].astype(np.float64) / lext * span,
             y_top - q[:, 1].astype(np.float64) / lext * span], axis=1)
        return _inv_merc(merc)

    if gtype == 1:
        pts = [to_ll(p)[0] for p in parts]
        if not pts:
            return None
        if len(pts) == 1:
            return W.point_wkb(float(pts[0][0]), float(pts[0][1]))
        return W.multipoint_wkb([(p[0], p[1]) for p in pts])
    if gtype == 2:
        lines = [to_ll(p) for p in parts if len(p) >= 2]
        if not lines:
            return None
        if len(lines) == 1:
            return W.linestring_wkb(lines[0])
        return W.multilinestring_wkb(lines)
    # polygon: group rings by winding (positive y-down area = shell)
    groups: list[list[np.ndarray]] = []
    for p in parts:
        if len(p) < 4:
            continue
        a2 = _int_ring_area2(p)
        if a2 == 0:
            continue
        if a2 > 0 or not groups:
            groups.append([to_ll(p)])
        else:
            groups[-1].append(to_ll(p))
    if not groups:
        return None
    if len(groups) == 1:
        return W.polygon_wkb(groups[0])
    return W.multipolygon_wkb(groups)


def _guess_zxy(path: str) -> tuple[int, int, int]:
    """z/x/y from trailing .../z/x/y.pbf path components (the
    reference's standalone-tile heuristic); (0, 0, 0) otherwise."""
    parts = os.path.normpath(path).split(os.sep)
    try:
        y = int(os.path.splitext(parts[-1])[0])
        x = int(parts[-2])
        z = int(parts[-3])
        if 0 <= z <= 30 and 0 <= x < (1 << z) and 0 <= y < (1 << z):
            return z, x, y
    except (ValueError, IndexError):
        pass
    return 0, 0, 0


def _read_mvt_single(spark: SparkSession, path: str, *,
                     layer: str | None = None) -> DataFrame:
    """Standalone-tile open: decode one Tile message on the driver
    (a single tile is bounded by construction — the spec caps tiles
    at a few MB) and return the same frame shape as the directory
    reader, with property types inferred from the value table."""
    z, tx, ty = _guess_zxy(path)
    with open(path, "rb") as fh:
        buf = fh.read()
    _name, lext, feats = _decode_tile(buf, layer)
    span = 2.0 * ORIGIN / (1 << z)
    x0 = tx * span - ORIGIN
    y_top = ORIGIN - ty * span
    ptypes: dict[str, str] = {}
    for _fid, _g, _p, props in feats:
        for k, v in props.items():
            if isinstance(v, bool):
                t = "Boolean"
            elif isinstance(v, int):
                t = "Integer64"
            elif isinstance(v, float):
                t = "Real"
            else:
                t = "String"
            prev = ptypes.get(k)
            if prev is None or prev == t:
                ptypes[k] = t
            elif {prev, t} == {"Integer64", "Real"}:
                ptypes[k] = "Real"
            else:
                ptypes[k] = "String"
    prop_cols = sorted(ptypes)
    schema = StructType(
        [StructField("zoom", IntegerType()),
         StructField("tile_x", LongType()),
         StructField("tile_y", LongType()),
         StructField("fid", LongType()),
         StructField("geometry", BinaryType())]
        + [StructField(c, _TYPE_TO_SPARK[ptypes[c]])
           for c in prop_cols])
    rows = []
    for fid, gtype, gparts, props in feats:
        wkb = _parts_to_wkb(gtype, gparts, x0, y_top, span, lext)
        if wkb is None:
            continue
        row = {"zoom": z, "tile_x": tx, "tile_y": ty,
               "fid": fid, "geometry": wkb}
        for c in prop_cols:
            v = props.get(c)
            row[c] = None if v is None else _coerce_value(v, ptypes[c])
        rows.append(row)
    return spark.createDataFrame(rows, schema)


def read_mvt(spark: SparkSession, path: str, *,
             layer: str | None = None) -> DataFrame:
    """Read an MVT directory dataset distributed.

    One row per feature per tile (MVT stores clipped copies in every
    covering tile — the format semantics, same as the reference's
    reader).  Columns: zoom, tile_x, tile_y, fid, geometry (WKB,
    lon/lat), then the layer properties typed from metadata.json.

    A standalone tile FILE (e.g. ``14/8714/5919.pbf`` outside a
    directory dataset) is also accepted, mirroring the reference's
    standalone-tile open path (ogrmvtdataset.cpp OGRMVTDataset::Open
    guesses z/x/y from the path components): field types are
    inferred from the tile's own value table.
    """
    if os.path.isfile(path):
        return _read_mvt_single(spark, path, layer=layer)
    with open(os.path.join(path, "metadata.json")) as fh:
        meta = json.load(fh)
    j = json.loads(meta["json"])
    layers = j["vector_layers"]
    lyr = layer or layers[0]["id"]
    ftypes = j.get("field_types", {}).get(lyr)
    if ftypes is None:  # foreign metadata: TileJSON names
        vl = next(v for v in layers if v["id"] == lyr)
        ftypes = {c: {"String": "String", "Boolean": "Boolean"}.get(
            t, "Real") for c, t in vl["fields"].items()}
    prop_cols = list(ftypes)

    schema = StructType(
        [StructField("zoom", IntegerType()),
         StructField("tile_x", LongType()),
         StructField("tile_y", LongType()),
         StructField("fid", LongType()),
         StructField("geometry", BinaryType())]
        + [StructField(c, _TYPE_TO_SPARK[ftypes[c]])
           for c in prop_cols])

    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.pbf")
             .option("recursiveFileLookup", "true")
             .load(path))

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows: list[dict] = []
        for b in batches:
            for _, r in b.iterrows():
                p = r["path"]
                parts = p.split("/")
                ty = int(os.path.splitext(parts[-1])[0])
                tx = int(parts[-2])
                z = int(parts[-3])
                span = 2.0 * ORIGIN / (1 << z)
                x0 = tx * span - ORIGIN
                y_top = ORIGIN - ty * span
                _name, lext, feats = _decode_tile(
                    bytes(r["content"]), lyr)
                for fid, gtype, gparts, props in feats:
                    wkb = _parts_to_wkb(gtype, gparts, x0, y_top,
                                        span, lext)
                    if wkb is None:
                        continue
                    row = {"zoom": z, "tile_x": tx, "tile_y": ty,
                           "fid": fid, "geometry": wkb}
                    for c in prop_cols:
                        v = props.get(c)
                        row[c] = None if v is None else \
                            _coerce_value(v, ftypes[c])
                    rows.append(row)
                    if len(rows) >= 4096:
                        yield pd.DataFrame(rows)
                        rows = []
        if rows:
            yield pd.DataFrame(rows)

    return files.select("path", "content").mapInPandas(decode, schema)
