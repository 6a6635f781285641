"""Pure-Python PNG codec for the tile sink.

The reference's tile writer hand-rolls PNG scanline filters over
zlib (apps/gdalalg_raster_tile.cpp:520-545 writes filter-prefixed
rows straight into a deflate stream); this module re-derives the
same output format from the public PNG spec (RFC 2083 / W3C
PNG 1.2): signature, IHDR/IDAT/IEND chunks with CRC32, and the
five per-row filters with the spec's minimum-sum-of-absolute-
differences selection heuristic.  Everything is stdlib zlib +
NumPy — no image library needed, so the z/x/y pyramid becomes
consumable by any slippy-map client.

Supported: 8-bit greyscale (h, w), RGB (h, w, 3), RGBA (h, w, 4).
encode_png is vectorized across rows (all five filter candidates
compute as arrays over every row that needs a search); decode_png
exists for the golden round-trip tests and for reading small tiles
back.

All-zero rows skip the filter search.  Such a row costs 0 under
filter None, and filter None is candidate 0, so the min-sum argmin
(which takes the first minimum) already picks it and writes a zero
filter byte plus zero data.  encode_png therefore builds candidates
only for the non-zero rows (each still predicted from its true row
above, zero or not) and scatters them into a zeroed scanline
buffer: the output is byte-identical to searching every row, and
the per-tile cost follows the non-zero rows of the sparse density
tiles rather than the tile size.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"
_COLOR_TYPE = {1: 0, 3: 2, 4: 6}  # channels -> PNG color type


def _chunk(tag: bytes, payload: bytes) -> bytes:
    crc = zlib.crc32(tag + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + tag + payload \
        + struct.pack(">I", crc)


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor, vectorized (PNG spec 6.6)."""
    p = a.astype(np.int16) + b.astype(np.int16) - c.astype(np.int16)
    pa = np.abs(p - a)
    pb = np.abs(p - b)
    pc = np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a,
                    np.where(pb <= pc, b, c)).astype(np.uint8)


def encode_png(arr: np.ndarray, level: int = 6) -> bytes:
    """Encode (h, w[, c]) uint8 to a PNG byte string with per-row
    adaptive filtering (the spec's min-sum heuristic, the same
    strategy the reference's tile writer implements by hand)."""
    a = np.asarray(arr)
    if a.dtype != np.uint8:
        raise ValueError(f"encode_png needs uint8, got {a.dtype}")
    if a.ndim == 2:
        a = a[:, :, None]
    if a.ndim != 3 or a.shape[2] not in _COLOR_TYPE:
        raise ValueError(f"unsupported shape {arr.shape}")
    h, w, ch = a.shape
    bpp = ch  # bytes per pixel (8-bit only)

    flat = np.ascontiguousarray(a).reshape(h, w * ch)
    # only non-zero rows need the filter search (module docstring);
    # their neighbours come from the full image, zeros above row 0
    nz = np.flatnonzero(flat.any(axis=1))
    cur = flat[nz]
    up = flat[np.maximum(nz - 1, 0)]
    up[nz == 0] = 0
    left = np.zeros_like(cur)
    left[:, bpp:] = cur[:, :-bpp]
    upleft = np.zeros_like(cur)
    upleft[:, bpp:] = up[:, :-bpp]

    cands = np.stack([
        cur,
        cur - left,
        cur - up,
        cur - ((left.astype(np.uint16) + up.astype(np.uint16)) // 2
               ).astype(np.uint8),
        cur - _paeth(left, up, upleft),
    ])  # (5, rows, w*ch) — uint8 arithmetic wraps mod 256 per the spec
    # min sum of |signed byte| per row picks the filter (spec 12.8)
    signed = cands.astype(np.int16)
    cost = np.where(signed < 128, signed, 256 - signed).sum(axis=2)
    pick = cost.argmin(axis=0)  # (rows,)

    rows = np.zeros((h, 1 + w * ch), dtype=np.uint8)
    rows[nz, 0] = pick
    rows[nz, 1:] = cands[pick, np.arange(len(nz))]
    raw = rows.tobytes()

    ihdr = struct.pack(">IIBBBBB", w, h, 8, _COLOR_TYPE[ch], 0, 0, 0)
    return (_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(raw, level))
            + _chunk(b"IEND", b""))


def decode_png(data: bytes) -> np.ndarray:
    """Decode an 8-bit non-interlaced PNG produced by encode_png (or
    any encoder using the same subset).  Returns (h, w) for grey,
    (h, w, c) otherwise."""
    if data[:8] != _SIG:
        raise ValueError("not a PNG")
    off = 8
    w = h = ch = None
    idat = []
    while off < len(data):
        (ln,) = struct.unpack_from(">I", data, off)
        tag = data[off + 4:off + 8]
        payload = data[off + 8:off + 8 + ln]
        off += 12 + ln
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, ilace = struct.unpack(
                ">IIBBBBB", payload)
            if depth != 8 or ilace != 0:
                raise ValueError("only 8-bit non-interlaced PNGs")
            ch = {0: 1, 2: 3, 6: 4, 4: 2}[ctype]
        elif tag == b"IDAT":
            idat.append(payload)
        elif tag == b"IEND":
            break
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), dtype=np.uint8)
    stride = 1 + w * ch
    rows = raw.reshape(h, stride)
    bpp = ch
    out = np.zeros((h, w * ch), dtype=np.uint8)
    for y in range(h):
        f = int(rows[y, 0])
        cur = rows[y, 1:].copy()
        prev = out[y - 1] if y else np.zeros(w * ch, dtype=np.uint8)
        if f == 0:
            out[y] = cur
        elif f == 2:  # up
            out[y] = cur + prev
        elif f in (1, 3, 4):  # sub / average / paeth: sequential in x
            row = out[y]
            for x in range(w * ch):
                a = row[x - bpp] if x >= bpp else np.uint8(0)
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else np.uint8(0)
                if f == 1:
                    pred = int(a)
                elif f == 3:
                    pred = (int(a) + int(b)) // 2
                else:
                    p = int(a) + int(b) - int(c)
                    pa, pb, pc = abs(p - int(a)), abs(p - int(b)), \
                        abs(p - int(c))
                    pred = int(a) if pa <= pb and pa <= pc else \
                        (int(b) if pb <= pc else int(c))
                row[x] = np.uint8((int(cur[x]) + pred) & 0xFF)
        else:
            raise ValueError(f"bad filter {f}")
    img = out.reshape(h, w, ch)
    return img[:, :, 0] if ch == 1 else img
