"""Vectorized ray-cast point-in-polygon over packed coordinate arrays.

Byte-for-byte semantics of the reference's exact test
(OGRLinearRing::isPointInRing, ogr/ogrlinearring.cpp:452-521):

* envelope pretest (MinX<=x<=MaxX, MinY<=y<=MaxY)
* for each segment (p_{i-1}, p_i), translate to the test point and
  count a crossing when ((y1>0 and y2<=0) or (y2>0 and y1<=0)) and
  (x1*y2 - x2*y1)/(y2-y1) > 0  — strictly positive, so the test is
  *strictly inside*; boundary points are handled by the separate
  isPointOnRingBoundary (:533) which uses >= 0 crossing + collinear
  check.  Holes use even-odd parity across all rings (equivalent to
  outer-minus-holes for valid polygons).

Vectorized as (points x segments) numpy broadcasts, chunked so the
temporary matrices stay within a fixed element budget — the Arrow
batch (65536 rows) never materializes per-row Python objects.
"""

from __future__ import annotations

import numpy as np

# Max elements per broadcast temp (points_chunk * segments).
_CHUNK_BUDGET = 1 << 22


def crossings_in_ring(px: np.ndarray, py: np.ndarray,
                      ring: np.ndarray) -> np.ndarray:
    """Ray crossings count per point for one ring (closed, n>=4)."""
    n = len(ring)
    out = np.zeros(len(px), dtype=np.int64)
    if n < 4:
        return out
    rx = ring[:, 0]
    ry = ring[:, 1]
    nseg = n - 1
    step = max(1, _CHUNK_BUDGET // max(nseg, 1))
    for s in range(0, len(px), step):
        e = min(s + step, len(px))
        # current vertex i (1..n-1) minus point; prev vertex i-1 minus point
        x1 = rx[1:][None, :] - px[s:e, None]
        y1 = ry[1:][None, :] - py[s:e, None]
        x2 = rx[:-1][None, :] - px[s:e, None]
        y2 = ry[:-1][None, :] - py[s:e, None]
        straddle = ((y1 > 0) & (y2 <= 0)) | ((y2 > 0) & (y1 <= 0))
        with np.errstate(divide="ignore", invalid="ignore"):
            inter = (x1 * y2 - x2 * y1) / (y2 - y1)
        out[s:e] = np.count_nonzero(straddle & (inter > 0.0), axis=1)
    return out


def points_in_rings(px: np.ndarray, py: np.ndarray,
                    rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd inclusion across *rings* with bbox pretest.

    For a polygon pass [outer, hole1, ...]; for a multipolygon pass
    all rings of all parts (even-odd parity composes).
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    res = np.zeros(len(px), dtype=bool)
    if not rings or len(px) == 0:
        return res
    allc = np.vstack(rings)
    minx, miny = allc[:, 0].min(), allc[:, 1].min()
    maxx, maxy = allc[:, 0].max(), allc[:, 1].max()
    cand = (px >= minx) & (px <= maxx) & (py >= miny) & (py <= maxy)
    if not cand.any():
        return res
    idx = np.nonzero(cand)[0]
    cross = np.zeros(len(idx), dtype=np.int64)
    for ring in rings:
        # per-ring envelope reject (ogrlinearring.cpp:478-487)
        rminx, rminy = ring[:, 0].min(), ring[:, 1].min()
        rmaxx, rmaxy = ring[:, 0].max(), ring[:, 1].max()
        sub = (
            (px[idx] >= rminx) & (px[idx] <= rmaxx)
            & (py[idx] >= rminy) & (py[idx] <= rmaxy)
        )
        if sub.any():
            j = np.nonzero(sub)[0]
            cross[j] += crossings_in_ring(px[idx[j]], py[idx[j]], ring)
    res[idx] = (cross % 2) != 0
    return res
