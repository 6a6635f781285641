"""General polygon overlay: boolean ops between arbitrary SIMPLE
polygons (concave allowed, holes via set-level decomposition).

Re-creates the GEOS-backed layer-algebra verbs of the reference
(OGRGeometry::Intersection ogr/ogrgeometry.cpp:4895, ::Union :4990,
::Difference :5043, ::SymDifference :5096; layer ops
ogr/ogrsf_frmts/generic/ogrlayer.cpp:5385/:5803/:7537/:7846) without
GEOS: a pure-NumPy Greiner-Hormann clipper.

Algorithm (Greiner & Hormann 1998, public):
  1. build circular doubly-linked vertex lists for subject and clip;
  2. insert pairwise edge intersections into both lists (sorted by
     the parametric position along each edge);
  3. mark every intersection entry/exit by point-in-polygon parity
     of the list head, flipping parity at each intersection; the op
     (intersection / union / difference) only changes the initial
     parity of each list;
  4. trace result rings: walk forward from entries / backward from
     exits, switching lists at each intersection.

Degenerate configurations (vertex on vertex, vertex on edge,
collinear overlapping edges) are detected exactly and resolved by a
deterministic micro-perturbation of the clip polygon (relative 1e-9
of the bbox diagonal) — areas move by O(eps * perimeter), far below
any rounding used by callers.  This mirrors GEOS's snap-and-retry
fallback in OverlayNG rather than its exact noding.
"""

from __future__ import annotations

import numpy as np

from gdal_spark.geometry.packed import ring_signed_area
from gdal_spark.geometry.pip import points_in_rings

__all__ = [
    "ring_op", "poly_op", "polygons_intersect", "ring_contains_ring",
    "Degenerate",
]


class Degenerate(Exception):
    """Raised when an intersection configuration is not generic."""


class _V:
    __slots__ = ("x", "y", "nxt", "prv", "neighbour", "intersect",
                 "entry", "alpha", "visited")

    def __init__(self, x: float, y: float, alpha: float = 0.0,
                 intersect: bool = False):
        self.x = x
        self.y = y
        self.nxt = None
        self.prv = None
        self.neighbour = None
        self.intersect = intersect
        self.entry = True
        self.alpha = alpha
        self.visited = False


def _build(ring: np.ndarray) -> _V:
    pts = np.asarray(ring, dtype=np.float64)
    # drop near-duplicate consecutive vertices (incl. an inexact
    # closing point, e.g. cos(2*pi) != 1.0): a micro edge is
    # near-parallel to everything and its cross products fall BELOW
    # the collinearity threshold even after the perturbation retry,
    # so it poisons the degeneracy test unrecoverably.  The 1e-9
    # relative tolerance matches the documented perturbation scale —
    # slivers that sequential perturbed differences leave behind are
    # merged away here on the next op.
    span = max(float(np.ptp(pts[:, 0])), float(np.ptp(pts[:, 1])), 1.0)
    tol = 1e-9 * span
    keep = np.ones(len(pts), dtype=bool)
    keep[1:] = np.any(np.abs(np.diff(pts, axis=0)) > tol, axis=1)
    pts = pts[keep]
    if len(pts) and np.all(np.abs(pts[0] - pts[-1]) <= tol):
        pts = pts[:-1]
    if len(pts) < 3:
        raise ValueError("ring needs >= 3 distinct vertices")
    head = None
    prev = None
    for x, y in pts:
        v = _V(float(x), float(y))
        if head is None:
            head = v
            prev = v
        else:
            prev.nxt = v
            v.prv = prev
            prev = v
    prev.nxt = head
    head.prv = prev
    return head


def _iter_ring(head: _V):
    v = head
    while True:
        yield v
        v = v.nxt
        if v is head:
            return


def _edges(head: _V):
    """Original-polygon edges: (vertex, next original vertex)."""
    v = head
    while True:
        n = v.nxt
        while n.intersect:
            n = n.nxt
        yield v, n
        v = n
        if v is head:
            return


_EPS = 1e-12


def _isect(p1, p2, q1, q2):
    """Generic segment intersection.  Returns (t, u) in the OPEN unit
    interval, None when disjoint, raises Degenerate on touching or
    collinear configurations."""
    rx, ry = p2[0] - p1[0], p2[1] - p1[1]
    sx, sy = q2[0] - q1[0], q2[1] - q1[1]
    denom = rx * sy - ry * sx
    qpx, qpy = q1[0] - p1[0], q1[1] - p1[1]
    cross_qp_s = qpx * sy - qpy * sx
    cross_qp_r = qpx * ry - qpy * rx
    scale = max(abs(rx), abs(ry), abs(sx), abs(sy), 1.0)
    if abs(denom) <= _EPS * scale * scale:
        if abs(cross_qp_r) <= _EPS * scale * scale:
            # collinear: overlapping only if projections intersect
            rr = rx * rx + ry * ry
            t0 = (qpx * rx + qpy * ry) / rr
            t1 = t0 + (sx * rx + sy * ry) / rr
            lo, hi = min(t0, t1), max(t0, t1)
            if hi >= -_EPS and lo <= 1 + _EPS:
                raise Degenerate("collinear overlap")
        return None
    t = cross_qp_s / denom
    u = cross_qp_r / denom
    if t < -_EPS or t > 1 + _EPS or u < -_EPS or u > 1 + _EPS:
        return None
    # detection threshold only: true endpoint hits compute to within
    # fp error (~1e-15); the perturbation retry moves them to ~1e-9,
    # which must then count as a genuine crossing
    tol = 1e-11
    if t < tol or t > 1 - tol or u < tol or u > 1 - tol:
        raise Degenerate("intersection at segment endpoint")
    return t, u


# element budget for one dense (chunk x m) temporary — bounds the
# ~10 float64 intermediates below to ~300 MB worst case per task even
# for post-segmentize rings with 10^4+ edges each (same pattern as
# pip.py's _CHUNK_BUDGET)
_PAIR_CHUNK_BUDGET = 1 << 22


def _isect_pairs(sa: np.ndarray, ca: np.ndarray
                 ) -> tuple[np.ndarray, np.ndarray, np.ndarray,
                            np.ndarray]:
    """Vectorized all-pairs edge intersection: the NumPy rendering of
    ``_isect`` over subject edges (n,2,2) x clip edges (m,2,2).
    Returns (i, j, t, u) index/parameter arrays of the PROPER
    crossings; raises Degenerate under exactly the same conditions as
    the scalar kernel (collinear overlap, endpoint hit, coincident
    intersections are caught later by _insert_sorted).  The subject
    axis is chunked so the dense temporaries stay memory-bounded for
    huge rings."""
    n, m = len(sa), len(ca)
    step = max(1, _PAIR_CHUNK_BUDGET // max(m, 1))
    if n > step:
        sis, cjs, ts, us = [], [], [], []
        for lo in range(0, n, step):
            si, cj, t, u = _isect_pairs_block(sa[lo:lo + step], ca)
            sis.append(si + lo)
            cjs.append(cj)
            ts.append(t)
            us.append(u)
        return (np.concatenate(sis), np.concatenate(cjs),
                np.concatenate(ts), np.concatenate(us))
    return _isect_pairs_block(sa, ca)


def _isect_pairs_block(sa: np.ndarray, ca: np.ndarray
                       ) -> tuple[np.ndarray, np.ndarray, np.ndarray,
                                  np.ndarray]:
    p = sa[:, None, 0]
    r = sa[:, None, 1] - p
    q = ca[None, :, 0]
    s = ca[None, :, 1] - q
    denom = r[..., 0] * s[..., 1] - r[..., 1] * s[..., 0]
    qp = q - p
    cross_qp_s = qp[..., 0] * s[..., 1] - qp[..., 1] * s[..., 0]
    cross_qp_r = qp[..., 0] * r[..., 1] - qp[..., 1] * r[..., 0]
    scale = np.maximum(
        np.maximum(np.abs(r[..., 0]), np.abs(r[..., 1])),
        np.maximum(np.maximum(np.abs(s[..., 0]), np.abs(s[..., 1])),
                   1.0))
    lim = _EPS * scale * scale
    near_par = np.abs(denom) <= lim
    coll = near_par & (np.abs(cross_qp_r) <= lim)
    if bool(coll.any()):
        rr = np.sum(r * r, axis=-1)
        with np.errstate(divide="ignore", invalid="ignore"):
            t0 = np.sum(qp * r, axis=-1) / rr
            t1 = t0 + np.sum(s * r, axis=-1) / rr
        lo = np.minimum(t0, t1)
        hi = np.maximum(t0, t1)
        if bool((coll & (hi >= -_EPS) & (lo <= 1 + _EPS)).any()):
            raise Degenerate("collinear overlap")
    with np.errstate(divide="ignore", invalid="ignore"):
        t = cross_qp_s / denom
        u = cross_qp_r / denom
    inside = (~near_par & (t >= -_EPS) & (t <= 1 + _EPS)
              & (u >= -_EPS) & (u <= 1 + _EPS))
    tol = 1e-11
    if bool((inside & ((t < tol) | (t > 1 - tol)
                       | (u < tol) | (u > 1 - tol))).any()):
        raise Degenerate("intersection at segment endpoint")
    si, cj = np.nonzero(inside)
    return si, cj, t[si, cj], u[si, cj]


def _point_in(head_arr: np.ndarray, x: float, y: float) -> bool:
    """Single-point inline of points_in_rings' crossing rule
    (ogrlinearring.cpp:452-521 semantics) over an OPEN ring — the
    phase-2/classification probes run 3x per op, so this avoids the
    general kernel's closing/vstack/errstate overhead."""
    rx = head_arr[:, 0]
    ry = head_arr[:, 1]
    if (x < rx.min() or x > rx.max()
            or y < ry.min() or y > ry.max()):
        return False
    x1 = np.roll(rx, -1) - x
    y1 = np.roll(ry, -1) - y
    x2 = rx - x
    y2 = ry - y
    straddle = ((y1 > 0) & (y2 <= 0)) | ((y2 > 0) & (y1 <= 0))
    si = np.nonzero(straddle)[0]
    if len(si) == 0:
        return False
    # straddling guarantees y2 - y1 != 0
    inter = (x1[si] * y2[si] - x2[si] * y1[si]) / (y2[si] - y1[si])
    return bool(np.count_nonzero(inter > 0.0) % 2)


def _insert_sorted(start: _V, end_orig: _V, v: _V) -> None:
    """Insert intersection vertex between start and the next ORIGINAL
    vertex, keeping alphas ascending."""
    cur = start
    while cur.nxt is not end_orig and cur.nxt.intersect \
            and cur.nxt.alpha < v.alpha:
        cur = cur.nxt
    if cur.nxt.intersect and abs(cur.nxt.alpha - v.alpha) < 1e-12:
        raise Degenerate("coincident intersections")
    nxt = cur.nxt
    cur.nxt = v
    v.prv = cur
    v.nxt = nxt
    nxt.prv = v


def _gh_rings(subj: np.ndarray, clip: np.ndarray, op: str
              ) -> list[np.ndarray] | None:
    """Core Greiner-Hormann.  Returns result rings (open, CCW/CW as
    traced) or None when the polygons do not cross (caller resolves
    containment / disjoint cases)."""
    s_head = _build(subj)
    c_head = _build(clip)

    # phase 1: pairwise edge intersections — the all-pairs search is
    # one vectorized NumPy pass (the former per-pair Python loop was
    # the overlay hot spot); only actual crossings build list nodes
    s_edges = list(_edges(s_head))
    c_edges = list(_edges(c_head))
    sa = np.array([((v.x, v.y), (n.x, n.y)) for v, n in s_edges],
                  dtype=np.float64)
    ca = np.array([((v.x, v.y), (n.x, n.y)) for v, n in c_edges],
                  dtype=np.float64)
    si, cj, ts, us = _isect_pairs(sa, ca)
    n_isect = len(si)
    for k in range(n_isect):
        sv, sn = s_edges[int(si[k])]
        cv, cn = c_edges[int(cj[k])]
        t, u = float(ts[k]), float(us[k])
        x = sv.x + t * (sn.x - sv.x)
        y = sv.y + t * (sn.y - sv.y)
        a = _V(x, y, t, True)
        b = _V(x, y, u, True)
        a.neighbour = b
        b.neighbour = a
        _insert_sorted(sv, sn, a)
        _insert_sorted(cv, cn, b)
    if n_isect == 0:
        return None
    if n_isect % 2 == 1:
        raise Degenerate("odd intersection count")

    # phase 2: entry/exit flags (initial parity encodes the op)
    subj_arr = np.asarray(subj, dtype=np.float64)
    clip_arr = np.asarray(clip, dtype=np.float64)
    if np.array_equal(subj_arr[0], subj_arr[-1]):
        subj_arr = subj_arr[:-1]
    if np.array_equal(clip_arr[0], clip_arr[-1]):
        clip_arr = clip_arr[:-1]
    s_entry_flip, c_entry_flip = {
        "intersection": (False, False),
        "union": (True, True),
        "difference": (True, False),
    }[op]
    status = not _point_in(clip_arr, s_head.x, s_head.y)
    status ^= s_entry_flip
    for v in _iter_ring(s_head):
        if v.intersect:
            v.entry = status
            status = not status
    status = not _point_in(subj_arr, c_head.x, c_head.y)
    status ^= c_entry_flip
    for v in _iter_ring(c_head):
        if v.intersect:
            v.entry = status
            status = not status

    # phase 3: trace result rings
    out: list[np.ndarray] = []
    while True:
        start = None
        for v in _iter_ring(s_head):
            if v.intersect and not v.visited:
                start = v
                break
        if start is None:
            break
        ring = [(start.x, start.y)]
        cur = start
        guard = 0
        while True:
            guard += 1
            if guard > 100000:
                raise Degenerate("trace did not close")
            cur.visited = True
            if cur.neighbour is not None:
                cur.neighbour.visited = True
            if cur.entry:
                while True:
                    cur = cur.nxt
                    ring.append((cur.x, cur.y))
                    if cur.intersect:
                        break
            else:
                while True:
                    cur = cur.prv
                    ring.append((cur.x, cur.y))
                    if cur.intersect:
                        break
            cur = cur.neighbour
            if cur is start or (cur.neighbour is start):
                break
            if cur.visited:
                break
        arr = np.array(ring, dtype=np.float64)
        # drop consecutive near-duplicates (same relative tolerance
        # as _build, so traced rings re-enter GH clean), close
        span = max(float(np.ptp(arr[:, 0])), float(np.ptp(arr[:, 1])),
                   1.0)
        keep = np.ones(len(arr), dtype=bool)
        keep[1:] = np.any(np.abs(np.diff(arr, axis=0)) > 1e-9 * span,
                          axis=1)
        arr = arr[keep]
        if len(arr) >= 3 and np.all(np.abs(arr[0] - arr[-1])
                                    <= 1e-9 * span):
            arr = arr[:-1]
        if len(arr) >= 3:
            if not np.array_equal(arr[0], arr[-1]):
                arr = np.vstack([arr, arr[:1]])
            out.append(arr)
    return out


def _close(r: np.ndarray) -> np.ndarray:
    r = np.asarray(r, dtype=np.float64)
    if not np.array_equal(r[0], r[-1]):
        r = np.vstack([r, r[:1]])
    return r


def _orient(r: np.ndarray, ccw: bool) -> np.ndarray:
    a = ring_signed_area(r)
    if (a > 0) != ccw:
        return r[::-1].copy()
    return r


def ring_contains_ring(outer: np.ndarray, inner: np.ndarray) -> bool:
    """True when every vertex of ``inner`` lies inside ``outer``
    (sufficient for non-crossing rings)."""
    inn = _close(inner)
    return bool(points_in_rings(inn[:-1, 0], inn[:-1, 1],
                                [_close(outer)]).all())


def _perturb(ring: np.ndarray, seed: int, mag: float = 2e-9
             ) -> np.ndarray:
    r = _close(np.asarray(ring, dtype=np.float64))
    span = max(r[:, 0].ptp(), r[:, 1].ptp(), 1.0)
    rng = np.random.RandomState(seed)
    noise = (rng.rand(len(r) - 1, 2) - 0.5) * span * mag
    out = r[:-1] + noise
    return np.vstack([out, out[:1]])


def _ring_degenerate(ring: np.ndarray, tol_rel: float = 1e-9) -> bool:
    """True when _build's near-duplicate cleanup would leave < 3
    vertices — e.g. an ultra-thin sliver (width < tol_rel of length)
    from an earlier perturbed difference.  Such a ring encloses
    negligible area and is treated as the empty set."""
    pts = np.asarray(ring, dtype=np.float64)
    span = max(float(np.ptp(pts[:, 0])), float(np.ptp(pts[:, 1])), 1.0)
    tol = tol_rel * span
    keep = np.ones(len(pts), dtype=bool)
    keep[1:] = np.any(np.abs(np.diff(pts, axis=0)) > tol, axis=1)
    pts = pts[keep]
    if len(pts) and np.all(np.abs(pts[0] - pts[-1]) <= tol):
        pts = pts[:-1]
    return len(pts) < 3


def _empty_set_result(subj: np.ndarray, clip: np.ndarray, s_deg: bool,
                      c_deg: bool, op: str) -> list[list[np.ndarray]]:
    """Set algebra when one/both rings are effectively empty."""
    if op == "intersection":
        return []
    if op == "difference":
        return [] if s_deg else [[_orient(subj, True)]]
    out = []
    if not s_deg:
        out.append([_orient(subj, True)])
    if not c_deg:
        out.append([_orient(clip, True)])
    return out


def ring_op(subj: np.ndarray, clip: np.ndarray, op: str
            ) -> list[list[np.ndarray]]:
    """Boolean op between two simple rings.

    Returns a list of polygons, each ``[outer, holes...]`` with outer
    CCW and holes CW.  ``op`` in {intersection, union, difference}.
    """
    subj = _close(subj)
    clip = _close(clip)
    s_deg = _ring_degenerate(subj)
    c_deg = _ring_degenerate(clip)
    if s_deg or c_deg:
        return _empty_set_result(subj, clip, s_deg, c_deg, op)
    rings = None
    try:
        rings = _gh_rings(subj, clip, op)
    except Degenerate:
        for seed in (7, 101, 9173):
            try:
                rings = _gh_rings(subj, _perturb(clip, seed), op)
                break
            except Degenerate:
                continue
        else:
            # clip perturbation cannot fix degeneracies carried by
            # the SUBJECT (e.g. a sliver piece from an earlier
            # perturbed difference whose edges parallel the clip
            # sub-threshold): jitter both, escalating the magnitude —
            # the area error stays O(mag * perimeter), far below the
            # rounding every caller applies.  A perturbation can
            # collapse a borderline sliver below 3 distinct vertices
            # (ValueError): that ring is then empty at the escalated
            # tolerance, so fall through to the empty-set algebra.
            for seed, mag in ((421, 2e-9), (77777, 2e-8),
                              (131071, 2e-7)):
                try:
                    rings = _gh_rings(_perturb(subj, seed + 1, mag),
                                      _perturb(clip, seed, mag), op)
                    break
                except (Degenerate, ValueError):
                    continue
            else:
                s_deg = _ring_degenerate(subj, tol_rel=5e-7)
                c_deg = _ring_degenerate(clip, tol_rel=5e-7)
                if s_deg or c_deg:
                    return _empty_set_result(subj, clip, s_deg,
                                             c_deg, op)
                raise
    if rings is None:
        # no crossings: containment or disjoint
        s_in_c = ring_contains_ring(clip, subj)
        c_in_s = ring_contains_ring(subj, clip)
        if op == "intersection":
            if s_in_c:
                return [[_orient(subj, True)]]
            if c_in_s:
                return [[_orient(clip, True)]]
            return []
        if op == "union":
            if s_in_c:
                return [[_orient(clip, True)]]
            if c_in_s:
                return [[_orient(subj, True)]]
            return [[_orient(subj, True)], [_orient(clip, True)]]
        # difference
        if s_in_c:
            return []
        if c_in_s:
            return [[_orient(subj, True), _orient(clip, False)]]
        return [[_orient(subj, True)]]

    # classify traced rings into outers and holes TOPOLOGICALLY.
    # This branch is only reached when the rings CROSS (n_isect > 0),
    # which pins the result topology without any geometric probes
    # (probes mis-fire in the sliver regime: a vertex-mean probe of
    # the outer can land inside a nested hole ring, inverting the
    # nesting parity — the round-4 union over-count bug):
    #   union        — A ∪ B of two crossing simple rings is
    #                  CONNECTED: exactly one outer (the max-|area|
    #                  ring, since the outer encloses every hole);
    #                  every other traced ring bounds a hole, a
    #                  bounded pocket of comp(A) ∩ comp(B).
    #   intersection — comp(A∩B) = comp(A) ∪ comp(B), a union of two
    #                  connected unbounded sets: no bounded
    #                  complement components, so every piece is
    #                  simply connected — all rings are outers.
    #   difference   — every component of B ∩ A touches ∂A (B is
    #                  connected and crosses ∂A), so no removal
    #                  pocket is sealed off: pieces are simply
    #                  connected — all rings are outers.
    closed = [_close(r) for r in rings if abs(ring_signed_area(r)) > 0]
    if not closed:
        return []
    if op == "union":
        oi = max(range(len(closed)),
                 key=lambda i: abs(ring_signed_area(closed[i])))
        poly = [_orient(closed[oi], True)]
        for i, r in enumerate(closed):
            if i != oi:
                poly.append(_orient(r, False))
        return [poly]
    return [[_orient(r, True)] for r in closed]


def poly_op(subj_rings: list[np.ndarray], clip_rings: list[np.ndarray],
            op: str) -> list[list[np.ndarray]]:
    """Boolean op between polygons WITH holes (first ring outer, rest
    holes).  Holes are folded in by set algebra on the hole-free
    results:

      (A - a_holes) op (B - b_holes)
        intersection: (A n B) - a_holes - b_holes
        difference:   (A - B) - a_holes  [+ A n b_holes]
        union:        hole-free inputs take the GH fast path; holed
                      inputs route through the planar-arrangement
                      resolver (resolve_rings rule='positive'), which
                      is exact union semantics including hole/solid
                      cancellation at O(E^2) noding cost.
    """
    a_out, a_holes = subj_rings[0], list(subj_rings[1:])
    b_out, b_holes = clip_rings[0], list(clip_rings[1:])
    if op == "intersection":
        pieces = ring_op(a_out, b_out, "intersection")
        for h in a_holes + b_holes:
            pieces = _subtract_ring(pieces, h)
        return pieces
    if op == "union":
        if not (a_holes or b_holes):
            return ring_op(a_out, b_out, "union")
        # holed union via the planar-arrangement resolver: orient
        # outers CCW / holes CW, keep the positive-winding region —
        # exact union semantics including hole/solid cancellation
        # (slower than GH: O(E^2) noding; the hole-free fast path
        # above stays on GH)
        from gdal_spark.geometry.valid import resolve_rings

        rings = ([_orient(_close(a_out), True)]
                 + [_orient(_close(h), False) for h in a_holes]
                 + [_orient(_close(b_out), True)]
                 + [_orient(_close(h), False) for h in b_holes])
        return resolve_rings(rings, rule="positive")
    if op == "difference":
        pieces = ring_op(a_out, b_out, "difference")
        for h in a_holes:
            pieces = _subtract_ring(pieces, h)
        # parts of A's outer covered by B's holes survive A - B
        for h in b_holes:
            back = ring_op(a_out, h, "intersection")
            for ah in a_holes:
                back = _subtract_ring(back, ah)
            pieces = pieces + back
        return pieces
    raise ValueError(f"unknown op {op!r}")


def _subtract_ring(pieces: list[list[np.ndarray]], hole: np.ndarray
                   ) -> list[list[np.ndarray]]:
    out: list[list[np.ndarray]] = []
    for rings in pieces:
        sub = ring_op(rings[0], hole, "difference")
        if len(rings) == 1:
            out.extend(sub)
            continue
        # re-attach existing holes to whichever piece contains them
        for piece in sub:
            for h in rings[1:]:
                if ring_contains_ring(piece[0], h):
                    piece.append(h)
            out.append(piece)
    return out


# --------------------------------------------------------------------
# predicates (FilterGeometry semantics, ogrlayer.cpp:4004-4076)
# --------------------------------------------------------------------


def _segments(ring: np.ndarray) -> np.ndarray:
    r = _close(ring)
    return np.stack([r[:-1], r[1:]], axis=1)  # (n, 2, 2)


def _seg_cross_any(a: np.ndarray, b: np.ndarray) -> bool:
    """Vectorized proper-or-touching segment intersection between two
    segment sets (n,2,2) x (m,2,2)."""
    p = a[:, None, 0]      # (n,1,2)
    r = a[:, None, 1] - p
    q = b[None, :, 0]      # (1,m,2)
    s = b[None, :, 1] - q
    pq = q - p
    denom = r[..., 0] * s[..., 1] - r[..., 1] * s[..., 0]
    cross_pq_s = pq[..., 0] * s[..., 1] - pq[..., 1] * s[..., 0]
    cross_pq_r = pq[..., 0] * r[..., 1] - pq[..., 1] * r[..., 0]
    with np.errstate(divide="ignore", invalid="ignore"):
        t = cross_pq_s / denom
        u = cross_pq_r / denom
    generic = (np.abs(denom) > 0) & (t >= -1e-12) & (t <= 1 + 1e-12) \
        & (u >= -1e-12) & (u <= 1 + 1e-12)
    if bool(generic.any()):
        return True
    # collinear overlap: denom == 0 and pq x r == 0 and ranges overlap
    coll = (denom == 0) & (np.abs(cross_pq_r) <= 1e-12)
    if not bool(coll.any()):
        return False
    rr = np.sum(r * r, axis=-1)
    with np.errstate(divide="ignore", invalid="ignore"):
        t0 = np.sum(pq * r, axis=-1) / rr
        t1 = t0 + np.sum(s * r, axis=-1) / rr
    lo = np.minimum(t0, t1)
    hi = np.maximum(t0, t1)
    return bool((coll & (hi >= -1e-12) & (lo <= 1 + 1e-12)).any())


def polygons_intersect(a_rings: list[np.ndarray],
                       b_rings: list[np.ndarray]) -> bool:
    """ST_Intersects for two polygons with holes: boundaries cross,
    or one's exterior vertex lies in the other's interior."""
    ax = np.concatenate([_close(r) for r in a_rings])
    bx = np.concatenate([_close(r) for r in b_rings])
    if ax[:, 0].min() > bx[:, 0].max() or bx[:, 0].min() > ax[:, 0].max() \
            or ax[:, 1].min() > bx[:, 1].max() \
            or bx[:, 1].min() > ax[:, 1].max():
        return False
    sa = np.concatenate([_segments(r) for r in a_rings])
    sb = np.concatenate([_segments(r) for r in b_rings])
    if _seg_cross_any(sa, sb):
        return True
    a_closed = [_close(r) for r in a_rings]
    b_closed = [_close(r) for r in b_rings]
    pa = a_closed[0][0]
    pb = b_closed[0][0]
    if points_in_rings(np.array([pa[0]]), np.array([pa[1]]),
                       b_closed).sum() % 2 == 1:
        return True
    return points_in_rings(np.array([pb[0]]), np.array([pb[1]]),
                           a_closed).sum() % 2 == 1


def geoms_intersect(ga, gb) -> bool:
    """ST_Intersects for ANY pair of parsed geometries (the general
    FilterGeometry contract, ogrlayer.cpp:4004-4076): dispatches on
    the dimension pair.  Point-on-boundary follows the strictly-
    inside ray-cast rule (documented parity gap with GEOS's
    boundary-inclusive Intersects for dim-0 x dim-2)."""
    from gdal_spark.geometry import wkb as W
    from gdal_spark.geometry.lines import (
        line_intersects_rings, lines_cross,
    )

    dims = {W.POINT: 0, W.MULTIPOINT: 0, W.LINESTRING: 1,
            W.MULTILINESTRING: 1, W.POLYGON: 2, W.MULTIPOLYGON: 2}
    da = dims.get(ga.kind)
    db = dims.get(gb.kind)
    if da is None or db is None:
        raise ValueError(f"geoms_intersect: unsupported kinds "
                         f"{ga.kind}/{gb.kind}")
    if da > db:
        ga, gb, da, db = gb, ga, db, da
    if (da, db) == (2, 2):
        return polygons_intersect(list(ga.rings()), list(gb.rings()))
    if (da, db) == (1, 2):
        return any(line_intersects_rings(part, list(gb.rings()))
                   for part in ga.parts)
    if (da, db) == (1, 1):
        return any(lines_cross(pa, pb)
                   for pa in ga.parts for pb in gb.parts)
    pts = np.vstack(ga.parts)
    if db == 2:
        closed = [_close(r) for r in gb.rings()]
        return bool(points_in_rings(pts[:, 0], pts[:, 1],
                                    closed).any())
    if db == 1:
        from gdal_spark.geometry.ops import point_segment_dist

        return any(
            bool((point_segment_dist(pts[:, 0], pts[:, 1], part)
                  <= 1e-12).any())
            for part in gb.parts)
    # point x point
    qb = np.vstack(gb.parts)
    return bool((np.abs(pts[:, None, :] - qb[None, :, :]) <= 1e-12)
                .all(axis=2).any())


def polygon_contains_polygon(a_rings: list[np.ndarray],
                             b_rings: list[np.ndarray]) -> bool:
    """ST_Contains (strict variant): b's boundary never crosses a's
    and b lies in a's interior.  Boundary-touching containment (which
    GEOS allows) reports False — documented parity gap."""
    sa = np.concatenate([_segments(r) for r in a_rings])
    sb = np.concatenate([_segments(r) for r in b_rings])
    if _seg_cross_any(sa, sb):
        return False
    a_closed = [_close(r) for r in a_rings]
    pb = _close(b_rings[0])[0]
    return points_in_rings(np.array([pb[0]]), np.array([pb[1]]),
                           a_closed).sum() % 2 == 1


def polygons_distance(a_rings: list[np.ndarray],
                      b_rings: list[np.ndarray]) -> float:
    """ST_Distance between two polygons (OGRGeometry::Distance,
    ogr/ogrgeometry.cpp:575 delegates to GEOS): 0 when they
    intersect, else the min distance between the boundaries —
    attained at a vertex of one against a segment of the other, so
    two vectorized point-to-polyline passes are exact."""
    if polygons_intersect(a_rings, b_rings):
        return 0.0
    from gdal_spark.geometry.ops import point_segment_dist

    best = np.inf
    for ra in a_rings:
        ca = _close(ra)
        for rb in b_rings:
            cb = _close(rb)
            best = min(best, float(point_segment_dist(
                ca[:-1, 0], ca[:-1, 1], cb).min()))
            best = min(best, float(point_segment_dist(
                cb[:-1, 0], cb[:-1, 1], ca).min()))
    return best
