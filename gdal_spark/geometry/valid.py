"""MakeValid + winding-rule resolution of self-intersecting rings.

Re-creates OGRGeometry::MakeValid (ogr/ogrgeometry.cpp:4183, GEOS
linework method: node the rings, keep even-odd interior) and the
loop-removal step OGRGeometry::Buffer needs (ogrgeometry.cpp:4949):

  1. node: insert every pairwise segment intersection as a vertex;
  2. build the planar subdivision (DCEL: half-edges sorted by angle
     around each vertex, face cycles via clockwise-next traversal);
  3. compute the winding number of each face's interior against the
     ORIGINAL curve set;
  4. keep faces by rule — "evenodd" (MakeValid) or "nonzero"
     (buffer union) — and trace the boundary cycles between kept and
     dropped faces.

Documented golden (GDAL MakeValid docs): the bowtie
POLYGON((0 0,10 10,0 10,10 0,0 0)) resolves to two triangles meeting
at (5 5).
"""

from __future__ import annotations

import numpy as np

from gdal_spark.geometry.packed import ring_signed_area

_Q = 1e-9  # vertex quantum


def _quant(p) -> tuple[int, int]:
    return (int(round(p[0] / _Q)), int(round(p[1] / _Q)))


def _seg_isect_points(p1, p2, q1, q2):
    """All intersection points of two closed segments (0, 1 or 2 for
    collinear overlaps), as (t-on-p, point) pairs."""
    r = (p2[0] - p1[0], p2[1] - p1[1])
    s = (q2[0] - q1[0], q2[1] - q1[1])
    denom = r[0] * s[1] - r[1] * s[0]
    qp = (q1[0] - p1[0], q1[1] - p1[1])
    cross_qp_r = qp[0] * r[1] - qp[1] * r[0]
    scale = max(abs(r[0]), abs(r[1]), abs(s[0]), abs(s[1]), 1.0)
    eps = 1e-12 * scale * scale
    out = []
    if abs(denom) <= eps:
        if abs(cross_qp_r) <= eps:
            rr = r[0] * r[0] + r[1] * r[1]
            if rr == 0:
                return out
            t0 = (qp[0] * r[0] + qp[1] * r[1]) / rr
            t1 = t0 + (s[0] * r[0] + s[1] * r[1]) / rr
            for t in sorted((t0, t1)):
                if 1e-12 < t < 1 - 1e-12:
                    out.append((t, (p1[0] + t * r[0], p1[1] + t * r[1])))
        return out
    cross_qp_s = qp[0] * s[1] - qp[1] * s[0]
    t = cross_qp_s / denom
    u = cross_qp_r / denom
    if -1e-12 <= t <= 1 + 1e-12 and -1e-12 <= u <= 1 + 1e-12:
        if 1e-12 < t < 1 - 1e-12 or 1e-12 < u < 1 - 1e-12:
            out.append((min(max(t, 0.0), 1.0),
                        (p1[0] + t * r[0], p1[1] + t * r[1])))
    return out


def _node_rings(rings: list[np.ndarray]) -> list[np.ndarray]:
    """Insert all pairwise segment intersections into every ring.

    Pair search is grid-prefiltered on segment bboxes (cell = median
    segment extent): only bbox-overlapping pairs reach the exact
    intersection test, so a dissolve slice of many locally-touching
    polygons nodes in ~O(S·k) instead of O(S^2)."""
    segs = []   # (ring_idx, seg_idx, p, q)
    for ri, ring in enumerate(rings):
        r = np.asarray(ring, dtype=np.float64)
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        for i in range(len(r) - 1):
            segs.append((ri, i, tuple(r[i]), tuple(r[i + 1])))
    cuts: dict[tuple[int, int], list[tuple[float, tuple]]] = {}
    n = len(segs)
    if n:
        P = np.array([s[2] for s in segs])
        Q = np.array([s[3] for s in segs])
        xmin = np.minimum(P[:, 0], Q[:, 0])
        xmax = np.maximum(P[:, 0], Q[:, 0])
        ymin = np.minimum(P[:, 1], Q[:, 1])
        ymax = np.maximum(P[:, 1], Q[:, 1])
        cell = float(np.median(np.maximum(xmax - xmin, ymax - ymin)))
        cell = max(cell, 1e-12)
        cx0 = np.floor(xmin / cell).astype(np.int64)
        cx1 = np.floor(xmax / cell).astype(np.int64)
        cy0 = np.floor(ymin / cell).astype(np.int64)
        cy1 = np.floor(ymax / cell).astype(np.int64)
        buckets: dict[tuple[int, int], list[int]] = {}
        for i in range(n):
            for gx in range(cx0[i], cx1[i] + 1):
                for gy in range(cy0[i], cy1[i] + 1):
                    buckets.setdefault((gx, gy), []).append(i)
        seen: set[tuple[int, int]] = set()
        for members in buckets.values():
            m = len(members)
            for ai in range(m):
                i = members[ai]
                for bi in range(ai + 1, m):
                    j = members[bi]
                    a, b = (i, j) if i < j else (j, i)
                    if (a, b) in seen:
                        continue
                    seen.add((a, b))
                    if (xmin[a] > xmax[b] or xmin[b] > xmax[a]
                            or ymin[a] > ymax[b] or ymin[b] > ymax[a]):
                        continue
                    ra, ia, pa, qa = segs[a]
                    rb, ib, pb, qb = segs[b]
                    for t, pt in _seg_isect_points(pa, qa, pb, qb):
                        cuts.setdefault((ra, ia), []).append((t, pt))
                        # t on the other segment
                        rr = ((qb[0] - pb[0]), (qb[1] - pb[1]))
                        den = rr[0] * rr[0] + rr[1] * rr[1]
                        u = (((pt[0] - pb[0]) * rr[0]
                              + (pt[1] - pb[1]) * rr[1])
                             / den) if den else 0.0
                        cuts.setdefault((rb, ib), []).append((u, pt))
    out = []
    for ri, ring in enumerate(rings):
        r = np.asarray(ring, dtype=np.float64)
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        pts: list[tuple[float, float]] = []
        for i in range(len(r) - 1):
            pts.append((r[i, 0], r[i, 1]))
            for t, pt in sorted(cuts.get((ri, i), [])):
                if 1e-12 < t < 1 - 1e-12:
                    pts.append(pt)
        pts.append((r[-1, 0], r[-1, 1]))
        out.append(np.array(pts, dtype=np.float64))
    return out


def _pt_in_cycle(pts: np.ndarray, px: float, py: float) -> bool:
    """Even-odd point-in-polygon against one face cycle (orientation
    insensitive; pts closed)."""
    x0, y0 = pts[:-1, 0], pts[:-1, 1]
    x1, y1 = pts[1:, 0], pts[1:, 1]
    cond = (y0 > py) != (y1 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xs = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
    return bool(np.count_nonzero(cond & (px < xs)) % 2)


def resolve_rings(rings: list[np.ndarray], rule: str = "evenodd"
                  ) -> list[list[np.ndarray]]:
    """Planar-arrangement resolution of (possibly self-intersecting,
    possibly mutually intersecting) closed rings into VALID polygons
    [outer CCW, holes CW...] whose interior is the rule-region of the
    input curves."""
    noded = _node_rings(list(rings))

    # planar graph: quantized vertices, unique undirected edges
    verts: dict[tuple[int, int], int] = {}
    coords: list[tuple[float, float]] = []
    edges: set[tuple[int, int]] = set()

    def vid(p) -> int:
        k = _quant(p)
        i = verts.get(k)
        if i is None:
            i = len(coords)
            verts[k] = i
            coords.append((k[0] * _Q, k[1] * _Q))
        return i

    for ring in noded:
        ids = [vid(p) for p in ring]
        for a, b in zip(ids[:-1], ids[1:]):
            if a != b:
                edges.add((min(a, b), max(a, b)))

    if not edges:
        return []
    cxy = np.array(coords)
    # outgoing half-edges per vertex, sorted CCW by angle
    out_edges: dict[int, list[int]] = {}
    for a, b in edges:
        out_edges.setdefault(a, []).append(b)
        out_edges.setdefault(b, []).append(a)
    for v, nbrs in out_edges.items():
        nbrs.sort(key=lambda u: np.arctan2(cxy[u][1] - cxy[v][1],
                                           cxy[u][0] - cxy[v][0]))

    # face traversal: next half-edge of (u, v) = at v, the neighbor
    # CLOCKWISE-next from u — yields bounded faces as CCW cycles
    def next_he(u: int, v: int) -> tuple[int, int]:
        nbrs = out_edges[v]
        i = nbrs.index(u)
        return (v, nbrs[(i - 1) % len(nbrs)])

    face_of: dict[tuple[int, int], int] = {}
    faces: list[list[tuple[int, int]]] = []
    for a, b in edges:
        for he in ((a, b), (b, a)):
            if he in face_of:
                continue
            cyc = [he]
            face_of[he] = len(faces)
            cur = next_he(*he)
            guard = 0
            while cur != he:
                guard += 1
                if guard > 10_000_000:
                    raise RuntimeError("face walk did not close")
                face_of[cur] = len(faces)
                cyc.append(cur)
                cur = next_he(*cur)
            faces.append(cyc)

    # keep-decision per face: probe just LEFT of its half-edges (the
    # traversal keeps each face's region on the left — this also
    # classifies unbounded faces, which is what makes disconnected
    # components, e.g. a hole ring that never touches the shell, nest
    # correctly without explicit component containment bookkeeping).
    # A single probe can overshoot across a sliver into the adjacent
    # region (Hypothesis seed 1489: a 5.3-area face probed w=0 and was
    # dropped), so each probe is ACCEPTED only if it lands on the
    # face's own side of its cycle polygon, and accepted probes across
    # half-edges vote; the quantized cycle is within ~_Q of the
    # original curves, so an in-face probe offset >> _Q windings
    # correctly against the originals.
    # one flat segment array over the ORIGINAL rings: winding per
    # probe is a single vectorized pass instead of a per-ring loop
    # (a per-ring winding loop was 80% of resolve time at 100 rings)
    closed = []
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        closed.append(r)
    sx0 = np.concatenate([r[:-1, 0] for r in closed])
    sy0 = np.concatenate([r[:-1, 1] for r in closed])
    sx1 = np.concatenate([r[1:, 0] for r in closed])
    sy1 = np.concatenate([r[1:, 1] for r in closed])

    def wind(px: float, py: float) -> int:
        up = (sy0 <= py) & (sy1 > py)
        dn = (sy0 > py) & (sy1 <= py)
        cross = ((sx1 - sx0) * (py - sy0) - (px - sx0) * (sy1 - sy0))
        return (int(np.count_nonzero(up & (cross > 0)))
                - int(np.count_nonzero(dn & (cross < 0))))

    keep = []
    for cyc in faces:
        pts = cxy[np.array([h[0] for h in cyc] + [cyc[0][0]])]
        bounded = ring_signed_area(pts) > 0
        ws: list[int] = []
        first = None
        for (u, v) in cyc:
            a = cxy[u]
            b = cxy[v]
            d = b - a
            ln = float(np.hypot(*d))
            if ln == 0:
                continue
            nrm = np.array([-d[1], d[0]]) / ln
            for eps in (1e-7, 1e-6, 1e-5, 1e-3):
                off = eps * ln
                if off < 3.0 * _Q:
                    continue
                p = (a + b) / 2.0 + nrm * off
                if first is None:
                    first = p
                if _pt_in_cycle(pts, p[0], p[1]) == bounded:
                    ws.append(wind(p[0], p[1]))
                    break
            if len(ws) >= 9 or (len(ws) >= 3
                                and ws.count(ws[0]) == len(ws)):
                break
        if ws:
            vals, counts = np.unique(ws, return_counts=True)
            w = int(vals[np.argmax(counts)])
        elif first is not None:
            w = wind(first[0], first[1])
        else:
            keep.append(False)
            continue
        if rule == "evenodd":
            keep.append(w % 2 == 1)
        elif rule == "positive":
            # offset-curve resolution (buffer): reversed loops from
            # collapsed holes / over-eroded shells wind <= 0
            keep.append(w > 0)
        else:
            keep.append(w != 0)

    # boundary half-edges: kept face on the left, dropped on the right
    boundary: set[tuple[int, int]] = set()
    for a, b in edges:
        ka = keep[face_of[(a, b)]]
        kb = keep[face_of[(b, a)]]
        if ka and not kb:
            boundary.add((a, b))
        elif kb and not ka:
            boundary.add((b, a))

    # trace cycles within the boundary subgraph (same angular rule,
    # restricted to boundary half-edges)
    def next_boundary(u: int, v: int) -> tuple[int, int] | None:
        nbrs = out_edges[v]
        i = nbrs.index(u)
        for step in range(1, len(nbrs) + 1):
            w = nbrs[(i - step) % len(nbrs)]
            if (v, w) in boundary:
                return (v, w)
        return None

    rings_out: list[np.ndarray] = []
    unused = set(boundary)
    while unused:
        start = min(unused)
        cyc = [start]
        unused.discard(start)
        cur = start
        guard = 0
        while True:
            guard += 1
            if guard > 10_000_000:
                raise RuntimeError("boundary walk did not close")
            nxt = next_boundary(*cur)
            if nxt is None or nxt == start:
                break
            cyc.append(nxt)
            unused.discard(nxt)
            cur = nxt
        pts = cxy[np.array([h[0] for h in cyc] + [cyc[0][0]])]
        if abs(ring_signed_area(pts)) > 0:
            rings_out.append(pts)

    # assemble polygons: CCW rings are outers, CW rings are holes
    outers = [r for r in rings_out if ring_signed_area(r) > 0]
    holes = [r for r in rings_out if ring_signed_area(r) < 0]
    from gdal_spark.geometry.overlay import ring_contains_ring

    polys: list[list[np.ndarray]] = [[o] for o in outers]
    for h in holes:
        best, best_area = None, np.inf
        for i, o in enumerate(outers):
            if ring_contains_ring(o, h[::-1]):
                a = ring_signed_area(o)
                if a < best_area:
                    best, best_area = i, a
        if best is not None:
            polys[best].append(h)
    return polys


def make_valid(rings: list[np.ndarray]) -> list[list[np.ndarray]]:
    """OGRGeometry::MakeValid, linework semantics: node the rings and
    keep the even-odd interior.  Input: polygon rings (first outer,
    rest holes — orientation-insensitive).  Output: valid polygons
    [outer CCW, holes CW]."""
    return resolve_rings(rings, rule="evenodd")
