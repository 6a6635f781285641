"""Scalar geometry measures over packed coordinate arrays.

Semantics follow the reference's OGRGeometry measures
(get_Area ogr/ogrsurface.cpp / ogrlinearring shoelace, Centroid
ogrgeometry.cpp:6526, Length): planar, holes subtract from outer
rings, multipolygons sum parts.
"""

from __future__ import annotations

import numpy as np

from gdal_spark.geometry.wkb import Geom, MULTIPOLYGON, POLYGON


def ring_signed_area(ring: np.ndarray) -> float:
    """Shoelace signed area; positive for counter-clockwise rings."""
    x = ring[:, 0]
    y = ring[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def geom_area(geom: Geom) -> float:
    """Planar area: |outer| - |holes| per part (even-odd equivalent)."""
    if geom.kind not in (POLYGON, MULTIPOLYGON):
        return 0.0
    total = 0.0
    po = geom.part_offsets
    if geom.kind == POLYGON:
        groups = [geom.parts]
    else:
        # MULTIPOLYGON part_offsets delimit polygons' ring groups
        groups = [geom.parts[po[i]:po[i + 1]] for i in range(len(po) - 1)]
    for rings in groups:
        for i, r in enumerate(rings):
            a = abs(ring_signed_area(r))
            total += a if i == 0 else -a
    return total


def geom_centroid(geom: Geom) -> tuple[float, float]:
    """Area-weighted centroid (holes with negative weight)."""
    if geom.kind in (POLYGON, MULTIPOLYGON):
        sx = sy = sa = 0.0
        po = geom.part_offsets
        groups = (
            [geom.parts] if geom.kind == POLYGON
            else [geom.parts[po[i]:po[i + 1]] for i in range(len(po) - 1)]
        )
        for rings in groups:
            outer_sign = None
            for i, r in enumerate(rings):
                x, y = r[:-1, 0], r[:-1, 1]
                x2, y2 = r[1:, 0], r[1:, 1]
                cross = x * y2 - x2 * y
                a = 0.5 * float(np.sum(cross))
                if i == 0:
                    outer_sign = 1.0 if a >= 0 else -1.0
                    w = a * outer_sign
                else:
                    w = -abs(a)
                if a == 0.0:
                    continue
                cx = float(np.sum((x + x2) * cross)) / (6.0 * a)
                cy = float(np.sum((y + y2) * cross)) / (6.0 * a)
                sx += cx * w
                sy += cy * w
                sa += w
        if sa != 0.0:
            return (sx / sa, sy / sa)
    allc = np.vstack(geom.parts)
    return (float(allc[:, 0].mean()), float(allc[:, 1].mean()))


def geom_length(geom: Geom) -> float:
    total = 0.0
    for part in geom.parts:
        d = np.diff(part, axis=0)
        total += float(np.sqrt((d * d).sum(axis=1)).sum())
    return total
