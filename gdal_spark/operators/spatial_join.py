"""Two-stage spatial join: cell prefilter + exact PIP.

Re-creates the reference's spatial filter/join semantics
(OGRLayer::FilterGeometry, ogr/ogrsf_frmts/generic/ogrlayer.cpp:4004-4076):

  stage 1 — envelope/bbox reject: the point's quadtree cell is looked
            up in a precomputed cell->polygon cover of each polygon's
            bbox, then the point is tested against the bbox (cells
            play the role GDAL gives its Hilbert/R-tree indexes,
            packedrtree.cpp:73-132)
  stage 2 — rectangle fast-accept when the polygon IS a rectangle
            (ogrlayer.cpp:3922 rectangle detection): inside the bbox a
            rectangle keeps the half-open range, with no ray cast
  stage 2b — interior-cell fast accept: a candidate in a cover cell
            wholly inside its polygon needs no exact test
  stage 3 — exact vectorized ray-cast PIP over packed coordinate
            arrays (ogrlinearring.cpp:452-521 semantics) inside an
            Arrow-batched mapInPandas kernel.

A small polygon layer (``spatial_join_points_in_polygons``) runs all
three stages in ONE map-only kernel over the points, like GDAL's
one pass per feature: the sorted cover rides in the kernel's closure,
a ``searchsorted`` on it is the cell lookup, and stages 2-2b are
numpy comparisons.  There is no join, no broadcast job and no
exchange, and the points are read once at their own width.

A layer too big for the driver (``spatial_join_big_polygons``) keeps
stages 1-2b JVM-side: a shuffle equi-join of the points' cell against
the distributed cover, whose SQL condition computes an ``_exact``
flag column; every surviving candidate goes through the ONE stage-3
kernel, which passes unflagged rows through and ray-casts only the
flagged ones.  Both paths share the cover rows (``_cover_pdf``) and
the stage-3 pass (``_exact_pass``).

Scale notes (100 TB design point):
* the small polygon layer ships in the kernel's closure — the big
  pages table is never shuffled for the join itself;
* stage-1 fan-out is bounded by cells-per-polygon; resolution
  trades candidate selectivity vs index size, and the kernel expands
  (point, cover row) pairs in bounded slices;
* hot cells (Zipf page skew) do not skew the small-layer join, which
  has no exchange; downstream groupBys use salted two-phase
  aggregation (gdal_spark.operators.tiling.salted_agg).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType, BooleanType, DoubleType, LongType, StructField, StructType,
)

from gdal_spark.functions import geo
from gdal_spark.geometry.pip import points_in_rings
from gdal_spark.geometry.wkb import parse_wkb
from gdal_spark.session import kernel_name


def _is_axis_rect(g) -> bool:
    """Rectangle detection (the fast-accept path of
    ogrlayer.cpp:3922): single 5-point ring, axis-aligned edges."""
    rings = g.rings()
    if len(rings) != 1 or len(rings[0]) != 5:
        return False
    r = rings[0]
    for i in range(4):
        dx = r[i + 1, 0] - r[i, 0]
        dy = r[i + 1, 1] - r[i, 1]
        if dx != 0.0 and dy != 0.0:
            return False
    return True


def _inv_merc_lon(mx: np.ndarray) -> np.ndarray:
    return mx / geo.ORIGIN * 180.0


def _inv_merc_lat(my: np.ndarray) -> np.ndarray:
    return np.degrees(2.0 * np.arctan(np.exp(my / geo.ORIGIN * np.pi))
                      - np.pi / 2.0)


def _cells_full_in(g, txs: np.ndarray, tys: np.ndarray, res: int
                   ) -> np.ndarray:
    """Which cover cells are FULLY INSIDE the polygon: the cell's
    lon/lat rect (expanded by the 2e-3-span assignment epsilon) meets
    no ring-edge bbox AND its center is inside.  Conservative (a near
    miss just stays on the exact-kernel path), never wrong."""
    span = geo.tile_span(res)
    eps = 2e-3 * span
    mx0 = (txs - 0.0) * span - geo.ORIGIN - eps
    mx1 = (txs + 1.0) * span - geo.ORIGIN + eps
    my1 = geo.ORIGIN - tys * span + eps
    my0 = geo.ORIGIN - (tys + 1.0) * span - eps
    lon0, lon1 = _inv_merc_lon(mx0), _inv_merc_lon(mx1)
    lat0, lat1 = _inv_merc_lat(my0), _inv_merc_lat(my1)
    rings = g.rings()
    # ring-edge bboxes, all rings concatenated
    ex0 = np.concatenate([np.minimum(r[:-1, 0], r[1:, 0]) for r in rings])
    ex1 = np.concatenate([np.maximum(r[:-1, 0], r[1:, 0]) for r in rings])
    ey0 = np.concatenate([np.minimum(r[:-1, 1], r[1:, 1]) for r in rings])
    ey1 = np.concatenate([np.maximum(r[:-1, 1], r[1:, 1]) for r in rings])
    touches = (
        (lon0[:, None] <= ex1[None, :]) & (ex0[None, :] <= lon1[:, None])
        & (lat0[:, None] <= ey1[None, :]) & (ey0[None, :] <= lat1[:, None])
    ).any(axis=1)
    cx = (lon0 + lon1) / 2.0
    cy = (lat0 + lat1) / 2.0
    inside = points_in_rings(cx, cy, list(rings))
    return (~touches) & inside


def _cell_range(bbox, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Tile x and tile y (flattened) of every resolution-*res* cell a
    lon/lat bbox touches: the bbox's top-left and bottom-right corners
    go through the point cell law (``geo.cells_of``), so floor
    monotonicity makes it a superset of the cells of any point in the
    bbox."""
    minx, miny, maxx, maxy = bbox
    tx, ty = geo.cells_of(np.array([minx, maxx]), np.array([maxy, miny]),
                          res)
    txs, tys = np.meshgrid(np.arange(tx[0], tx[1] + 1),
                           np.arange(ty[0], ty[1] + 1))
    return txs.ravel(), tys.ravel()


def _cover_pdf(fids, wkbs, res: int) -> tuple[pd.DataFrame, np.ndarray]:
    """The polygon_cell_cover_pdf rows of (fid, WKB) pairs, plus each
    row's position in the input."""
    n = 1 << res
    rows = {"cell": [], "fid": [], "minx": [], "miny": [],
            "maxx": [], "maxy": [], "is_rect": [], "full_in": []}
    src = []
    for k, (fid, wkb) in enumerate(zip(fids, wkbs)):
        g = parse_wkb(bytes(wkb))
        bbox = g.bbox()
        rect = _is_axis_rect(g)
        txs, tys = _cell_range(bbox, res)
        m = len(txs)
        full = (np.zeros(m, dtype=bool) if rect
                else _cells_full_in(g, txs.astype(np.float64),
                                    tys.astype(np.float64), res))
        rows["cell"].extend((txs * n + tys).tolist())
        rows["fid"].extend([int(fid)] * m)
        for name, v in zip(("minx", "miny", "maxx", "maxy"), bbox):
            rows[name].extend([v] * m)
        rows["is_rect"].extend([rect] * m)
        rows["full_in"].extend(full.tolist())
        src.extend([k] * m)
    dtypes = {"cell": np.int64, "fid": np.int64, "is_rect": bool,
              "full_in": bool}
    return (pd.DataFrame({c: np.array(v, dtype=dtypes.get(c, np.float64))
                          for c, v in rows.items()}),
            np.array(src, dtype=np.int64))


def polygon_cell_cover_pdf(polys_pdf: pd.DataFrame, res: int,
                           fid_col: str = "fid",
                           geom_col: str = "geometry") -> pd.DataFrame:
    """(cell, fid, bbox..., is_rect, full_in) cover of each polygon's
    bbox at resolution *res*.

    Uses the same GetTileIndices math as point->cell assignment
    (``_cell_range``), so the cover is a superset of matching cells.
    The bbox columns enable the envelope reject; ``is_rect``
    marks polygons whose bbox IS the geometry (fast accept,
    ogrlayer.cpp:3922); ``full_in`` marks INTERIOR cells — every point
    assigned there is inside regardless of ray-cast edge rules, so
    those rows accept without a ray cast and only boundary cells pay
    the exact test (the interior/boundary split of a prepared-geometry
    containment index).
    """
    return _cover_pdf(polys_pdf[fid_col], polys_pdf[geom_col], res)[0]


def _polygon_cell_cover(polys: DataFrame, res: int, fid_col: str,
                        geom_col: str) -> DataFrame:
    """polygon_cell_cover_pdf's rows computed by a distributed Arrow
    kernel, the fid column named *fid_col*, each row carrying its
    polygon's WKB in *geom_col*."""
    schema = StructType([
        StructField("cell", LongType()), StructField(fid_col, LongType()),
        StructField("minx", DoubleType()), StructField("miny", DoubleType()),
        StructField("maxx", DoubleType()), StructField("maxy", DoubleType()),
        StructField("is_rect", BooleanType()),
        StructField("full_in", BooleanType()),
        StructField(geom_col, BinaryType()),
    ])

    def cover_kernel(batches: Iterator[pd.DataFrame]
                     ) -> Iterator[pd.DataFrame]:
        for b in batches:
            wkbs = [bytes(w) for w in b[geom_col]]
            cover, src = _cover_pdf(b[fid_col], wkbs, res)
            if len(cover):
                cover[geom_col] = [wkbs[k] for k in src]
                yield cover.rename(columns={"fid": fid_col})

    return polys.select(fid_col, geom_col).mapInPandas(cover_kernel, schema)


# Stages 1-2 as ONE SQL join condition over (point x cover row) pairs:
# the point's cell equals the cover row's, and the point passes the
# envelope pretest and the rectangle rule.  The envelope pretest must
# be a SUPERSET of ray-cast-inside: a point exactly on the leftmost/
# bottom edge IS strictly-inside by the crossing rule (the 0-distance
# crossing is not counted, the far one is), so the reject uses
# inclusive bounds.  A rectangle's bbox IS the geometry: ray casting
# it admits exactly [x0, x1) x [y0, y1) (left/bottom edges in,
# right/top out), so inside the inclusive bbox a rectangle keeps only
# the points strictly below its right and top edges.
_CANDIDATE_SQL = (
    "{cell} = cell"
    " AND {lon} >= minx AND {lon} <= maxx AND {lat} >= miny AND {lat} <= maxy"
    " AND (NOT is_rect OR ({lon} < maxx AND {lat} < maxy))")
# stage 2b: a non-rectangle candidate outside every interior cover
# cell is the one the stage-3 kernel must ray-cast
_EXACT_SQL = "NOT is_rect AND NOT full_in"


def _candidates(points: DataFrame, cover: DataFrame, res: int, lon: str,
                lat: str, fid_col: str, geom_col: str | None = None
                ) -> tuple[DataFrame, StructType]:
    """Stages 1-2b: the join of *points* and *cover* rows on the cell,
    the envelope reject and the rectangle rule.  Returns the
    candidates, holding every point column but ``cell``, *fid_col*,
    the ``_exact`` flag and, given *geom_col*, the polygon's WKB on
    flagged rows only; and the join's output schema, those columns
    without the flag and the WKB.

    Every expression is a SQL fragment in one ``F.expr``, the style of
    ``functions.geo``: each ``pyspark.sql.functions`` call or Column
    operator is its own round trip to the JVM, and each DataFrame
    method a new plan the JVM analyses."""
    schema = points.schema
    if "cell" in schema.names:
        points = points.drop("cell")
    fields = [f for f in schema.fields if f.name != "cell"]
    names = [f.name for f in fields]
    flag = [F.expr(f"{_EXACT_SQL} AS _exact")]
    if geom_col is not None:
        # only rows the kernel ray-casts ship their polygon's WKB to
        # Python
        flag.append(F.expr(
            f"IF({_EXACT_SQL}, {geom_col}, NULL) AS {geom_col}"))
    on = _CANDIDATE_SQL.format(cell=geo.cell_id_sql(lon, lat, res),
                               lon=lon, lat=lat)
    cand = points.join(cover, F.expr(on)).select(*names, fid_col, *flag)
    return cand, StructType(fields + [StructField(fid_col, LongType())])


def _exact_pass(px: np.ndarray, py: np.ndarray, fids: np.ndarray,
                flag: np.ndarray, rings_of) -> np.ndarray:
    """Stage 3 over candidate rows: which rows to keep.  Unflagged rows
    pass through; a flagged row stays only when the ray cast puts its
    point (*px*, *py*) inside ``rings_of(fid, row)`` (``row`` is the
    position of that fid's first flagged row)."""
    keep = ~flag
    rows = np.flatnonzero(flag)
    if len(rows):
        for fid, idx in pd.Series(rows).groupby(fids[rows]).indices.items():
            r = rows[idx]
            keep[r] = points_in_rings(px[r], py[r],
                                      rings_of(int(fid), r[0]))
    return keep


# A method layer of at most this many rows AND geometry bytes is
# collected to the driver; a larger one stays distributed.
_BROADCAST_ROW_LIMIT = 50_000
_BROADCAST_BYTE_LIMIT = 128 << 20


def bounded_layer_pdf(df: DataFrame, geom_col: str = "geometry"):
    """Collect a method layer only when it is provably small in ROWS
    AND BYTES (``_BROADCAST_ROW_LIMIT``, ``_BROADCAST_BYTE_LIMIT``);
    returns None when the caller must stay distributed.

    The size probe runs JVM-side on limit(row limit + 1) — count plus
    sum(length(geom)) — so neither an unbounded row count NOR
    few-but-huge geometries (50k multipolygons at 1 MB WKB = 50 GB)
    ever reach the driver.  The geometry column dominates layer size,
    so its byte sum is the estimate — the analog of
    autoBroadcastJoinThreshold's byte gate (a row gate alone has no
    such analog)."""
    row = (df.limit(_BROADCAST_ROW_LIMIT + 1)
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.length(F.col(geom_col).cast("binary")))
                .alias("nbytes"))
           .collect()[0])
    if row["n"] > _BROADCAST_ROW_LIMIT \
            or (row["nbytes"] or 0) > _BROADCAST_BYTE_LIMIT:
        return None
    return df.toPandas()


# At most this many (point, cover row) pairs are expanded, tested and
# yielded per step of the point-join kernel, so no output frame grows
# with the number of polygons sharing a cell.
_PAIR_SLICE = 1 << 17


def spatial_join_points_in_polygons(
    spark: SparkSession,
    points: DataFrame,
    polys_pdf: pd.DataFrame,
    res: int = 7,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """points ⋈ polygons on containment -> points columns + ``fid``.
    A ``cell`` column of *points* is dropped, and a NULL or NaN
    coordinate matches nothing.

    ``polys_pdf`` is the small polygon layer with fid + geometry(WKB)
    columns.  Its cell cover, sorted by cell, and the rings of its
    non-rectangles ride in the closure of ONE map-only kernel over the
    points, which runs stages 1-3 per Arrow batch: a ``searchsorted``
    cell lookup, the envelope and rectangle rule of ``_CANDIDATE_SQL``
    and the ``_EXACT_SQL`` flag as numpy comparisons, then the shared
    ray cast (``_exact_pass``).  Building the frame runs no Spark job.
    """
    cover = polygon_cell_cover_pdf(polys_pdf, res)
    cover = cover.iloc[np.argsort(cover["cell"].to_numpy(), kind="stable")]
    cells = cover["cell"].to_numpy()
    fids = cover["fid"].to_numpy()
    minx, miny, maxx, maxy = (cover[c].to_numpy()
                              for c in ("minx", "miny", "maxx", "maxy"))
    is_rect = cover["is_rect"].to_numpy()
    exact = ~is_rect & ~cover["full_in"].to_numpy()
    rings_by_fid = {}
    for fid, wkb in zip(polys_pdf["fid"], polys_pdf["geometry"]):
        g = parse_wkb(bytes(wkb))
        if not _is_axis_rect(g):
            rings_by_fid[int(fid)] = [np.ascontiguousarray(r)
                                      for r in g.rings()]
    in_fields = points.schema.fields
    fields = [f for f in in_fields if f.name != "cell"]
    has_cell = len(fields) < len(in_fields)
    schema = StructType(fields + [StructField("fid", LongType())])
    n = 1 << res
    pair_slice = _PAIR_SLICE

    # the cover and the rings ride in the kernel's closure: PySpark
    # broadcasts a pickled kernel above
    # spark.broadcast.UDFCompressionThreshold (1 MB) by itself
    @kernel_name("operators.spatial_join.exact")
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if has_cell:
                b = b.drop(columns="cell")
            px = b[lon].to_numpy(dtype=np.float64)
            py = b[lat].to_numpy(dtype=np.float64)
            pts = np.flatnonzero(~(np.isnan(px) | np.isnan(py)))
            tx, ty = geo.cells_of(px[pts], py[pts], res)
            cell = tx * n + ty
            lo = np.searchsorted(cells, cell, "left")
            cnt = np.searchsorted(cells, cell, "right") - lo
            ends = np.cumsum(cnt)
            total = int(ends[-1]) if len(ends) else 0
            for s in range(0, total, pair_slice):
                # pair k is cover row lo[j] + (k - start of j) of point
                # pts[j]; one point's pairs may span slices
                k = np.arange(s, min(s + pair_slice, total))
                j = np.searchsorted(ends, k, "right")
                row = lo[j] + k - (ends[j] - cnt[j])
                p = pts[j]
                x, y = px[p], py[p]
                # stages 1-2, as _CANDIDATE_SQL
                ok = ((x >= minx[row]) & (x <= maxx[row])
                      & (y >= miny[row]) & (y <= maxy[row])
                      & (~is_rect[row]
                         | ((x < maxx[row]) & (y < maxy[row]))))
                p, row = p[ok], row[ok]
                ok = _exact_pass(px[p], py[p], fids[row], exact[row],
                                 lambda fid, r: rings_by_fid[fid])
                if ok.any():
                    out = b.take(p[ok])
                    out["fid"] = fids[row[ok]]
                    yield out

    return points.mapInPandas(kernel, schema)


def spatial_join_big_polygons(
    spark: SparkSession,
    points: DataFrame,
    polys: DataFrame,
    res: int = 7,
    lon: str = "lon",
    lat: str = "lat",
    fid_col: str = "fid",
    geom_col: str = "geometry",
) -> DataFrame:
    """Two-stage spatial join for polygon layers TOO BIG to broadcast.

    The distributed rendering of the same FilterGeometry plan:

      stage 1 — the polygon layer is exploded into its cell cover
        (an Arrow kernel computing polygon_cell_cover_pdf's rows,
        distributed), carrying bbox columns and the WKB; the
        candidate join is a plain shuffle equi-join on cell —
        Catalyst/AQE pick the strategy and split skewed cells;
      stage 2 — JVM envelope reject + rectangle rule + ``_exact`` flag;
      stage 3 — one exact PIP kernel over every candidate; only the
        flagged rows carry their polygon's WKB and are ray-cast, so
        no polygon index needs to fit in memory anywhere.

    Output: points columns but ``cell`` + fid (same rows and columns as
    the broadcast path).
    """
    cover = _polygon_cell_cover(polys, res, fid_col, geom_col)
    flagged, schema = _candidates(points, cover, res, lon, lat, fid_col,
                                  geom_col)

    @kernel_name("operators.spatial_join.exact_shuffle")
    def exact(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ring_cache: dict[int, list[np.ndarray]] = {}

        def rings_of(fid: int, wkb) -> list[np.ndarray]:
            rings = ring_cache.get(fid)
            if rings is None:
                rings = parse_wkb(bytes(wkb)).rings()
                if len(ring_cache) < 4096:
                    ring_cache[fid] = rings
            return rings

        for b in batches:
            geoms = b[geom_col]
            keep = _exact_pass(b[lon].to_numpy(dtype=np.float64),
                               b[lat].to_numpy(dtype=np.float64),
                               b[fid_col].to_numpy(),
                               b["_exact"].to_numpy(dtype=bool),
                               lambda fid, row: rings_of(fid, geoms.iat[row]))
            if keep.any():
                yield b[keep].drop(columns=["_exact", geom_col])

    return flagged.mapInPandas(exact, schema)


def brute_force_join_pdf(points_pdf: pd.DataFrame, polys_pdf: pd.DataFrame,
                         lon: str = "lon", lat: str = "lat") -> pd.DataFrame:
    """Driver-side oracle: every point x every polygon, exact PIP."""
    px = points_pdf[lon].to_numpy(dtype=np.float64)
    py = points_pdf[lat].to_numpy(dtype=np.float64)
    out = []
    for fid, wkb in zip(polys_pdf["fid"], polys_pdf["geometry"]):
        inside = points_in_rings(px, py, parse_wkb(bytes(wkb)).rings())
        sub = points_pdf[inside].copy()
        sub["fid"] = int(fid)
        out.append(sub)
    return (pd.concat(out, ignore_index=True) if out
            else points_pdf.iloc[:0].assign(fid=np.int64(0)))


def _geom_cell_cover(df: DataFrame, res: int, fid_col: str,
                     geom_col: str, out_fid: str) -> DataFrame:
    """Distributed bbox cell cover of a geometry layer: one row per
    (cell of the feature's bbox) carrying bbox columns + the WKB —
    the exploded build input of the polygon x polygon join (the
    distributed rendering of the ogrlayer.cpp:4004 envelope pretest,
    same GetTileIndices math as polygon_cell_cover_pdf)."""
    n = 1 << res
    sfx = out_fid
    schema = StructType([
        StructField("cell", LongType()), StructField(sfx, LongType()),
        StructField(f"minx_{sfx}", DoubleType()),
        StructField(f"miny_{sfx}", DoubleType()),
        StructField(f"maxx_{sfx}", DoubleType()),
        StructField(f"maxy_{sfx}", DoubleType()),
        StructField(f"geom_{sfx}", BinaryType()),
    ])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = {f.name: [] for f in schema.fields}
            for fid, wkb in zip(b[fid_col], b[geom_col]):
                g = parse_wkb(bytes(wkb))
                minx, miny, maxx, maxy = g.bbox()
                txs, tys = _cell_range((minx, miny, maxx, maxy), res)
                k = len(txs)
                rows["cell"].extend((txs * n + tys).tolist())
                rows[sfx].extend([int(fid)] * k)
                rows[f"minx_{sfx}"].extend([minx] * k)
                rows[f"miny_{sfx}"].extend([miny] * k)
                rows[f"maxx_{sfx}"].extend([maxx] * k)
                rows[f"maxy_{sfx}"].extend([maxy] * k)
                rows[f"geom_{sfx}"].extend([bytes(wkb)] * k)
            if rows["cell"]:
                yield pd.DataFrame(rows)

    return df.select(fid_col, geom_col).mapInPandas(kernel, schema)


def _pair_candidates(input_df: DataFrame, method_df: DataFrame, res: int,
                     fid_col: str, geom_col: str, method_geom_col: str
                     ) -> DataFrame:
    """Candidate (input, method) feature pairs of two distributed
    layers, one row each: (fid_a, geom_fid_a, fid_b, geom_fid_b).

    Each layer's features explode into the cell cover of their bbox
    (``_geom_cell_cover``); a plain equi-join on cell (Catalyst/AQE
    pick the strategy and split skewed cells), the JVM bbox-overlap
    reject and the CORNER-CELL dedup follow, as one SQL fragment.  A
    pair survives only in the cell holding the top-left corner of its
    bbox intersection: both covers enumerate complete cell rectangles
    of their bboxes and the corner lies inside both, so by floor
    monotonicity exactly one copy of each pair survives, with no
    distinct() shuffle."""
    a = _geom_cell_cover(input_df, res, fid_col, geom_col, "fid_a")
    b = _geom_cell_cover(method_df, res, fid_col, method_geom_col, "fid_b")
    corner = geo.cell_id_sql("greatest(minx_fid_a, minx_fid_b)",
                             "least(maxy_fid_a, maxy_fid_b)", res)
    return a.join(b, "cell").filter(F.expr(
        "minx_fid_a <= maxx_fid_b AND minx_fid_b <= maxx_fid_a"
        " AND miny_fid_a <= maxy_fid_b AND miny_fid_b <= maxy_fid_a"
        f" AND cell = {corner}")
    ).select("fid_a", "geom_fid_a", "fid_b", "geom_fid_b")


def spatial_join_polygons_intersect_big(
    spark: SparkSession,
    input_df: DataFrame,
    method_df: DataFrame,
    geom_col: str = "geometry",
    method_geom_col: str | None = None,
    fid_col: str = "fid",
    res: int = 6,
) -> DataFrame:
    """polygon layer ⋈ polygon layer on ST_Intersects, NEITHER side
    collected to the driver (the fallback when the method layer
    exceeds the broadcast bound — ogrlayer.cpp:4004 works for any
    pair of layers).

      stages 1-2 — ``_pair_candidates``: cell cover of both layers,
        equi-join on cell, JVM bbox-overlap reject, corner-cell dedup;
      stage 3 — exact boundary-cross/containment kernel per pair,
        then a join back to the input layer's columns.

    Output: input columns + ``method_fid`` (same rows as the
    broadcast path ``spatial_join_polygons_intersect``).
    """
    from gdal_spark.geometry.overlay import geoms_intersect

    cand = _pair_candidates(input_df, method_df, res, fid_col, geom_col,
                            method_geom_col or geom_col)
    pair_schema = StructType([StructField(fid_col, LongType()),
                              StructField("method_fid", LongType())])

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for bt in batches:
            if len(bt) == 0:
                continue
            fids, mfids = [], []
            for fa, fb, ga, gb in zip(bt["fid_a"], bt["fid_b"],
                                      bt["geom_fid_a"], bt["geom_fid_b"]):
                if geoms_intersect(parse_wkb(bytes(ga)),
                                   parse_wkb(bytes(gb))):
                    fids.append(int(fa))
                    mfids.append(int(fb))
            if fids:
                yield pd.DataFrame({
                    fid_col: np.array(fids, dtype=np.int64),
                    "method_fid": np.array(mfids, dtype=np.int64),
                })

    pairs = cand.mapInPandas(verify, pair_schema)
    return input_df.join(pairs, fid_col)


def spatial_join_polygons_intersect(
    spark: SparkSession,
    input_df: DataFrame,
    polys_pdf: pd.DataFrame,
    geom_col: str = "geometry",
    fid_col: str = "fid",
) -> DataFrame:
    """polygon layer ⋈ polygon layer on ST_Intersects.

    The general FilterGeometry pair the point-in-polygon join cannot
    express (ogrlayer.cpp:4004-4076 handles any geometry pair): the
    small method layer is parsed once on the driver and rides with its
    bboxes in the kernel's closure; the kernel runs the
    JVM-free but Arrow-batched exact test — boundary cross (vectorized
    segment orientation) or containment either way.

    Output: input columns + ``method_fid`` (one row per intersecting
    pair, like SetSpatialFilter + a join on the method fid).

    Accepts ANY geometry kinds on either side (point/line/polygon and
    their multis) — the exact predicate dispatches per dimension pair
    (geoms_intersect), matching FilterGeometry's generality.
    """
    from gdal_spark.geometry.overlay import geoms_intersect

    idx = []
    for fid, wkb in zip(polys_pdf[fid_col], polys_pdf[geom_col]):
        g = parse_wkb(bytes(wkb))
        idx.append((int(fid), g, g.bbox()))
    out_schema = input_df.withColumn(
        "method_fid", F.lit(0).cast("long")).schema

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b) == 0:
                continue
            out_rows = []
            mfids = []
            for i, wkb in enumerate(b[geom_col]):
                g = parse_wkb(bytes(wkb))
                gx0, gy0, gx1, gy1 = g.bbox()
                for mfid, mg, (mx0, my0, mx1, my1) in idx:
                    if not (gx0 <= mx1 and mx0 <= gx1
                            and gy0 <= my1 and my0 <= gy1):
                        continue
                    if geoms_intersect(g, mg):
                        out_rows.append(i)
                        mfids.append(mfid)
            if out_rows:
                out = b.iloc[out_rows].copy()
                out["method_fid"] = np.array(mfids, dtype=np.int64)
                yield out

    return input_df.mapInPandas(kernel, out_schema)
