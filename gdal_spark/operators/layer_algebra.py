"""Layer algebra: Clip / Intersection / Erase and the other GDAL layer
operations between two layers, plus dissolve.

The reference implements each verb GEOS-backed on OGRLayer
(Intersection ogr/ogrsf_frmts/generic/ogrlayer.cpp:5385, Clip :7537,
Erase :7846) as one general implementation over a bbox-prefiltered
pair set.  So does this engine, with no GEOS in the container:

* ``overlay_general`` runs every polygon verb between arbitrary simple
  polygons (concave and holed) through the Greiner-Hormann kernel
  ``geometry.overlay.poly_op``;
* ``overlay_lines`` / ``overlay_lines_big`` / ``overlay_lines_auto``
  clip and erase LINE layers against a polygon method layer.

A method layer given as a pandas frame is parsed once on the driver
and rides in the kernel's closure (PySpark broadcasts a pickled kernel
above ``spark.broadcast.UDFCompressionThreshold`` by itself); the input
layer is map-only.  A method layer too big for the driver takes the
distributed cell-cover pair join (``spatial_join._pair_candidates``).
Output rows are (input fid, method fid, geometry WKB, area or length).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, LongType, StructField, StructType
)

from gdal_spark.geometry.packed import geom_area
from gdal_spark.geometry.wkb import (
    multipolygon_wkb, parse_wkb, polygon_wkb,
)
from gdal_spark.session import spread_for_kernel


OVERLAY_SCHEMA = StructType([
    StructField("fid", LongType()),
    StructField("method_fid", LongType()),
    StructField("geometry", BinaryType()),
    StructField("area", DoubleType()),
])


# --------------------------------------------------------------------
# line-layer algebra (Clip / Intersection / Erase / Identity of a
# LINE input layer against a polygon method layer)
# --------------------------------------------------------------------

LINE_OVERLAY_SCHEMA = StructType([
    StructField("fid", LongType()),
    StructField("method_fid", LongType()),
    StructField("geometry", BinaryType()),
    StructField("length", DoubleType()),
])


def _method_grid_index(meth):
    """Uniform grid over the driver-side method layer's extent:
    (x0, y0, x1, y1, inv_cw, inv_ch, nc, cells) where cells maps
    (ix, iy) -> method indices whose bbox covers that cell.
    Replaces the O(|method|) per-line scan with an O(cells-covered)
    candidate lookup (the in-memory analog of the cell-cover join's
    prefilter; reference keeps a per-layer envelope index too,
    ogrlayer.cpp:4004)."""
    if not meth:
        return None
    boxes = [b for _, _, b in meth]
    x0 = min(b[0] for b in boxes)
    y0 = min(b[1] for b in boxes)
    x1 = max(b[2] for b in boxes)
    y1 = max(b[3] for b in boxes)
    nc = int(np.clip(np.ceil(np.sqrt(len(meth))), 1, 256))
    cw = max((x1 - x0) / nc, 1e-300)
    ch = max((y1 - y0) / nc, 1e-300)
    cells: dict[tuple[int, int], list[int]] = {}
    for i, (_, _, (bx0, by0, bx1, by1)) in enumerate(meth):
        ix0 = int(np.clip((bx0 - x0) / cw, 0, nc - 1))
        ix1 = int(np.clip((bx1 - x0) / cw, 0, nc - 1))
        iy0 = int(np.clip((by0 - y0) / ch, 0, nc - 1))
        iy1 = int(np.clip((by1 - y0) / ch, 0, nc - 1))
        for ix in range(ix0, ix1 + 1):
            for iy in range(iy0, iy1 + 1):
                cells.setdefault((ix, iy), []).append(i)
    return (x0, y0, x1, y1, 1.0 / cw, 1.0 / ch, nc, cells)


def _grid_candidates(index, gx0, gy0, gx1, gy1):
    """Sorted, deduped method indices whose grid cells the query bbox
    touches (a superset of bbox-overlappers; the exact bbox test
    still runs per candidate); a bbox disjoint from the layer extent
    short-circuits to []."""
    x0, y0, x1, y1, icw, ich, nc, cells = index
    if gx1 < x0 or gx0 > x1 or gy1 < y0 or gy0 > y1:
        return []
    ix0 = int(np.clip((gx0 - x0) * icw, 0, nc - 1))
    ix1 = int(np.clip((gx1 - x0) * icw, 0, nc - 1))
    iy0 = int(np.clip((gy0 - y0) * ich, 0, nc - 1))
    iy1 = int(np.clip((gy1 - y0) * ich, 0, nc - 1))
    out: set[int] = set()
    for ix in range(ix0, ix1 + 1):
        for iy in range(iy0, iy1 + 1):
            got = cells.get((ix, iy))
            if got:
                out.update(got)
    return sorted(out)


def overlay_lines(spark: SparkSession, lines_df: DataFrame,
                  method_pdf: pd.DataFrame, op: str,
                  geom_col: str = "geometry") -> DataFrame:
    """Layer algebra for LINE inputs x polygon method layer — the
    lower-dimension pairing the polygon kernels cannot express
    (roads x admin zones).  Reference: the layer ops accept any
    geometry type and keep lower-dimension results
    (ogr/ogrsf_frmts/generic/ogrlayer.cpp:5385 option block,
    KEEP_LOWER_DIMENSION_GEOMETRIES); GEOS does the line clipping
    there, the split-at-crossings kernel does it here
    (gdal_spark.geometry.lines).

      intersection / clip — one row per crossing (fid, method_fid)
        pair: the portion of the line inside the method feature;
      erase    — the portion outside ALL method features (fid, -1);
      identity — intersection rows + the erase remainder.

    Output: (fid, method_fid, MULTILINESTRING WKB, length).  Lengths
    partition exactly: clip + erase == input length per feature.
    The method layer rides in the kernel's closure behind a grid index
    (each line tests only the candidates of the cells its bbox covers,
    never the whole layer); the input layer is map-only (no shuffle at
    any size).  For a method layer too big for the driver use
    overlay_lines_big / overlay_lines_auto.
    """
    from gdal_spark.geometry.lines import (
        clip_line_to_rings, erase_line_from_rings, polyline_length,
    )

    if op not in {"intersection", "clip", "erase", "identity"}:
        raise ValueError(f"unknown line overlay op {op!r}")
    meth = _method_index(method_pdf, geom_col)
    lines_df = spread_for_kernel(lines_df)
    want_isect = op in {"intersection", "clip", "identity"}
    want_erase = op in {"erase", "identity"}

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        index = _method_grid_index(meth)
        for b in batches:
            rows = {"fid": [], "method_fid": [], "geometry": [],
                    "length": []}

            def emit(fid, mfid, parts):
                parts = [p for p in parts if len(p) >= 2]
                if not parts:
                    return
                from gdal_spark.geometry.wkb import multilinestring_wkb

                rows["fid"].append(fid)
                rows["method_fid"].append(mfid)
                rows["geometry"].append(multilinestring_wkb(parts))
                rows["length"].append(polyline_length(parts))

            for fid, wkb in zip(b["fid"], b[geom_col]):
                g = parse_wkb(bytes(wkb))
                gx0, gy0, gx1, gy1 = g.bbox()
                remain = list(g.parts)
                cand = (_grid_candidates(index, gx0, gy0, gx1, gy1)
                        if index else [])
                for ci in cand:
                    mfid, mrings, (mx0, my0, mx1, my1) = meth[ci]
                    overlaps = (gx0 <= mx1 and mx0 <= gx1
                                and gy0 <= my1 and my0 <= gy1)
                    if not overlaps:
                        continue
                    if want_isect:
                        pieces = []
                        for part in g.parts:
                            pieces.extend(
                                clip_line_to_rings(part, list(mrings)))
                        emit(int(fid), mfid, pieces)
                    if want_erase:
                        nxt = []
                        for part in remain:
                            nxt.extend(erase_line_from_rings(
                                part, list(mrings)))
                        remain = nxt
                        if not remain:
                            break
                if want_erase:
                    emit(int(fid), -1, remain)
            if rows["fid"]:
                yield pd.DataFrame(rows)

    return lines_df.select("fid", geom_col).mapInPandas(
        kernel, LINE_OVERLAY_SCHEMA)


def overlay_lines_big(spark: SparkSession, lines_df: DataFrame,
                      method_df: DataFrame, op: str,
                      geom_col: str = "geometry",
                      method_geom_col: str | None = None,
                      res: int = 6) -> DataFrame:
    """overlay_lines with a DISTRIBUTED method layer — neither side
    ever collects to the driver (reference FilterGeometry handles any
    pair at any size, ogrlayer.cpp:4004-4076).

    Shape: spatial_join._pair_candidates (cell cover of both layers'
    bboxes, equi-join on cell, JVM bbox-overlap reject, corner-cell
    pair dedup) yields one row per candidate (line, method) pair;
    pairs then hash-partition by line
    fid and sort within partitions, and a single mapInPandas pass
    with a cross-batch carry runs the split-at-crossings kernel —
    intersection rows per pair, the erase remainder sequentially per
    line (groupBy().applyInPandas would pay ~ms per group at 10^7
    lines).  Lines with NO candidate pair emit their whole geometry
    as the erase remainder via a left-anti join.
    """
    from gdal_spark.geometry.lines import (
        clip_line_to_rings, erase_line_from_rings, polyline_length,
    )
    from gdal_spark.geometry.wkb import multilinestring_wkb
    from gdal_spark.operators.spatial_join import _pair_candidates

    if op not in {"intersection", "clip", "erase", "identity"}:
        raise ValueError(f"unknown line overlay op {op!r}")
    want_isect = op in {"intersection", "clip", "identity"}
    want_erase = op in {"erase", "identity"}

    cand = _pair_candidates(lines_df, method_df, res, "fid", geom_col,
                            method_geom_col or geom_col)
    par = spark.sparkContext.defaultParallelism
    cand = cand.repartition(par, "fid_a") \
        .sortWithinPartitions("fid_a", "fid_b")
    if want_erase:
        # the unpaired left-anti branch consumes cand a second time:
        # checkpoint so the cell-cover explosion + join + corner
        # dedup run once, not once per consumer
        cand = cand.localCheckpoint(eager=False)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur_fid = None
        cur_parts: list = []
        cur_remain: list = []
        rows = {"fid": [], "method_fid": [], "geometry": [],
                "length": []}

        def emit(fid, mfid, parts):
            parts = [p for p in parts if len(p) >= 2]
            if not parts:
                return
            rows["fid"].append(fid)
            rows["method_fid"].append(mfid)
            rows["geometry"].append(multilinestring_wkb(parts))
            rows["length"].append(polyline_length(parts))

        def flush_line():
            if cur_fid is not None and want_erase:
                emit(int(cur_fid), -1, cur_remain)

        for bt in batches:
            for fa, ga, fb, gb in zip(bt["fid_a"], bt["geom_fid_a"],
                                      bt["fid_b"], bt["geom_fid_b"]):
                if fa != cur_fid:
                    flush_line()
                    cur_fid = fa
                    g = parse_wkb(bytes(ga))
                    cur_parts = list(g.parts)
                    cur_remain = list(g.parts)
                mrings = [np.ascontiguousarray(x, dtype=np.float64)
                          for x in parse_wkb(bytes(gb)).rings()]
                if want_isect:
                    pieces = []
                    for part in cur_parts:
                        pieces.extend(clip_line_to_rings(part, mrings))
                    emit(int(fa), int(fb), pieces)
                if want_erase:
                    nxt = []
                    for part in cur_remain:
                        nxt.extend(erase_line_from_rings(part, mrings))
                    cur_remain = nxt
            if rows["fid"]:
                yield pd.DataFrame(rows)
                rows = {"fid": [], "method_fid": [], "geometry": [],
                        "length": []}
        flush_line()
        if rows["fid"]:
            yield pd.DataFrame(rows)

    out = cand.mapInPandas(kernel, LINE_OVERLAY_SCHEMA)

    if want_erase:
        # lines the cover join never paired: whole line is remainder
        unpaired = lines_df.select("fid", geom_col).join(
            cand.select(F.col("fid_a").alias("fid")).distinct(),
            "fid", "left_anti")

        def whole(batches: Iterator[pd.DataFrame]) \
                -> Iterator[pd.DataFrame]:
            for bt in batches:
                rows = {"fid": [], "method_fid": [], "geometry": [],
                        "length": []}
                for fid, wkb in zip(bt["fid"], bt[geom_col]):
                    parts = [p for p in parse_wkb(bytes(wkb)).parts
                             if len(p) >= 2]
                    if not parts:
                        continue
                    rows["fid"].append(int(fid))
                    rows["method_fid"].append(-1)
                    rows["geometry"].append(multilinestring_wkb(parts))
                    rows["length"].append(polyline_length(parts))
                if rows["fid"]:
                    yield pd.DataFrame(rows)

        out = out.unionByName(
            unpaired.mapInPandas(whole, LINE_OVERLAY_SCHEMA))
    return out


def overlay_lines_auto(spark: SparkSession, lines_df: DataFrame,
                       method_df: DataFrame, op: str,
                       geom_col: str = "geometry",
                       method_geom_col: str | None = None) -> DataFrame:
    """overlay_lines with the method layer collected when it is
    provably small in rows AND bytes (spatial_join.bounded_layer_pdf:
    a JVM-side probe, nothing unbounded through the driver), else
    overlay_lines_big."""
    from gdal_spark.operators.spatial_join import bounded_layer_pdf

    mcol = method_geom_col or geom_col
    pdf = bounded_layer_pdf(method_df, mcol)
    if pdf is None:
        return overlay_lines_big(spark, lines_df, method_df, op,
                                 geom_col=geom_col,
                                 method_geom_col=method_geom_col)
    if mcol != geom_col:
        pdf = pdf.rename(columns={mcol: geom_col})
    return overlay_lines(spark, lines_df, pdf, op, geom_col=geom_col)


# --------------------------------------------------------------------
# dissolve — group-wise geometry union
# --------------------------------------------------------------------

DISSOLVE_SCHEMA = StructType([
    StructField("key", LongType()),
    StructField("geometry", BinaryType()),
    StructField("area", DoubleType()),
])


def _dissolve_key_type(df: DataFrame, by: str):
    """Spark type the dissolve key is carried in — the by-column's own
    type family (integral -> long, string -> string, fractional ->
    double), never a silent cast-to-NULL. Raises on anything else so a
    bad group column fails fast instead of fusing every row into one
    NULL-keyed global union."""
    from pyspark.sql.types import (BooleanType, ByteType, DecimalType,
                                   ShortType, IntegerType, FloatType,
                                   StringType as _Str,
                                   DoubleType as _Dbl)
    dt = df.schema[by].dataType
    if isinstance(dt, (ByteType, ShortType, IntegerType, LongType,
                       BooleanType)):
        return LongType()
    if isinstance(dt, DecimalType):
        # scale-0 decimals (the standard parquet integer surrogate)
        # cast losslessly to long; fractional decimals group by their
        # exact string form rather than a lossy double
        return LongType() if dt.scale == 0 and dt.precision <= 18 \
            else _Str()
    if isinstance(dt, _Str):
        return _Str()
    if isinstance(dt, (FloatType, _Dbl)):
        return _Dbl()
    raise TypeError(
        f"dissolve(by={by!r}): unsupported group-key type {dt}; "
        "use an integral, decimal, string, or floating-point column")


def dissolve(spark: SparkSession, df: DataFrame,
             by: str | None = None, geom_col: str = "geometry",
             n_salt: int = 8) -> DataFrame:
    """gdal vector dissolve (apps/gdalalg_vector_dissolve.cpp):
    union every geometry sharing a ``by`` value (the whole layer when
    None) — the admin-units roll-up the reference runs through GEOS
    UnaryUnion.

    Distributed shape: union is associative, so it tree-reduces —
    stage 1 unions each (group, salt) slice via the exact
    planar-arrangement resolver (rule='positive' keeps the covered
    region; its noding handles the shared-edge adjacency dissolve
    exists for), stage 2 unions the ≤ n_salt partials per group.
    Output: (key, MULTIPOLYGON WKB, area); ``key`` keeps the
    by-column's own type family (long / string / double — see
    _dissolve_key_type; -1 for a whole-layer dissolve) so a string
    group column dissolves per group instead of NULL-collapsing.
    """
    from gdal_spark.geometry.overlay import _close, _orient
    from gdal_spark.geometry.valid import resolve_rings

    key_type = _dissolve_key_type(df, by) if by else LongType()
    key_dtype = {  # pandas dtype for an EMPTY key series
        "bigint": np.int64, "string": object, "double": np.float64,
    }[key_type.simpleString()]
    schema = StructType([
        StructField("key", key_type),
        StructField("geometry", BinaryType()),
        StructField("area", DoubleType()),
    ])

    def _oriented_rings(g) -> list[np.ndarray]:
        o = g.part_offsets
        out = []
        for i in range(len(o) - 1):
            rings = g.parts[o[i]:o[i + 1]]
            out.append(_orient(_close(rings[0]), True))
            out.extend(_orient(_close(h), False) for h in rings[1:])
        return out

    def _union_rows(key, pdf: pd.DataFrame) -> pd.DataFrame:
        k = key[0]
        rings: list[np.ndarray] = []
        for wkb in pdf["geometry"]:
            rings.extend(_oriented_rings(parse_wkb(bytes(wkb))))
        pieces = [p for p in resolve_rings(rings, rule="positive")
                  if p]
        if not pieces:
            return pd.DataFrame({
                "key": pd.Series(dtype=key_dtype),
                "geometry": pd.Series(dtype=object),
                "area": pd.Series(dtype=np.float64),
            })
        wkb = multipolygon_wkb(pieces)
        return pd.DataFrame({
            "key": pd.Series([k], dtype=key_dtype),
            "geometry": [wkb],
            "area": np.array([geom_area(parse_wkb(wkb))],
                             dtype=np.float64),
        })

    key_col = (F.col(by).cast(key_type) if by
               else F.lit(-1).cast("long"))
    src = df.select(key_col.alias("key"),
                    F.col(geom_col).alias("geometry"))
    # pin the reduce width before each CPU-bound union kernel: the
    # WKB shuffle is tiny in bytes, so AQE would coalesce it to ~1
    # partition and serialize the planar-arrangement resolver (the
    # warp/contour lesson; q47 ran both stages single-task)
    par = spark.sparkContext.defaultParallelism
    partials = (
        src.withColumn("salt",
                       F.pmod(F.xxhash64("geometry"), F.lit(n_salt)))
        .repartition(par, "key", "salt")
        .groupBy("key", "salt")
        .applyInPandas(lambda k, p: _union_rows(k, p), schema)
    )
    return (partials.repartition(par, "key")
            .groupBy("key").applyInPandas(_union_rows, schema))


# --------------------------------------------------------------------
# general (concave/holed) overlay — Greiner-Hormann backed
# --------------------------------------------------------------------


def _method_index(method_pdf: pd.DataFrame, geom_col: str = "geometry"):
    """The method layer parsed once on the driver, in row order:
    [(fid, rings, bbox)]."""
    idx = []
    for fid, wkb in zip(method_pdf["fid"], method_pdf[geom_col]):
        g = parse_wkb(bytes(wkb))
        rings = [np.ascontiguousarray(x, dtype=np.float64)
                 for x in g.rings()]
        idx.append((int(fid), rings, g.bbox()))
    return idx


def overlay_general(spark: SparkSession, input_df: DataFrame,
                    method_pdf: pd.DataFrame, op: str,
                    geom_col: str = "geometry",
                    bbox_cols: tuple[str, str, str, str] | None = None,
                    remainder_salt: int = 8,
                    options: dict | None = None) -> DataFrame:
    """Layer algebra between ARBITRARY simple polygons (concave and
    holed).

    Reference semantics (ogr/ogrsf_frmts/generic/ogrlayer.cpp):
      Intersection :5385 — one row per crossing (fid, method_fid) pair
      Clip         :7537 — same geometry as Intersection, input fields
      Erase        :7846 — input minus ALL crossing method features
      Identity     :6770 — Intersection + uncovered input remainder
      Union        :5803 — Identity + uncovered method remainder
      SymDifference:6340 — both remainders, no intersections
      Update       :7188 — input minus method regions, plus the
                           method features appended whole (method
                           rows carry fid=-1, method_fid=their fid)

    The method layer is parsed once on the driver and rides in the
    kernels' closures (the reference iterates it per input feature
    with a prepared-geometry cache — same asymmetry).  The
    input layer is map-only for every op except the method remainder
    of Union, which groups candidate pairs by method fid (a small
    shuffle bounded by |method| x avg overlap).

    ``bbox_cols`` (minx, miny, maxx, maxy column names): when the
    input layer carries envelope columns, Intersection/Clip push the
    envelope pretest of ogrlayer.cpp:4004 into the JVM so rows that
    cannot touch any method feature never reach the Python kernel:
    first the method layer's GLOBAL envelope as a 4-comparison filter
    (free, codegen), then a broadcast LEFT SEMI join against the
    per-feature bbox table — expression size stays O(1) regardless of
    |method| (an OR-of-bboxes predicate would build a 4·|method|-node
    Catalyst expression and blow up codegen at 10⁴ features).
    """
    from gdal_spark.geometry.overlay import poly_op

    if op not in {"intersection", "clip", "erase", "identity", "union",
                  "symdifference", "update"}:
        raise ValueError(f"unknown overlay op {op!r}")
    # reference option parity (ogrlayer.cpp:5385 option block):
    #  SKIP_FAILURES       — skip an input feature whose geometry op
    #                        errors instead of failing the layer op;
    #  PROMOTE_TO_MULTI    — default True here (every result is a
    #                        MultiPolygon); False emits POLYGON when
    #                        a result has a single part;
    #  KEEP_LOWER_DIMENSION_GEOMETRIES — accepted and inert: the
    #                        snap-perturb GH kernel never produces
    #                        lower-dimension results (touch-only
    #                        configurations perturb into nothing or
    #                        epsilon-area polygons), so YES and NO
    #                        coincide by construction.
    opts = {str(k).upper(): v for k, v in (options or {}).items()}
    skip_failures = bool(opts.pop("SKIP_FAILURES", False))
    promote_multi = bool(opts.pop("PROMOTE_TO_MULTI", True))
    opts.pop("KEEP_LOWER_DIMENSION_GEOMETRIES", None)
    if opts:
        raise ValueError(f"unknown overlay options: {sorted(opts)}")
    idx = _method_index(method_pdf, geom_col)

    if bbox_cols is not None and op in {"intersection", "clip"} and idx:
        x0c, y0c, x1c, y1c = bbox_cols
        gx0 = min(b[0] for _, _, b in idx)
        gy0 = min(b[1] for _, _, b in idx)
        gx1 = max(b[2] for _, _, b in idx)
        gy1 = max(b[3] for _, _, b in idx)
        input_df = input_df.filter(
            (F.col(x0c) <= F.lit(gx1)) & (F.lit(gx0) <= F.col(x1c))
            & (F.col(y0c) <= F.lit(gy1)) & (F.lit(gy0) <= F.col(y1c)))
        mbox = spark.createDataFrame(pd.DataFrame({
            "_mx0": [b[0] for _, _, b in idx],
            "_my0": [b[1] for _, _, b in idx],
            "_mx1": [b[2] for _, _, b in idx],
            "_my1": [b[3] for _, _, b in idx],
        }))
        input_df = input_df.join(
            F.broadcast(mbox),
            (F.col(x0c) <= F.col("_mx1")) & (F.col("_mx0") <= F.col(x1c))
            & (F.col(y0c) <= F.col("_my1"))
            & (F.col("_my0") <= F.col(y1c)),
            "left_semi")

    input_df = spread_for_kernel(input_df)

    want_isect = op in {"intersection", "clip", "identity", "union"}
    want_leftover = op in {"erase", "identity", "union",
                           "symdifference", "update"}

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = {"fid": [], "method_fid": [], "geometry": [],
                    "area": []}
            # per-FEATURE staging buffer: SKIP_FAILURES must drop the
            # WHOLE feature, so nothing reaches `rows` until the
            # feature's loop completes without raising (a failure
            # mid-identity would otherwise keep already-emitted
            # intersection rows while losing the remainder)
            frows = None

            def emit(fid, mfid, pieces):
                pieces = [p for p in pieces if p]
                if not pieces:
                    return
                if not promote_multi and len(pieces) == 1:
                    wkb = polygon_wkb(pieces[0])
                else:
                    wkb = multipolygon_wkb(pieces)
                area = geom_area(parse_wkb(wkb))
                if area <= 0:
                    return
                frows["fid"].append(fid)
                frows["method_fid"].append(mfid)
                frows["geometry"].append(wkb)
                frows["area"].append(area)

            for fid, wkb in zip(b["fid"], b[geom_col]):
                frows = {"fid": [], "method_fid": [], "geometry": [],
                         "area": []}
                try:
                    g = parse_wkb(bytes(wkb))
                    gx0, gy0, gx1, gy1 = g.bbox()
                    in_rings = [np.ascontiguousarray(r,
                                                     dtype=np.float64)
                                for r in g.rings()]
                    remain = [list(in_rings)]
                    for mfid, mrings, (mx0, my0, mx1, my1) in idx:
                        if not (gx0 <= mx1 and mx0 <= gx1
                                and gy0 <= my1 and my0 <= gy1):
                            continue
                        if want_isect:
                            pieces = poly_op(in_rings, mrings,
                                             "intersection")
                            emit(int(fid), mfid, pieces)
                        if want_leftover:
                            nxt = []
                            for piece in remain:
                                nxt.extend(poly_op(piece, mrings,
                                                   "difference"))
                            remain = nxt
                            if not remain:
                                break
                    if want_leftover:
                        emit(int(fid), -1, remain)
                except Exception:
                    # SKIP_FAILURES semantics (ogrlayer.cpp:5385):
                    # the failing feature is skipped WHOLE (its staged
                    # rows are discarded), not fatal
                    if not skip_failures:
                        raise
                else:
                    for k in rows:
                        rows[k].extend(frows[k])
            if rows["fid"]:
                yield pd.DataFrame(rows)

    out = input_df.select("fid", geom_col).mapInPandas(
        kernel, OVERLAY_SCHEMA)

    if op == "update":
        # method features pass through whole (ogrlayer.cpp:7188) —
        # bounded: the method layer is already on the driver
        mrows = {"fid": [], "method_fid": [], "geometry": [],
                 "area": []}
        for mfid, wkb in zip(method_pdf["fid"], method_pdf[geom_col]):
            wkb = bytes(wkb)
            mrows["fid"].append(-1)
            mrows["method_fid"].append(int(mfid))
            mrows["geometry"].append(wkb)
            mrows["area"].append(geom_area(parse_wkb(wkb)))
        mdf = spark.createDataFrame(
            pd.DataFrame(mrows).astype(
                {"fid": "int64", "method_fid": "int64",
                 "area": "float64"}), schema=OVERLAY_SCHEMA)
        return out.unionByName(mdf)

    if op not in {"union", "symdifference"}:
        return out

    # method remainder: each method feature minus every candidate
    # input geometry.  A country-sized method polygon over dense
    # input would make one straggling task if the whole difference
    # chain ran in a single group, so the METHOD FEATURE IS SLICED
    # into ``remainder_salt`` jittered x-strips of its bbox: each
    # (method, strip) group differences only the inputs whose bbox
    # touches the strip, and the strip remainders are DISJOINT by
    # construction — the merge is plain concatenation, no geometry
    # ops (unlike intersecting salted partials, which would pit the
    # GH kernel against its identical-boundary worst case).
    n_salt = max(1, int(remainder_salt))
    _JIT = 0.2137192  # deterministic interior-boundary jitter: strip
    # edges avoid collinearity with integer-ish data edges

    def _strip_bounds(box, ci: int) -> tuple[float, float]:
        x0, _, x1, _ = box
        w = (x1 - x0) if x1 > x0 else 1.0
        lo = (x0 - 0.25 * w if ci <= 0
              else x0 + w * (ci + _JIT) / n_salt)
        hi = (x1 + 0.25 * w if ci >= n_salt - 1
              else x0 + w * (ci + 1 + _JIT) / n_salt)
        return lo, hi

    meth_by_fid = {m: (rings, box) for m, rings, box in idx}

    def _split_polys(g) -> list[list[np.ndarray]]:
        o = g.part_offsets
        return [g.parts[o[i]:o[i + 1]] for i in range(len(o) - 1)]

    partial_schema = StructType([
        StructField("method_fid", LongType()),
        StructField("ci", LongType()),
        StructField("geometry", BinaryType()),
    ])

    def m_partial(key, pdf: pd.DataFrame) -> pd.DataFrame:
        mfid, ci = int(key[0]), int(key[1])
        none = pd.DataFrame({
            "method_fid": np.array([mfid], dtype=np.int64),
            "ci": np.array([ci], dtype=np.int64),
            "geometry": [None],
        })
        mrings, mbox = meth_by_fid[mfid]
        lo, hi = _strip_bounds(mbox, ci)
        pad = (mbox[3] - mbox[1]) * 0.25 + 1.0
        strip = np.array([(lo, mbox[1] - pad), (hi, mbox[1] - pad),
                          (hi, mbox[3] + pad), (lo, mbox[3] + pad),
                          (lo, mbox[1] - pad)], dtype=np.float64)
        remain = [p for p in poly_op(list(mrings), [strip],
                                     "intersection") if p]
        # dedup + sort: differencing the same geometry twice is the
        # GH kernel's degenerate worst case (its own hole boundary),
        # and a deterministic order makes the remainder reproducible
        # across partitionings
        wkbs = sorted({bytes(w) for w in pdf[geom_col].dropna()})
        for wkb in wkbs:
            if not remain:
                break
            rings = parse_wkb(bytes(wkb)).rings()
            nxt = []
            for piece in remain:
                nxt.extend(poly_op(piece, list(rings), "difference"))
            remain = [p for p in nxt if p]
        if not remain:
            return none
        return pd.DataFrame({
            "method_fid": np.array([mfid], dtype=np.int64),
            "ci": np.array([ci], dtype=np.int64),
            "geometry": [multipolygon_wkb(remain)],
        })

    def m_final(key, pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({
            "fid": pd.Series(dtype=np.int64),
            "method_fid": pd.Series(dtype=np.int64),
            "geometry": pd.Series(dtype=object),
            "area": pd.Series(dtype=np.float64),
        })
        mfid = int(key[0])
        pieces: list[list[np.ndarray]] = []
        for wkb in pdf.sort_values("ci")["geometry"]:
            if wkb is not None:
                pieces.extend(_split_polys(parse_wkb(bytes(wkb))))
        if not pieces:
            return empty
        wkb = multipolygon_wkb(pieces)
        area = geom_area(parse_wkb(wkb))
        if area <= 0:
            return empty
        return pd.DataFrame({
            "fid": np.array([-1], dtype=np.int64),
            "method_fid": np.array([mfid], dtype=np.int64),
            "geometry": [wkb],
            "area": np.array([area], dtype=np.float64),
        })

    boxes = [(m, box) for m, _r, box in idx]
    bboxes = spark.createDataFrame(
        pd.DataFrame({
            "method_fid": [m for m, _ in boxes],
            "m_minx": [b[0] for _, b in boxes],
            "m_miny": [b[1] for _, b in boxes],
            "m_maxx": [b[2] for _, b in boxes],
            "m_maxy": [b[3] for _, b in boxes],
        }))

    in_box_schema = StructType([
        StructField("fid", LongType()), StructField(geom_col, BinaryType()),
        StructField("minx", DoubleType()), StructField("miny", DoubleType()),
        StructField("maxx", DoubleType()), StructField("maxy", DoubleType()),
    ])

    def with_bbox(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b) == 0:
                continue
            boxes_ = [parse_wkb(bytes(w)).bbox() for w in b[geom_col]]
            yield pd.DataFrame({
                "fid": b["fid"].to_numpy(np.int64),
                geom_col: b[geom_col],
                "minx": [x[0] for x in boxes_],
                "miny": [x[1] for x in boxes_],
                "maxx": [x[2] for x in boxes_],
                "maxy": [x[3] for x in boxes_],
            })

    cand = (
        input_df.select("fid", geom_col)
        .mapInPandas(with_bbox, in_box_schema)
        .join(F.broadcast(bboxes),
              (F.col("minx") <= F.col("m_maxx"))
              & (F.col("m_minx") <= F.col("maxx"))
              & (F.col("miny") <= F.col("m_maxy"))
              & (F.col("m_miny") <= F.col("maxy")))
        .select("method_fid", geom_col, "minx", "maxx",
                "m_minx", "m_maxx")
    )
    # conservative JVM strip assignment: unjittered floor ± 1 is a
    # superset of the jittered strips a candidate's bbox touches
    wcol = F.when(F.col("m_maxx") > F.col("m_minx"),
                  F.col("m_maxx") - F.col("m_minx")).otherwise(F.lit(1.0))
    rel = lambda c: (F.col(c) - F.col("m_minx")) / wcol * n_salt  # noqa: E731
    lo_i = F.greatest(F.lit(0).cast("long"),
                      F.floor(rel("minx")).cast("long") - 1)
    hi_i = F.least(F.lit(n_salt - 1).cast("long"),
                   F.floor(rel("maxx")).cast("long") + 1)
    cand_cells = cand.withColumn("ci", F.explode(F.sequence(lo_i, hi_i))) \
        .select("method_fid", "ci", geom_col)
    matched = cand.select("method_fid").distinct()
    # every strip of a matched method must emit its slice, even
    # strips no candidate touches — scaffold rows carry NULL geometry
    scaffold = matched.crossJoin(
        spark.range(n_salt).select(F.col("id").alias("ci"))
    ).withColumn(geom_col, F.lit(None).cast("binary"))
    partials = (
        cand_cells.unionByName(scaffold)
        .groupBy("method_fid", "ci")
        .applyInPandas(m_partial, partial_schema)
    )
    m_rem = partials.groupBy("method_fid").applyInPandas(
        m_final, OVERLAY_SCHEMA)
    # method features with NO candidates pass through whole
    untouched = (
        bboxes.select("method_fid")
        .join(matched, "method_fid", "left_anti")
    )
    def whole(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = {"fid": [], "method_fid": [], "geometry": [],
                    "area": []}
            for mfid in b["method_fid"]:
                wkb = multipolygon_wkb([meth_by_fid[int(mfid)][0]])
                rows["fid"].append(-1)
                rows["method_fid"].append(int(mfid))
                rows["geometry"].append(wkb)
                rows["area"].append(geom_area(parse_wkb(wkb)))
            if rows["fid"]:
                yield pd.DataFrame(rows)

    return out.unionByName(m_rem).unionByName(
        untouched.mapInPandas(whole, OVERLAY_SCHEMA))
