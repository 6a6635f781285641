"""gdal-style vector pipeline: ``read ... ! step ... ! write ...``.

Mirrors the reference's pipeline algorithm surface
(``gdal vector pipeline read ... ! filter ... ! reproject ... !
write ...``, apps/gdalalg_vector_pipeline.cpp) with the same
validation rules: exactly one read-like first step, one write-like
last step, composable middle steps
(apps/gdalalg_abstract_pipeline.cpp:87-160).

Steps:
  read <path>[.parquet]         — parquet scan
  filter "<ogr sql expr>"       — OGR SQL WHERE semantics
  select col[,col...]           — projection
  sql "<OGR SQL>"               — full statement; input layer = input
  reproject 4326->3857          — adds x/y mercator columns from
                                  lon/lat (or the inverse)
  sort col [asc|desc]           — ORDER BY
  limit N / offset N
  partition col                 — hive-partitioned write key
  write <path>                  — parquet sink

Geometry verbs (the ``gdal vector <verb>`` standalone algorithms,
apps/gdalalg_vector_*.cpp — per-feature WKB transforms, map-only):
  buffer <dist> [quad_segs]     — round-join buffer
  simplify <tol>                — Douglas-Peucker
  simplify-preserve-topology <tol>
  make-valid                    — planar-arrangement repair
  segmentize <max_len>          — densify
  convex-hull / concave-hull [ratio]
  swap-xy
  clip-bbox x0 y0 x1 y1         — rect clip (polygons + lines)
  explode                       — multi-part -> one row per part
  make-point <xcol> <ycol>      — columns -> POINT geometry

Schema/metadata verbs (each a one-expression Spark mapping):
  set-field-type <field> <type> — cast one field to an OGR type
  set-field-type type:<src> <t> — cast ALL fields of OGR type <src>
                                  (apps/gdalalg_vector_set_field_type.cpp)
  rename-layer <name>           — output layer name (alias + the
                                  write step's layer= option;
                                  apps/gdalalg_vector_rename_layer.cpp)
  edit crs=EPSG:n | metadata K=V [...]
                                — override CRS / metadata WITHOUT
                                  reprojection, stored as Spark
                                  column metadata on the geometry
                                  column (apps/gdalalg_vector_edit.cpp)
  export-schema                 — terminal step: one row per field
                                  (name, type, nullable), the
                                  "gdal vector export-schema" JSON
                                  (apps/gdalalg_vector_export_schema.cpp)

Each step is a DataFrame transformation; Catalyst fuses the chain
exactly as the reference streams features through decorated layers.
"""

from __future__ import annotations

import shlex

from pyspark.sql import DataFrame, SparkSession, functions as F

from gdal_spark.functions import geo
from gdal_spark.session import spread_for_kernel


def run_vector_pipeline(spark: SparkSession, pipeline: str,
                        layers: dict[str, DataFrame] | None = None
                        ) -> DataFrame | None:
    steps = [s.strip() for s in pipeline.split("!")]
    if not steps or not steps[0].startswith("read"):
        raise ValueError("pipeline must start with a read step")
    writes = [i for i, s in enumerate(steps) if s.startswith("write")]
    if writes and writes != [len(steps) - 1]:
        raise ValueError("write must be the last step")
    for s in steps[1:-1]:
        if s.startswith("read"):
            raise ValueError("read must be the first step")

    df: DataFrame | None = None
    partition_col: str | None = None
    layer_name: str | None = None
    for step in steps:
        argv = shlex.split(step)
        verb, args = argv[0], argv[1:]
        if verb == "read":
            src = args[0]
            if layers and src in layers:
                df = layers[src]
            elif src.endswith(".parquet") or args[1:] == ["parquet"]:
                df = spark.read.parquet(src)
            else:
                # any registered driver (shp/geojson/csv/fgb/gpkg/
                # gpx/kml/gml/mvt/mbtiles) through the ogr.Open
                # analog — `gdal vector pipeline read x.shp ! ...`
                from gdal_spark.sources.registry import open_vector

                df = open_vector(spark, src,
                                 driver=args[1] if len(args) > 1
                                 else None)
        elif verb == "filter":
            df = df.filter(_ogr_expr(args[0]))
        elif verb == "select":
            cols = [c.strip() for c in " ".join(args).split(",")]
            df = df.select(*cols)
        elif verb == "sql":
            from gdal_spark.sql.ogrsql import execute_ogr_sql

            df = execute_ogr_sql(spark, args[0], {"input": df})
        elif verb == "reproject":
            spec = args[0].replace(" ", "")
            if spec == "4326->3857":
                df = df.withColumn("x", geo.merc_x("lon")) \
                       .withColumn("y", geo.merc_y("lat"))
            elif spec == "3857->4326":
                df = df.withColumn("lon", geo.inv_merc_lon("x")) \
                       .withColumn("lat", geo.inv_merc_lat("y"))
            else:
                raise ValueError(f"unsupported reprojection {spec}")
        elif verb == "sort":
            col = args[0]
            desc = len(args) > 1 and args[1].lower() == "desc"
            df = df.orderBy(F.desc(col) if desc else F.asc(col))
        elif verb == "limit":
            df = df.limit(int(args[0]))
        elif verb == "offset":
            df = df.offset(int(args[0]))
        elif verb == "buffer":
            df = _geom_map(df, _mk_buffer(float(args[0]),
                                          int(args[1]) if len(args) > 1
                                          else 8))
        elif verb == "simplify":
            df = _geom_map(df, _mk_simplify(float(args[0]),
                                            preserve=False))
        elif verb == "simplify-preserve-topology":
            df = _geom_map(df, _mk_simplify(float(args[0]),
                                            preserve=True))
        elif verb == "make-valid":
            df = _geom_map(df, _do_make_valid)
        elif verb == "segmentize":
            df = _geom_map(df, _mk_segmentize(float(args[0])))
        elif verb == "convex-hull":
            df = _geom_map(df, _do_convex_hull)
        elif verb == "concave-hull":
            df = _geom_map(df, _mk_concave_hull(
                float(args[0]) if args else 0.3))
        elif verb == "swap-xy":
            df = _geom_map(df, _do_swap_xy)
        elif verb == "clip-bbox":
            x0, y0, x1, y1 = (float(a) for a in args[:4])
            df = _geom_map(df, _mk_clip_bbox(x0, y0, x1, y1),
                           drop_empty=True)
        elif verb in ("explode", "explode-collections"):
            # gdalalg_vector_explode_collections.cpp: multi-part
            # geometries -> one row per part
            df = _explode_parts(df)
        elif verb == "concat":
            # gdalalg_vector_concat.cpp: append the named layers
            for name in args:
                df = df.unionByName(layers[name],
                                    allowMissingColumns=True)
        elif verb == "set-geom-type":
            # gdalalg_vector_set_geom_type.cpp: promote to multi /
            # demote to single ("set-geom-type multi|single")
            df = _geom_map(df, _mk_set_geom_kind(args[0]))
        elif verb == "update":
            # apps/gdalalg_vector_update.cpp: keyed upsert — the
            # named layer is the EXISTING dataset, the piped frame
            # the incoming one.  "update <layer> [key[,key...]]"
            from gdal_spark.operators.layer_ops import update_layer

            df = update_layer(
                layers[args[0]], df,
                key=(args[1].split(",") if len(args) > 1 else "fid"))
        elif verb == "combine":
            # apps/gdalalg_vector_combine.cpp: features ->
            # collections.  "combine <col[,col...]>"
            from gdal_spark.operators.layer_ops import (
                combine_features,
            )

            df = combine_features(df, args[0].split(","))
        elif verb == "tee":
            # apps/gdalalg_tee.cpp: write the intermediate frame and
            # keep piping it.  "tee <path.parquet>"
            df.write.mode("overwrite").parquet(args[0])
            df = spark.read.parquet(args[0])
        elif verb == "materialize":
            # apps/gdalalg_materialize.cpp: cut the plan here so
            # later steps reuse the computed frame instead of
            # recomputing the chain (the reference materializes to a
            # temp dataset; Spark's analog is an eager checkpoint)
            df = df.localCheckpoint(eager=True)
        elif verb == "dissolve":
            from gdal_spark.operators.layer_algebra import dissolve

            df = dissolve(spark, df, by=(args[0] if args else None))
        elif verb == "check-coverage":
            # gdalalg_vector_check_coverage.cpp: per-feature defect
            # report; "check-coverage [snap] [x0 y0 x1 y1]"
            from gdal_spark.operators.coverage import check_coverage
            df = check_coverage(
                df, snap=(float(args[0]) if args else 0.0),
                extent=(tuple(float(v) for v in args[1:5])
                        if len(args) >= 5 else None))
        elif verb == "simplify-coverage":
            # gdalalg_vector_simplify_coverage.cpp:
            # "simplify-coverage <tol> [preserve-boundary]"
            from gdal_spark.operators.coverage import (
                simplify_coverage,
            )
            df = simplify_coverage(
                df, float(args[0]),
                preserve_boundary=(len(args) > 1 and
                                   args[1] == "preserve-boundary"))
        elif verb == "check-geometry":
            df = _check_geometry(df)
        elif verb == "set-field-type":
            # apps/gdalalg_vector_set_field_type.cpp: by field name
            # or by source type ("type:Integer Real" casts every
            # Integer field).  A pure Catalyst cast — the Spark
            # analog of OGRFieldDefn::SetType on the decorated layer.
            target, new_t = args[0], _ogr_field_type(args[1])
            if target.startswith("type:"):
                src_spark = _ogr_field_type(target[5:])
                for f in df.schema.fields:
                    if f.dataType.simpleString() == src_spark:
                        df = df.withColumn(
                            f.name, F.col(f.name).cast(new_t))
            else:
                if target not in df.columns:
                    raise ValueError(
                        f"set-field-type: no field {target!r}")
                df = df.withColumn(target, F.col(target).cast(new_t))
        elif verb == "rename-layer":
            # apps/gdalalg_vector_rename_layer.cpp: the layer keeps
            # its data; only the name changes.  Alias the plan and
            # carry the name to layer-aware writers (GPKG/GPX/...).
            layer_name = args[0]
            df = df.alias(layer_name)
        elif verb == "edit":
            # apps/gdalalg_vector_edit.cpp: override CRS (WITHOUT
            # reprojection) / add metadata.  Spark mapping: column
            # metadata on the geometry column — it survives
            # projections and lands in parquet field metadata.
            df = _edit_metadata(df, args)
        elif verb == "export-schema":
            # apps/gdalalg_vector_export_schema.cpp: terminal step —
            # one row per field, the ogrinfo -schema JSON shape.
            return export_schema_df(spark, df)
        elif verb == "make-point":
            from gdal_spark.geometry.wkb import point_wkb as _pw  # noqa

            xc, yc = args[0], args[1]
            df = _make_point(df, xc, yc)
        elif verb == "grid":
            # gdal vector grid (gdalalg_vector_grid*.cpp): scattered
            # (x,y,v) columns -> raster tile frame.  "grid <alg>
            # <x0> <y1> <pw> <ph> <w> <h> [radius] [nodata]"; the
            # result is a TILE frame — follow with raster steps or
            # end the pipeline here.
            from gdal_spark.operators.grid import grid_interpolate
            from gdal_spark.operators.rasterize import GridSpec

            alg = args[0]
            gs = GridSpec(float(args[1]), float(args[2]),
                          float(args[3]), float(args[4]),
                          int(args[5]), int(args[6]))
            df = grid_interpolate(
                df, gs, alg,
                radius=(float(args[7]) if len(args) > 7 else 0.0),
                nodata=(float(args[8]) if len(args) > 8 else 0.0))
        elif verb == "partition":
            partition_col = args[0]
        elif verb == "write":
            import os as _os

            dst = args[0]
            ext = _os.path.splitext(dst)[1].lower()
            if len(args) > 1 or (ext and ext != ".parquet"):
                # format dispatch (ogr2ogr's other half); the
                # hive-partitioned layout stays parquet-only
                if partition_col:
                    raise ValueError(
                        "partition is only supported by the "
                        "parquet sink")
                from gdal_spark.sources.registry import write_vector

                wopts = {"layer": layer_name} if layer_name else {}
                write_vector(df, dst,
                             driver=args[1] if len(args) > 1
                             else None, **wopts)
                return None
            writer = df.write.mode("overwrite")
            if partition_col:
                writer = writer.partitionBy(partition_col)
            writer.parquet(dst)
            return None
        else:
            raise ValueError(f"unknown pipeline step {verb}")
    return df


# OGR field type -> Spark cast target (ogr_core.h OGRFieldType +
# the Boolean subtype; the reference's set-field-type accepts both)
_OGR_FIELD_TYPES = {
    "integer": "int",
    "integer64": "bigint",
    "real": "double",
    "string": "string",
    "date": "date",
    "datetime": "timestamp",
    "boolean": "boolean",      # OFSTBoolean subtype
    "float32": "float",        # OFSTFloat32 subtype
    "int16": "smallint",       # OFSTInt16 subtype
}


def _ogr_field_type(name: str) -> str:
    t = _OGR_FIELD_TYPES.get(name.lower())
    if t is None:
        raise ValueError(
            f"unknown OGR field type {name!r} "
            f"(one of {sorted(_OGR_FIELD_TYPES)})")
    return t


def _edit_metadata(df: DataFrame, args: list[str],
                   anchor_col: str = "geometry") -> DataFrame:
    """``edit crs=EPSG:n metadata K=V unset-metadata K`` — stored as
    Spark column metadata on ``anchor_col`` (falls back to the first
    column), the engine's dataset-metadata surface: it survives
    projections and persists into parquet field metadata."""
    if anchor_col not in df.columns:
        anchor_col = df.columns[0]
    meta = dict(df.schema[anchor_col].metadata or {})
    i = 0
    while i < len(args):
        a = args[i]
        if a.startswith("crs="):
            meta["crs"] = a[4:]
        elif a == "metadata":
            i += 1
            k, _, v = args[i].partition("=")
            meta[k] = v
        elif "=" in a:
            k, _, v = a.partition("=")
            meta[k] = v
        elif a == "unset-metadata":
            i += 1
            meta.pop(args[i], None)
        else:
            raise ValueError(f"edit: unknown argument {a!r}")
        i += 1
    return df.withMetadata(anchor_col, meta)


def export_schema_df(spark: SparkSession, df: DataFrame) -> DataFrame:
    """One row per field: (name, type, nullable) — the
    "gdal vector export-schema" JSON re-expressed as a frame
    (apps/gdalalg_vector_export_schema.cpp emits the same triple
    per field via ogrinfo -schema)."""
    rows = [(f.name, f.dataType.simpleString(), bool(f.nullable))
            for f in df.schema.fields]
    return spark.createDataFrame(rows, "name string, type string, "
                                       "nullable boolean")


def _ogr_expr(expr: str):
    """OGR SQL expression -> Spark Column (shared expression parser)."""
    from gdal_spark.sql.ogrsql import _Parser, _tokenize

    parsed = _Parser(_tokenize(expr)).parse_expr()
    return F.expr(parsed)


# --------------------------------------------------------------------
# geometry verbs — the ``gdal vector <verb>`` standalone-algorithm
# family (apps/gdalalg_vector_buffer.cpp, _simplify.cpp,
# _make_valid.cpp, _segmentize.cpp, _convex_hull.cpp,
# _concave_hull.cpp, _swap_xy.cpp, _clip.cpp --bbox, _explode.cpp,
# _make_point.cpp), each a per-feature WKB transform over an
# Arrow-batched kernel — no per-row Python, no shuffle.
# --------------------------------------------------------------------


def _geom_map(df: DataFrame, fn, geom_col: str = "geometry",
              drop_empty: bool = False) -> DataFrame:
    """Apply ``fn(Geom) -> wkb bytes | None`` to every feature.

    The kernel is CPU-bound per feature (the q45 single-partition
    buffer read 20 s on one core, ~1 s spread)."""
    schema = df.schema
    df = spread_for_kernel(df)

    def kernel(batches):
        import pandas as pd

        from gdal_spark.geometry.wkb import parse_wkb

        for b in batches:
            if len(b) == 0:
                continue
            out = []
            keep = []
            for i, wkb in enumerate(b[geom_col]):
                res = fn(parse_wkb(bytes(wkb)))
                out.append(res)
                keep.append(res is not None)
            bb = b.copy()
            bb[geom_col] = out
            if drop_empty:
                bb = bb[pd.Series(keep, index=bb.index)]
            if len(bb):
                yield bb

    return df.mapInPandas(kernel, schema)


def _poly_kinds(g) -> bool:
    from gdal_spark.geometry import wkb as W

    return g.kind in (W.POLYGON, W.MULTIPOLYGON)


def _poly_groups(g):
    """Rings grouped per polygon PART via part_offsets — a
    MULTIPOLYGON's second shell is a new part, NOT a hole of the
    first (the same interpretation geom_area and _explode_parts
    use)."""
    po = g.part_offsets
    return [g.parts[po[i]:po[i + 1]] for i in range(len(po) - 1)]


def _emit_poly(groups):
    """polygon WKB for a single part, multipolygon for several;
    None when nothing survives."""
    from gdal_spark.geometry import wkb as W

    groups = [gr for gr in groups if gr]
    if not groups:
        return None
    if len(groups) == 1:
        return W.polygon_wkb(list(groups[0]))
    return W.multipolygon_wkb([list(gr) for gr in groups])


def _mk_buffer(dist: float, quad_segs: int):
    def fn(g):
        from gdal_spark.geometry import wkb as W
        from gdal_spark.geometry.buffer import (
            buffer_line, buffer_point, buffer_polygon,
        )

        if g.kind in (W.POINT, W.MULTIPOINT):
            # buffer_point returns PIECES (list of ring-lists)
            pieces = []
            for p in g.parts:
                pieces.extend(buffer_point(
                    float(p[0, 0]), float(p[0, 1]), dist, quad_segs))
            return W.multipolygon_wkb(pieces) if pieces else None
        if g.kind in (W.LINESTRING, W.MULTILINESTRING):
            # buffer_line returns PIECES (list of ring-lists) too
            pieces = []
            for p in g.parts:
                pieces.extend(buffer_line(p, dist, quad_segs))
            return W.multipolygon_wkb(pieces) if pieces else None
        # per polygon PART: a multipolygon's later shells must not
        # become holes of the first
        pieces = []
        for grp in _poly_groups(g):
            pieces.extend(buffer_polygon(list(grp), dist, quad_segs))
        return W.multipolygon_wkb(pieces) if pieces else None
    return fn


def _mk_simplify(tol: float, preserve: bool):
    def fn(g):
        from gdal_spark.geometry import wkb as W
        from gdal_spark.geometry.ops import (
            douglas_peucker, simplify_preserve_topology,
        )

        if _poly_kinds(g):
            if preserve:
                return _emit_poly(
                    [simplify_preserve_topology(list(grp), tol)
                     for grp in _poly_groups(g)])
            return _emit_poly(
                [[douglas_peucker(r, tol) for r in grp]
                 for grp in _poly_groups(g)])
        return W.multilinestring_wkb(
            [douglas_peucker(p, tol) for p in g.parts])
    return fn


def _do_make_valid(g):
    from gdal_spark.geometry import wkb as W
    from gdal_spark.geometry.valid import make_valid

    pieces = make_valid(list(g.rings()))
    return W.multipolygon_wkb(pieces) if pieces else None


def _mk_segmentize(max_len: float):
    def fn(g):
        from gdal_spark.geometry import wkb as W
        from gdal_spark.geometry.ops import segmentize

        if _poly_kinds(g):
            return _emit_poly(
                [[segmentize(r, max_len) for r in grp]
                 for grp in _poly_groups(g)])
        return W.multilinestring_wkb(
            [segmentize(p, max_len) for p in g.parts])
    return fn


def _do_convex_hull(g):
    import numpy as np

    from gdal_spark.geometry import wkb as W
    from gdal_spark.geometry.ops import convex_hull

    return W.polygon_wkb([convex_hull(np.vstack(g.parts))])


def _mk_concave_hull(ratio: float):
    def fn(g):
        import numpy as np

        from gdal_spark.geometry import wkb as W
        from gdal_spark.geometry.ops import concave_hull

        return W.polygon_wkb([concave_hull(np.vstack(g.parts),
                                           ratio=ratio)])
    return fn


def _mk_set_geom_kind(mode: str):
    """gdal vector set-geom-type: 'multi' promotes singles into
    their multi type (OGR_G_ForceTo semantics); 'single' keeps the
    FIRST part of a multi (declared — the reference errors or
    linearizes depending on driver; a deterministic first-part rule
    is the distributed-safe choice)."""
    if mode not in ("multi", "single"):
        raise ValueError("set-geom-type takes 'multi' or 'single'")

    def fn(g):
        from gdal_spark.geometry import wkb as W

        po = g.part_offsets
        groups = [g.parts[po[i]:po[i + 1]]
                  for i in range(len(po) - 1)]
        if mode == "multi":
            if g.kind in (W.POINT, W.MULTIPOINT):
                return W.multipoint_wkb(
                    [tuple(p[0]) for p in g.parts])
            if g.kind in (W.LINESTRING, W.MULTILINESTRING):
                return W.multilinestring_wkb(g.parts)
            return W.multipolygon_wkb(groups)
        # single
        if g.kind == W.MULTIPOINT:
            return W.point_wkb(float(g.parts[0][0, 0]),
                               float(g.parts[0][0, 1]))
        if g.kind == W.MULTILINESTRING:
            return W.linestring_wkb(g.parts[0])
        if g.kind == W.MULTIPOLYGON:
            return W.polygon_wkb(groups[0])
        if g.kind == W.POINT:
            return W.point_wkb(float(g.parts[0][0, 0]),
                               float(g.parts[0][0, 1]))
        if g.kind == W.LINESTRING:
            return W.linestring_wkb(g.parts[0])
        return W.polygon_wkb(g.parts)

    return fn


def _do_swap_xy(g):
    from gdal_spark.geometry import wkb as W

    parts = [p[:, ::-1] for p in g.parts]
    if g.kind == W.POINT:
        return W.point_wkb(float(parts[0][0, 0]),
                           float(parts[0][0, 1]))
    if g.kind == W.MULTIPOINT:
        return W.multipoint_wkb([(p[0, 0], p[0, 1]) for p in parts])
    if g.kind in (W.LINESTRING, W.MULTILINESTRING):
        return W.multilinestring_wkb(parts)
    po = g.part_offsets
    return _emit_poly([parts[po[i]:po[i + 1]]
                       for i in range(len(po) - 1)])


def _mk_clip_bbox(x0: float, y0: float, x1: float, y1: float):
    def fn(g):
        from gdal_spark.geometry import wkb as W
        from gdal_spark.geometry.lines import clip_line_to_rings
        from gdal_spark.geometry.ops import clip_ring_rect
        import numpy as np

        rect = np.array([(x0, y0), (x1, y0), (x1, y1), (x0, y1),
                         (x0, y0)])
        if g.kind in (W.LINESTRING, W.MULTILINESTRING):
            parts = []
            for p in g.parts:
                parts.extend(clip_line_to_rings(p, [rect]))
            return W.multilinestring_wkb(parts) if parts else None
        groups = []
        for grp in _poly_groups(g):
            rings = [clip_ring_rect(r, x0, y0, x1, y1) for r in grp]
            rings = [r for r in rings if len(r)]
            if rings:
                groups.append(rings)
        return _emit_poly(groups)
    return fn


def _explode_parts(df: DataFrame, geom_col: str = "geometry"
                   ) -> DataFrame:
    """Multi-part -> one row per part (gdalalg_vector_explode.cpp)."""
    schema = df.schema
    df = spread_for_kernel(df)

    def kernel(batches):
        import pandas as pd

        from gdal_spark.geometry import wkb as W
        from gdal_spark.geometry.wkb import parse_wkb

        for b in batches:
            if len(b) == 0:
                continue
            rows = []
            for _, r in b.iterrows():
                g = parse_wkb(bytes(r[geom_col]))
                po = g.part_offsets
                if g.kind == W.MULTIPOLYGON:
                    subs = [W.polygon_wkb(g.parts[po[i]:po[i + 1]])
                            for i in range(len(po) - 1)]
                elif g.kind == W.MULTILINESTRING:
                    subs = [W.linestring_wkb(p) for p in g.parts]
                elif g.kind == W.MULTIPOINT:
                    subs = [W.point_wkb(float(p[0, 0]), float(p[0, 1]))
                            for p in g.parts]
                else:
                    subs = [bytes(r[geom_col])]
                for s in subs:
                    rr = r.copy()
                    rr[geom_col] = s
                    rows.append(rr)
            if rows:
                yield pd.DataFrame(rows)

    return df.mapInPandas(kernel, schema)


def _check_geometry(df: DataFrame, geom_col: str = "geometry"
                    ) -> DataFrame:
    """Append a ``geom_valid`` flag (gdalalg_vector_check_geometry
    .cpp semantics, without GEOS: self-intersection of any ring, ring
    collapse below 4 points, or unparseable WKB mark invalid)."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    # integer 0/1 flag: OGR SQL has no boolean type, so the flag is
    # filterable with the dialect's integer comparisons
    schema = StructType(list(df.schema.fields)
                        + [StructField("geom_valid", IntegerType())])
    df = spread_for_kernel(df)

    def kernel(batches):
        from gdal_spark.geometry import wkb as W
        from gdal_spark.geometry.ops import _ring_self_intersects
        from gdal_spark.geometry.wkb import parse_wkb

        for b in batches:
            if len(b) == 0:
                continue
            flags = []
            for wkb in b[geom_col]:
                try:
                    g = parse_wkb(bytes(wkb))
                    if g.kind in (W.POLYGON, W.MULTIPOLYGON):
                        ok = all(len(r) >= 4
                                 and not _ring_self_intersects(r)
                                 for r in g.rings())
                    else:
                        ok = all(len(p) >= 1 for p in g.parts)
                except Exception:
                    ok = False
                flags.append(1 if ok else 0)
            b = b.copy()
            import numpy as _np

            b["geom_valid"] = _np.array(flags, dtype=_np.int32)
            yield b

    return df.mapInPandas(kernel, schema)


def _make_point(df: DataFrame, xcol: str, ycol: str) -> DataFrame:
    """(x, y) columns -> POINT geometry column
    (gdalalg_vector_make_point.cpp)."""
    from pyspark.sql.types import BinaryType, StructField, StructType

    schema = StructType(list(df.schema.fields)
                        + [StructField("geometry", BinaryType())])

    def kernel(batches):
        from gdal_spark.geometry.wkb import point_wkb

        for b in batches:
            if len(b) == 0:
                continue
            b = b.copy()
            b["geometry"] = [point_wkb(float(x), float(y))
                             for x, y in zip(b[xcol], b[ycol])]
            yield b

    return df.mapInPandas(kernel, schema)
