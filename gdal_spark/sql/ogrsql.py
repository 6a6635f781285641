"""OGR SQL dialect over Spark DataFrames.

Re-creates the reference's OGR SQL semantics (grammar
ogr/swq_parser.y:821-838, operators ogr/swq_op_registrar.cpp:28-61,
modes ogr/ogr_swq.h:320-322) on top of Catalyst:

* grammar subset: SELECT [DISTINCT] cols FROM t [[LEFT] JOIN u ON e]*
  [WHERE e] [ORDER BY k [ASC|DESC], ...] [LIMIT n] [OFFSET m]
  and UNION ALL chains — **no GROUP BY** (GDAL's dialect has none;
  aggregation is whole-table "summary mode")
* the three query modes:
  - RECORDSET: plain select
  - SUMMARY_RECORD: any aggregate in the column list -> single row
    (MIN MAX COUNT SUM AVG STDDEV_POP STDDEV_SAMP + COUNT(DISTINCT),
    ogr/ogr_swq.h:325-334)
  - DISTINCT_LIST: SELECT DISTINCT col -> one-column distinct layer
* special fields become real expressions (ogr/ogrfeaturequery.cpp:37):
  FID -> fid column, OGR_GEOM_AREA -> st_area(geometry),
  OGR_GEOM_WKT -> wkt encode
* operator quirks preserved: LIKE case-sensitive (GDAL >= 3.1),
  ILIKE insensitive, <> as not-equal, CONCAT/SUBSTR functions,
  HSTORE_GET_VALUE over 'k=>v' strings (ogr/ogr_swq.h:65)
* NULL ordering: GDAL's sort index compares NULL smallest
  (ogr_gensql.cpp:2495-2525) => NULLs first ASC / last DESC — exactly
  Spark's default

Implementation: a small tokenizer + recursive-descent parser emits a
Spark SQL string against temp views, because Catalyst already
implements every physical behavior we need (§4 of SURVEY.md); the
value of this layer is *dialect* translation, not execution.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

AGG_FUNCS = {"MIN", "MAX", "COUNT", "SUM", "AVG",
             "STDDEV_POP", "STDDEV_SAMP"}
SCALAR_FUNCS = {"CONCAT", "SUBSTR", "HSTORE_GET_VALUE", "CAST"}

_TOKEN_RE = re.compile(
    r"\s*(?:"
    r"(?P<num>\d+(?:\.\d*)?(?:[eE][+-]?\d+)?)"
    r"|(?P<str>'(?:[^']|'')*')"
    r"|(?P<id>[A-Za-z_][A-Za-z_0-9$.]*|\"[^\"]+\")"
    r"|(?P<op><>|>=|<=|!=|[(),.*=<>+\-/%])"
    r")"
)

_KEYWORDS = {
    "SELECT", "DISTINCT", "FROM", "WHERE", "ORDER", "BY", "ASC", "DESC",
    "LIMIT", "OFFSET", "JOIN", "LEFT", "ON", "UNION", "ALL", "AND", "OR",
    "NOT", "IN", "LIKE", "ILIKE", "IS", "NULL", "BETWEEN", "AS", "ESCAPE",
}

SPECIAL_FIELDS = {
    "FID": "fid",
    "OGR_GEOMETRY": "st_geometrytype(geometry)",
    "OGR_GEOM_WKT": "st_aswkt(geometry)",
    "OGR_GEOM_AREA": "st_area(geometry)",
    "OGR_STYLE": "ogr_style",
}


@dataclass
class _Tok:
    kind: str
    text: str


def _tokenize(sql: str) -> list[_Tok]:
    toks = []
    pos = 0
    while pos < len(sql):
        m = _TOKEN_RE.match(sql, pos)
        if not m:
            if sql[pos:].strip() == "":
                break
            raise ValueError(f"OGR SQL: cannot tokenize at: {sql[pos:pos+20]!r}")
        pos = m.end()
        if m.group("num"):
            toks.append(_Tok("num", m.group("num")))
        elif m.group("str"):
            toks.append(_Tok("str", m.group("str")))
        elif m.group("id"):
            t = m.group("id")
            up = t.upper()
            toks.append(_Tok("kw" if up in _KEYWORDS else "id", t))
        else:
            toks.append(_Tok("op", m.group("op")))
    return toks


@dataclass
class _Select:
    distinct: bool = False
    columns: list[str] = field(default_factory=list)
    table: str = ""
    joins: list[tuple[str, str, str]] = field(default_factory=list)
    where: str | None = None
    order_by: list[str] = field(default_factory=list)
    limit: int | None = None
    offset: int | None = None
    has_agg: bool = False


class _Parser:
    """Recursive-descent parser for the swq grammar subset; emits
    Spark SQL fragments directly (expressions are re-serialized with
    dialect fixes applied)."""

    def __init__(self, toks: list[_Tok]):
        self.toks = toks
        self.i = 0

    def peek(self, k: int = 0) -> _Tok | None:
        j = self.i + k
        return self.toks[j] if j < len(self.toks) else None

    def next(self) -> _Tok:
        t = self.peek()
        if t is None:
            raise ValueError("OGR SQL: unexpected end of input")
        self.i += 1
        return t

    def accept_kw(self, *kws: str) -> bool:
        t = self.peek()
        if t and t.kind == "kw" and t.text.upper() in kws:
            self.i += 1
            return True
        return False

    def expect_kw(self, kw: str) -> None:
        if not self.accept_kw(kw):
            raise ValueError(f"OGR SQL: expected {kw} at token {self.peek()}")

    def accept_op(self, op: str) -> bool:
        t = self.peek()
        if t and t.kind == "op" and t.text == op:
            self.i += 1
            return True
        return False

    # --- statements ---

    def parse_union(self) -> list[_Select]:
        sels = [self.parse_select()]
        while self.accept_kw("UNION"):
            self.expect_kw("ALL")  # OGR SQL: UNION ALL only
            sels.append(self.parse_select())
        if self.peek() is not None:
            raise ValueError(f"OGR SQL: trailing tokens at {self.peek()}")
        return sels

    def parse_select(self) -> _Select:
        self.expect_kw("SELECT")
        sel = _Select()
        sel.distinct = self.accept_kw("DISTINCT")
        sel.columns.append(self.parse_result_column(sel))
        while self.accept_op(","):
            sel.columns.append(self.parse_result_column(sel))
        self.expect_kw("FROM")
        sel.table = self.parse_table_name()
        while True:
            left = self.accept_kw("LEFT")
            if self.accept_kw("JOIN"):
                tbl = self.parse_table_name()
                self.expect_kw("ON")
                cond = self.parse_expr()
                sel.joins.append(("LEFT" if left else "INNER", tbl, cond))
            elif left:
                raise ValueError("OGR SQL: LEFT without JOIN")
            else:
                break
        if self.accept_kw("WHERE"):
            sel.where = self.parse_expr()
        if self.accept_kw("ORDER"):
            self.expect_kw("BY")
            while True:
                k = self.parse_expr(primary_only=True)
                if self.accept_kw("DESC"):
                    k += " DESC"
                else:
                    self.accept_kw("ASC")
                sel.order_by.append(k)
                if not self.accept_op(","):
                    break
        if self.accept_kw("LIMIT"):
            sel.limit = int(self.next().text)
        if self.accept_kw("OFFSET"):
            sel.offset = int(self.next().text)
        return sel

    def parse_table_name(self) -> str:
        t = self.next()
        if t.kind != "id":
            raise ValueError(f"OGR SQL: expected table name, got {t}")
        return t.text.strip('"')

    def parse_result_column(self, sel: _Select) -> str:
        if self.accept_op("*"):
            # SELECT * EXCEPT (a, b) / EXCLUDE (a, b): the reference
            # grammar's wildcard-exclusion clause
            # (ogr/swq_select.cpp:356 "EXCEPT ()", :649
            # EXCEPT/EXCLUDE diagnostics).  Spark SQL supports the
            # same `* EXCEPT (cols)` form natively, so the dialect
            # normalizes EXCLUDE -> EXCEPT and passes it through.
            nt = self.peek()
            if nt and nt.kind == "id" and \
                    nt.text.upper() in ("EXCEPT", "EXCLUDE"):
                self.next()
                if not self.accept_op("("):
                    raise ValueError(
                        "OGR SQL: EXCEPT/EXCLUDE needs a "
                        "parenthesized column list")
                cols = []
                while True:
                    c = self.next()
                    if c.kind != "id":
                        raise ValueError(
                            "OGR SQL: EXCEPT/EXCLUDE expects column "
                            f"names, got {c}")
                    cols.append(c.text.strip('"'))
                    if not self.accept_op(","):
                        break
                if not self.accept_op(")"):
                    raise ValueError(
                        "OGR SQL: unterminated EXCEPT/EXCLUDE list")
                if len(set(cols)) != len(cols):
                    # the reference errors on repeats
                    # (swq_select.cpp:649)
                    raise ValueError(
                        "OGR SQL: field repeated in EXCEPT/EXCLUDE "
                        "expression")
                return "* EXCEPT (" + ", ".join(cols) + ")"
            return "*"
        expr = self.parse_expr()
        alias = None
        if self.accept_kw("AS"):
            alias = self.next().text.strip('"')
        elif self.peek() and self.peek().kind == "id":
            alias = self.next().text.strip('"')
        if re.match(r"^(MIN|MAX|COUNT|SUM|AVG|STDDEV_POP|STDDEV_SAMP)\(",
                    expr, re.I):
            sel.has_agg = True
        return f"{expr} AS {alias}" if alias else expr

    # --- expressions (precedence climbing) ---

    def parse_expr(self, primary_only: bool = False) -> str:
        if primary_only:
            return self.parse_primary()
        return self.parse_or()

    def parse_or(self) -> str:
        left = self.parse_and()
        while self.accept_kw("OR"):
            left = f"({left} OR {self.parse_and()})"
        return left

    def parse_and(self) -> str:
        left = self.parse_not()
        while self.accept_kw("AND"):
            left = f"({left} AND {self.parse_not()})"
        return left

    def parse_not(self) -> str:
        if self.accept_kw("NOT"):
            return f"(NOT {self.parse_not()})"
        return self.parse_comparison()

    def parse_comparison(self) -> str:
        left = self.parse_additive()
        t = self.peek()
        if t and t.kind == "op" and t.text in ("=", "<>", "!=", "<", ">",
                                               "<=", ">="):
            self.i += 1
            op = "<>" if t.text == "!=" else t.text
            return f"({left} {op} {self.parse_additive()})"
        neg = False
        if t and t.kind == "kw" and t.text.upper() == "NOT":
            nxt = self.peek(1)
            if nxt and nxt.kind == "kw" and nxt.text.upper() in (
                    "LIKE", "ILIKE", "IN", "BETWEEN"):
                self.i += 1
                neg = True
        if self.accept_kw("LIKE", "ILIKE"):
            op = self.toks[self.i - 1].text.upper()
            pat = self.parse_additive()
            esc = ""
            if self.accept_kw("ESCAPE"):
                esc = f" ESCAPE {self.next().text}"
            out = f"({left} {op} {pat}{esc})"
            return f"(NOT {out})" if neg else out
        if self.accept_kw("IN"):
            if not self.accept_op("("):
                raise ValueError("OGR SQL: expected ( after IN")
            vals = [self.parse_additive()]
            while self.accept_op(","):
                vals.append(self.parse_additive())
            if not self.accept_op(")"):
                raise ValueError("OGR SQL: expected ) after IN list")
            out = f"({left} IN ({', '.join(vals)}))"
            return f"(NOT {out})" if neg else out
        if self.accept_kw("BETWEEN"):
            lo = self.parse_additive()
            self.expect_kw("AND")
            hi = self.parse_additive()
            out = f"({left} BETWEEN {lo} AND {hi})"
            return f"(NOT {out})" if neg else out
        if self.accept_kw("IS"):
            isnot = self.accept_kw("NOT")
            self.expect_kw("NULL")
            return f"({left} IS {'NOT ' if isnot else ''}NULL)"
        return left

    def parse_additive(self) -> str:
        left = self.parse_multiplicative()
        while True:
            if self.accept_op("+"):
                left = f"({left} + {self.parse_multiplicative()})"
            elif self.accept_op("-"):
                left = f"({left} - {self.parse_multiplicative()})"
            else:
                return left

    def parse_multiplicative(self) -> str:
        left = self.parse_unary()
        while True:
            if self.accept_op("*"):
                left = f"({left} * {self.parse_unary()})"
            elif self.accept_op("/"):
                left = f"({left} / {self.parse_unary()})"
            elif self.accept_op("%"):
                left = f"({left} % {self.parse_unary()})"
            else:
                return left

    def parse_unary(self) -> str:
        if self.accept_op("-"):
            return f"(- {self.parse_unary()})"
        return self.parse_primary()

    def parse_primary(self) -> str:
        t = self.next()
        if t.kind == "num":
            return t.text
        if t.kind == "str":
            return t.text
        if t.kind == "kw" and t.text.upper() == "NULL":
            return "NULL"
        if t.kind == "op" and t.text == "(":
            inner = self.parse_or()
            if not self.accept_op(")"):
                raise ValueError("OGR SQL: expected )")
            return f"({inner})"
        if t.kind == "op" and t.text == "*":
            return "*"
        if t.kind in ("id",):
            name = t.text.strip('"')
            up = name.upper()
            if self.peek() and self.peek().kind == "op" \
                    and self.peek().text == "(":
                self.i += 1  # consume (
                return self.parse_call(up)
            if up in SPECIAL_FIELDS:
                return SPECIAL_FIELDS[up]
            return name
        raise ValueError(f"OGR SQL: unexpected token {t}")

    def parse_call(self, fname: str) -> str:
        if fname == "CAST":
            expr = self.parse_or()
            self.expect_kw("AS")
            # CAST(x AS type(w[.p]))
            typ = self.next().text.upper()
            width = ""
            if self.accept_op("("):
                self.next()
                while not self.accept_op(")"):
                    self.next()
            if not self.accept_op(")"):
                raise ValueError("OGR SQL: expected ) after CAST")
            spark_type = {
                "CHARACTER": "STRING", "STRING": "STRING",
                "INTEGER": "INT", "FLOAT": "DOUBLE", "NUMERIC": "DOUBLE",
                "BIGINT": "BIGINT", "REAL": "DOUBLE",
                "DATE": "DATE", "TIME": "STRING", "TIMESTAMP": "TIMESTAMP",
                "BOOLEAN": "BOOLEAN",
            }.get(typ, typ)
            return f"CAST({expr} AS {spark_type})"
        args = []
        distinct = ""
        if fname == "COUNT" and self.accept_kw("DISTINCT"):
            distinct = "DISTINCT "
        if not self.accept_op(")"):
            args.append(self.parse_or())
            while self.accept_op(","):
                args.append(self.parse_or())
            if not self.accept_op(")"):
                raise ValueError(f"OGR SQL: expected ) in {fname}()")
        if fname == "SUBSTR":
            return f"SUBSTR({', '.join(args)})"
        if fname == "HSTORE_GET_VALUE":
            # 'k=>v, k2=>v2' text -> value for key
            return (f"element_at(str_to_map({args[0]}, ',\\\\s*', '=>'),"
                    f" {args[1]})")
        return f"{fname}({distinct}{', '.join(args)})"


def parse_ogr_sql(sql: str) -> list[_Select]:
    return _Parser(_tokenize(sql)).parse_union()


def _qualify_primary(sel: _Select, layers: dict[str, DataFrame]) -> None:
    """OGR SQL field resolution: an unqualified field names the
    primary table's column when it exists there, even if a joined
    table has a column of the same name (ogr/swq_select.cpp field
    resolution order)."""
    if not sel.joins or sel.table not in layers:
        return
    primary_cols = set(layers[sel.table].columns)
    joined_cols: set[str] = set()
    for _, tbl, _ in sel.joins:
        if tbl in layers:
            joined_cols |= set(layers[tbl].columns)
    bare = re.compile(r"^[A-Za-z_][A-Za-z_0-9]*$")

    def fix(expr: str) -> str:
        name = expr.split(" AS ")[0].strip()
        if bare.match(name) and name in primary_cols and name in joined_cols:
            rest = expr[len(name):]
            return f"{sel.table}.{name}{rest}"
        return expr

    sel.columns = [fix(c) for c in sel.columns]
    sel.order_by = [fix(k) for k in sel.order_by]


_SPATIAL_JOIN_RE = re.compile(
    r"^st_intersects\(\s*(\w+)\.(\w+)\s*,\s*(\w+)\.(\w+)\s*\)$", re.I)
_SJ_COUNTER = [0]


def _rewrite_spatial_joins(spark: SparkSession, sel: _Select,
                           layers: dict[str, DataFrame]) -> None:
    """The dialect-level analog of a Catalyst rewrite rule:
    ``INNER JOIN m ON ST_Intersects(a.geom, m.geom)`` would execute
    as a BroadcastNestedLoopJoin evaluating a Python UDF on every
    pair; rewrite it to the two-stage polygon join operator (cell
    prefilter + boundary kernel) and re-express the join as a plain
    equi-join on the precomputed ``method_fid``.  Requires the method
    layer to carry a ``fid`` column; any non-matching join is left
    untouched.

    The method layer is collected only when it is provably small in
    rows AND geometry bytes (``bounded_layer_pdf``; ogrlayer.cpp:4004
    works for ANY pair of layers — above the bound the rewrite
    switches to the distributed cell-cover join,
    spatial_join_polygons_intersect_big, and the driver never
    materializes the layer)."""
    from gdal_spark.operators.spatial_join import (
        bounded_layer_pdf,
        spatial_join_polygons_intersect,
        spatial_join_polygons_intersect_big,
    )

    new_joins = []
    for kind, tbl, cond in sel.joins:
        m = _SPATIAL_JOIN_RE.match(cond.strip())
        if m is None or kind != "INNER" or tbl not in layers \
                or sel.table not in layers:
            new_joins.append((kind, tbl, cond))
            continue
        t1, g1, t2, g2 = m.groups()
        if t1 == sel.table and t2 == tbl:
            bigg, methg = g1, g2
        elif t2 == sel.table and t1 == tbl:
            bigg, methg = g2, g1
        else:
            new_joins.append((kind, tbl, cond))
            continue
        if "fid" not in layers[tbl].columns:
            new_joins.append((kind, tbl, cond))
            continue
        method_pdf = bounded_layer_pdf(layers[tbl], geom_col=methg)
        if method_pdf is None:
            pairs = spatial_join_polygons_intersect_big(
                spark, layers[sel.table], layers[tbl],
                geom_col=bigg, method_geom_col=methg)
        else:
            if methg != bigg:
                method_pdf = method_pdf.rename(columns={methg: bigg})
            pairs = spatial_join_polygons_intersect(
                spark, layers[sel.table], method_pdf, geom_col=bigg)
        _SJ_COUNTER[0] += 1
        view = f"__spatial_join_{_SJ_COUNTER[0]}"
        pairs.createOrReplaceTempView(view)
        big = sel.table
        sel.table = f"{view} AS {big}"
        new_joins.append(("INNER", tbl,
                          f"{big}.method_fid = {tbl}.fid"))
    sel.joins = new_joins


def to_spark_sql(sel: _Select) -> str:
    cols = ", ".join(sel.columns)
    q = f"SELECT {'DISTINCT ' if sel.distinct else ''}{cols}" \
        f" FROM {sel.table}"
    for kind, tbl, cond in sel.joins:
        q += f" {kind} JOIN {tbl} ON {cond}"
    if sel.where:
        q += f" WHERE {sel.where}"
    if sel.order_by:
        q += " ORDER BY " + ", ".join(sel.order_by)
    if sel.limit is not None:
        q += f" LIMIT {sel.limit}"
    if sel.offset is not None:
        q += f" OFFSET {sel.offset}"
    return q


def execute_ogr_sql(spark: SparkSession, sql: str,
                    layers: dict[str, DataFrame] | None = None
                    ) -> DataFrame:
    """Execute an OGR SQL statement against registered layers.

    ``layers``: name -> DataFrame; registered as temp views.  Adds the
    geometry helper functions used by special fields.
    """
    _register_geom_udfs(spark)
    if layers:
        for name, df in layers.items():
            df.createOrReplaceTempView(name)
    sels = parse_ogr_sql(sql)
    if layers:
        for sel in sels:
            _qualify_primary(sel, layers)
            _rewrite_spatial_joins(spark, sel, layers)
    out = spark.sql(to_spark_sql(sels[0]))
    for sel in sels[1:]:
        out = out.unionByName(spark.sql(to_spark_sql(sel)),
                              allowMissingColumns=False)
    return out


_UDFS_READY: set[int] = set()


def _register_geom_udfs(spark: SparkSession) -> None:
    key = id(spark.sparkContext)
    if key in _UDFS_READY:
        return
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType, StringType

    from gdal_spark.geometry.packed import geom_area
    from gdal_spark.geometry.wkb import parse_wkb, to_wkt

    def _area(wkb):
        return wkb.map(lambda b: geom_area(parse_wkb(bytes(b)))
                       if b is not None else None)

    def _wkt(wkb):
        return wkb.map(lambda b: to_wkt(parse_wkb(bytes(b)))
                       if b is not None else None)

    def _gtype(wkb):
        names = {1: "POINT", 2: "LINESTRING", 3: "POLYGON",
                 4: "MULTIPOINT", 5: "MULTILINESTRING", 6: "MULTIPOLYGON"}
        return wkb.map(lambda b: names.get(parse_wkb(bytes(b)).kind)
                       if b is not None else None)

    def _contains(wkb, x, y):
        import numpy as np
        import pandas as pd

        from gdal_spark.geometry.pip import points_in_rings

        out = []
        px = x.to_numpy(dtype=float)
        py = y.to_numpy(dtype=float)
        for i, b in enumerate(wkb):
            if b is None:
                out.append(None)
                continue
            out.append(bool(points_in_rings(
                np.array([px[i]]), np.array([py[i]]),
                parse_wkb(bytes(b)).rings())[0]))
        return pd.Series(out)

    def _geom_pair(fn):
        def wrapped(wa, wb):
            import pandas as pd

            out = []
            for a, b in zip(wa, wb):
                if a is None or b is None:
                    out.append(None)
                    continue
                out.append(fn(list(parse_wkb(bytes(a)).rings()),
                              list(parse_wkb(bytes(b)).rings())))
            return pd.Series(out)
        return wrapped

    def _isect_pred(ra, rb):
        from gdal_spark.geometry.overlay import polygons_intersect

        return bool(polygons_intersect(ra, rb))

    def _contains_pred(ra, rb):
        from gdal_spark.geometry.overlay import polygon_contains_polygon

        return bool(polygon_contains_polygon(ra, rb))

    def _within_pred(ra, rb):
        from gdal_spark.geometry.overlay import polygon_contains_polygon

        return bool(polygon_contains_polygon(rb, ra))

    def _isect_area(ra, rb):
        from gdal_spark.geometry.overlay import poly_op
        from gdal_spark.geometry.packed import ring_signed_area

        pieces = poly_op(ra, rb, "intersection")
        return float(sum(ring_signed_area(r)
                         for rings in pieces for r in rings))

    from pyspark.sql.types import BooleanType

    st_area = pandas_udf(_area, DoubleType())
    st_aswkt = pandas_udf(_wkt, StringType())
    st_geometrytype = pandas_udf(_gtype, StringType())
    st_contains = pandas_udf(_contains, BooleanType())

    spark.udf.register("st_area", st_area)
    spark.udf.register("st_aswkt", st_aswkt)
    spark.udf.register("st_geometrytype", st_geometrytype)
    # ST_Contains(geom, x, y) / ST_Intersects for points — the
    # SQLITE-dialect spatial functions GDAL exposes
    # (doc/source/user/sql_sqlite_dialect.rst); the ray-cast kernel
    # behind the spatial join, usable directly in WHERE clauses
    spark.udf.register("st_contains", st_contains)
    spark.udf.register("st_intersects_point", st_contains)
    # geometry x geometry predicates + overlay area (the GEOS-backed
    # pairs of the SQLITE dialect, ogr/ogrgeometry.cpp:575-6409),
    # driven by the Greiner-Hormann kernel in geometry/overlay.py
    spark.udf.register(
        "st_intersects",
        pandas_udf(_geom_pair(_isect_pred), BooleanType()))
    spark.udf.register(
        "st_contains_geom",
        pandas_udf(_geom_pair(_contains_pred), BooleanType()))
    spark.udf.register(
        "st_within",
        pandas_udf(_geom_pair(_within_pred), BooleanType()))
    spark.udf.register(
        "st_intersection_area",
        pandas_udf(_geom_pair(_isect_area), DoubleType()))

    def _distance(ra, rb):
        from gdal_spark.geometry.overlay import polygons_distance

        return float(polygons_distance(ra, rb))

    spark.udf.register(
        "st_distance_geom",
        pandas_udf(_geom_pair(_distance), DoubleType()))

    def _buffer(wkb, dist):
        import pandas as pd

        from gdal_spark.geometry.buffer import (
            buffer_line, buffer_point, buffer_polygon,
        )
        from gdal_spark.geometry.wkb import multipolygon_wkb

        out = []
        for b, d in zip(wkb, dist):
            if b is None or d is None:
                out.append(None)
                continue
            g = parse_wkb(bytes(b))
            if g.kind == 1:
                polys = buffer_point(float(g.parts[0][0, 0]),
                                     float(g.parts[0][0, 1]), float(d))
            elif g.kind == 2:
                polys = buffer_line(g.parts[0], float(d))
            else:
                polys = buffer_polygon(list(g.rings()), float(d))
            out.append(multipolygon_wkb(polys) if polys else None)
        return pd.Series(out)

    def _makevalid(wkb):
        import pandas as pd

        from gdal_spark.geometry.valid import make_valid
        from gdal_spark.geometry.wkb import multipolygon_wkb

        out = []
        for b in wkb:
            if b is None:
                out.append(None)
                continue
            polys = make_valid(list(parse_wkb(bytes(b)).rings()))
            out.append(multipolygon_wkb(polys) if polys else None)
        return pd.Series(out)

    from pyspark.sql.types import BinaryType

    spark.udf.register("st_buffer", pandas_udf(_buffer, BinaryType()))
    spark.udf.register("st_makevalid",
                       pandas_udf(_makevalid, BinaryType()))
    _UDFS_READY.add(key)
