"""GeoPackage vector driver (read + write), Spark-first.

Re-derives the reference's GPKG driver
(ogr/ogrsf_frmts/gpkg/ogrgeopackagetablelayer.cpp, the format is
the public OGC GeoPackage spec, https://www.geopackage.org/spec/)
over Python's stdlib ``sqlite3``:

* a GeoPackage is a SQLite 3 file (application_id ``GPKG``) with
  required metadata tables ``gpkg_spatial_ref_sys`` /
  ``gpkg_contents`` / ``gpkg_geometry_columns``; feature tables
  have an INTEGER PRIMARY KEY fid and a geometry BLOB column;
* the geometry BLOB = ``GP`` magic + version + flags byte
  (bit0 envelope/srs byte order, bits1-3 envelope type, bit4
  empty, bit5 extended) + int32 srs_id + envelope doubles in
  **minx, maxx, miny, maxy** order + standard WKB;
* the spatial index extension (``gpkg_rtree_index``) is a SQLite
  R*Tree virtual table ``rtree_<table>_<col>(id, minx, maxx,
  miny, maxy)`` kept in sync by the spec's trigger set.

Spark-first scale design:

* READ plans **fid-range splits**: the driver opens the file once
  for metadata + MIN/MAX fid, tasks get [lo, hi] ranges and open
  the file read-only/immutable executor-side — the integer primary
  key makes each range an O(range) index scan, so a multi-GiB
  GeoPackage fans out with no single task streaming the file.
* ``bbox=`` pushdown runs **inside each task's SQL** as an R-tree
  subquery (``fid IN (SELECT id FROM rtree_… WHERE …)``) so
  executors skip non-matching pages entirely; the R*Tree stores
  float32 (outward-rounded by this writer), so the decode kernel
  re-checks feature envelopes exactly from the WKB.
* WRITE ``mode="parts"`` is the scale path: one fully valid
  ``part-NNNNN.gpkg`` (metadata + R-tree + triggers) per partition
  inside ``mapInPandas`` — SQLite is single-writer per file, so
  file-per-partition is the only write layout that scales.
  ``mode="single"`` emits the classic one-file interchange layout:
  geometry encode + envelope math happen executor-side, the driver
  only streams encoded rows into the one writer (declared, same
  stance as the Shapefile/FlatGeobuf drivers' single mode).

Declared scope: the 6 homogeneous 2-D geometry types (curves /
extended ``GP`` types raise; Z/M ordinates drop on read via the
WKB parser); DATE/DATETIME columns surface as TEXT; the optional
``gpkg_ogr_contents`` row-count side table is not written;
``last_change`` is pinned to a constant for reproducible output.
"""

from __future__ import annotations

import glob as _glob
import os
import sqlite3
import struct

import numpy as np
import pandas as pd

from gdal_spark.geometry.wkb import parse_wkb

APPLICATION_ID = 0x47504B47          # "GPKG"
USER_VERSION = 10300                 # GeoPackage 1.3
_LAST_CHANGE = "2000-01-01T00:00:00.000Z"   # pinned: reproducible

_ENV_LEN = {0: 0, 1: 32, 2: 48, 3: 48, 4: 64}

# Spark dtype -> GPKG column type (spec Table 1 core data types)
_SPARK_TO_GPKG = {
    "tinyint": "TINYINT", "smallint": "SMALLINT", "int": "MEDIUMINT",
    "bigint": "INTEGER", "boolean": "BOOLEAN", "float": "FLOAT",
    "double": "DOUBLE", "string": "TEXT", "binary": "BLOB",
    "date": "DATE", "timestamp": "DATETIME",
}

# GPKG declared type -> (spark type, needs bool cast)
_GPKG_TO_SPARK = {
    "TINYINT": "tinyint", "SMALLINT": "smallint",
    "MEDIUMINT": "int", "INT": "bigint", "INTEGER": "bigint",
    "BOOLEAN": "boolean", "FLOAT": "float", "DOUBLE": "double",
    "REAL": "double", "TEXT": "string", "BLOB": "binary",
    "DATE": "string", "DATETIME": "string",
}

_GEOM_TYPE_NAMES = {
    0: "GEOMETRY", 1: "POINT", 2: "LINESTRING", 3: "POLYGON",
    4: "MULTIPOINT", 5: "MULTILINESTRING", 6: "MULTIPOLYGON",
}

_WKT_BY_SRS = {
    4326: ('GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",'
           '6378137,298.257223563]],PRIMEM["Greenwich",0],'
           'UNIT["degree",0.0174532925199433]]'),
    3857: ('PROJCS["WGS 84 / Pseudo-Mercator",GEOGCS["WGS 84",'
           'DATUM["WGS_1984",SPHEROID["WGS 84",6378137,'
           '298.257223563]],PRIMEM["Greenwich",0],UNIT["degree",'
           '0.0174532925199433]],PROJECTION["Mercator_1SP"],'
           'PARAMETER["central_meridian",0],'
           'PARAMETER["scale_factor",1],'
           'PARAMETER["false_easting",0],'
           'PARAMETER["false_northing",0],UNIT["metre",1]]'),
}


# ============================================== geometry BLOB codec

def gpkg_blob(wkb: bytes | None, srs_id: int,
              env: tuple | None = None) -> bytes | None:
    """WKB -> GeoPackage geometry BLOB (LE header, XY envelope when
    ``env`` = (minx, miny, maxx, maxy) is given)."""
    if wkb is None:
        return None
    flags = 0x01 | (0x02 if env is not None else 0x00)
    head = b"GP\x00" + bytes([flags]) + struct.pack("<i", srs_id)
    if env is not None:
        # spec envelope order: minx, maxx, miny, maxy
        head += struct.pack("<4d", env[0], env[2], env[1], env[3])
    return head + wkb


def gpkg_wkb(blob) -> bytes | None:
    """GeoPackage geometry BLOB -> the WKB payload (None for NULL
    or empty geometries; extended ``GP`` encodings raise)."""
    if blob is None:
        return None
    b = bytes(blob)
    if b[:2] != b"GP":
        raise ValueError("not a GeoPackage geometry blob "
                         f"(magic {b[:2]!r})")
    flags = b[3]
    if flags & 0x20:
        raise ValueError("extended GeoPackage geometry encodings "
                         "are out of scope")
    if flags & 0x10:                   # empty-geometry flag
        return None
    env = (flags >> 1) & 0x07
    if env not in _ENV_LEN:
        raise ValueError(f"invalid envelope indicator {env}")
    return b[8 + _ENV_LEN[env]:]


def _f32_outward(env: np.ndarray) -> np.ndarray:
    """Round (minx,miny,maxx,maxy) rows outward to float32 so the
    R*Tree (which stores float32) never shrinks a box."""
    lo = env[:, :2].astype(np.float32)
    hi = env[:, 2:].astype(np.float32)
    lo = np.where(lo.astype(np.float64) > env[:, :2],
                  np.nextafter(lo, np.float32(-np.inf)), lo)
    hi = np.where(hi.astype(np.float64) < env[:, 2:],
                  np.nextafter(hi, np.float32(np.inf)), hi)
    return np.concatenate([lo.astype(np.float64),
                           hi.astype(np.float64)], axis=1)


# ==================================================== file builder

def _srs_rows(srs_id: int):
    rows = [
        ("Undefined Cartesian SRS", -1, "NONE", -1, "undefined",
         None),
        ("Undefined geographic SRS", 0, "NONE", 0, "undefined",
         None),
        ("WGS 84", 4326, "EPSG", 4326, _WKT_BY_SRS[4326], None),
    ]
    if srs_id not in (-1, 0, 4326):
        rows.append((f"EPSG:{srs_id}", srs_id, "EPSG", srs_id,
                     _WKT_BY_SRS.get(srs_id, "undefined"), None))
    return rows


def _create_gpkg(path: str, table: str, geom_col: str,
                 geom_type_name: str, srs_id: int,
                 prop_defs: list[tuple[str, str]]) -> sqlite3.Connection:
    """Create a new GeoPackage with the required metadata tables
    and one (empty) feature table; returns the open connection."""
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    cur = con.cursor()
    cur.execute(f"PRAGMA application_id = {APPLICATION_ID}")
    cur.execute(f"PRAGMA user_version = {USER_VERSION}")
    cur.execute("PRAGMA journal_mode = OFF")
    cur.execute("PRAGMA synchronous = OFF")
    cur.executescript("""
        CREATE TABLE gpkg_spatial_ref_sys (
            srs_name TEXT NOT NULL, srs_id INTEGER PRIMARY KEY,
            organization TEXT NOT NULL,
            organization_coordsys_id INTEGER NOT NULL,
            definition TEXT NOT NULL, description TEXT);
        CREATE TABLE gpkg_contents (
            table_name TEXT NOT NULL PRIMARY KEY,
            data_type TEXT NOT NULL, identifier TEXT UNIQUE,
            description TEXT DEFAULT '',
            last_change DATETIME NOT NULL,
            min_x DOUBLE, min_y DOUBLE,
            max_x DOUBLE, max_y DOUBLE,
            srs_id INTEGER,
            CONSTRAINT fk_gc_r_srs_id FOREIGN KEY (srs_id)
                REFERENCES gpkg_spatial_ref_sys(srs_id));
        CREATE TABLE gpkg_geometry_columns (
            table_name TEXT NOT NULL, column_name TEXT NOT NULL,
            geometry_type_name TEXT NOT NULL,
            srs_id INTEGER NOT NULL,
            z TINYINT NOT NULL, m TINYINT NOT NULL,
            CONSTRAINT pk_geom_cols
                PRIMARY KEY (table_name, column_name));
        CREATE TABLE gpkg_extensions (
            table_name TEXT, column_name TEXT,
            extension_name TEXT NOT NULL,
            definition TEXT NOT NULL, scope TEXT NOT NULL,
            CONSTRAINT ge_tce UNIQUE (table_name, column_name,
                                      extension_name));
    """)
    cur.executemany(
        "INSERT INTO gpkg_spatial_ref_sys VALUES (?,?,?,?,?,?)",
        _srs_rows(srs_id))
    cols = ", ".join(f'"{n}" {t}' for n, t in prop_defs)
    cur.execute(
        f'CREATE TABLE "{table}" ("fid" INTEGER PRIMARY KEY '
        f'AUTOINCREMENT NOT NULL, "{geom_col}" {geom_type_name}'
        + (", " + cols if cols else "") + ")")
    cur.execute(
        "INSERT INTO gpkg_geometry_columns VALUES (?,?,?,?,0,0)",
        (table, geom_col, geom_type_name, srs_id))
    return con


def _rtree_triggers(t: str, c: str) -> str:
    """The spec's R-tree maintenance trigger set (GeoPackage spec
    §F.3 Table 42) — created AFTER bulk load so this writer never
    executes them (the ST_* functions they call are registered by
    editing clients, per the extension contract)."""
    r = f"rtree_{t}_{c}"
    return f"""
CREATE TRIGGER "{r}_insert" AFTER INSERT ON "{t}"
  WHEN (new."{c}" NOT NULL AND NOT ST_IsEmpty(NEW."{c}"))
BEGIN
  INSERT OR REPLACE INTO "{r}" VALUES (NEW."fid",
    ST_MinX(NEW."{c}"), ST_MaxX(NEW."{c}"),
    ST_MinY(NEW."{c}"), ST_MaxY(NEW."{c}"));
END;
CREATE TRIGGER "{r}_update1" AFTER UPDATE OF "{c}" ON "{t}"
  WHEN OLD."fid" = NEW."fid" AND
       (NEW."{c}" NOTNULL AND NOT ST_IsEmpty(NEW."{c}"))
BEGIN
  INSERT OR REPLACE INTO "{r}" VALUES (NEW."fid",
    ST_MinX(NEW."{c}"), ST_MaxX(NEW."{c}"),
    ST_MinY(NEW."{c}"), ST_MaxY(NEW."{c}"));
END;
CREATE TRIGGER "{r}_update2" AFTER UPDATE OF "{c}" ON "{t}"
  WHEN OLD."fid" = NEW."fid" AND
       (NEW."{c}" ISNULL OR ST_IsEmpty(NEW."{c}"))
BEGIN
  DELETE FROM "{r}" WHERE id = OLD."fid";
END;
CREATE TRIGGER "{r}_update3" AFTER UPDATE ON "{t}"
  WHEN OLD."fid" != NEW."fid" AND
       (NEW."{c}" NOTNULL AND NOT ST_IsEmpty(NEW."{c}"))
BEGIN
  DELETE FROM "{r}" WHERE id = OLD."fid";
  INSERT OR REPLACE INTO "{r}" VALUES (NEW."fid",
    ST_MinX(NEW."{c}"), ST_MaxX(NEW."{c}"),
    ST_MinY(NEW."{c}"), ST_MaxY(NEW."{c}"));
END;
CREATE TRIGGER "{r}_update4" AFTER UPDATE ON "{t}"
  WHEN OLD."fid" != NEW."fid" AND
       (NEW."{c}" ISNULL OR ST_IsEmpty(NEW."{c}"))
BEGIN
  DELETE FROM "{r}" WHERE id IN (OLD."fid", NEW."fid");
END;
CREATE TRIGGER "{r}_delete" AFTER DELETE ON "{t}"
  WHEN old."{c}" NOT NULL
BEGIN
  DELETE FROM "{r}" WHERE id = OLD."fid";
END;
"""


def _finish_gpkg(con: sqlite3.Connection, table: str, geom_col: str,
                 srs_id: int, extent, fids, env32, index: bool):
    """Populate contents extents and (optionally) the R-tree +
    extension row + triggers, then commit and close."""
    cur = con.cursor()
    if index:
        r = f"rtree_{table}_{geom_col}"
        cur.execute(f'CREATE VIRTUAL TABLE "{r}" USING rtree('
                    "id, minx, maxx, miny, maxy)")
        if len(fids):
            cur.executemany(
                f'INSERT INTO "{r}" VALUES (?,?,?,?,?)',
                [(int(f), e[0], e[2], e[1], e[3])
                 for f, e in zip(fids, env32)])
        cur.execute(
            "INSERT INTO gpkg_extensions VALUES (?,?,?,?,?)",
            (table, geom_col, "gpkg_rtree_index",
             "http://www.geopackage.org/spec120/#extension_rtree",
             "write-only"))
        cur.executescript(_rtree_triggers(table, geom_col))
    cur.execute(
        "INSERT INTO gpkg_contents (table_name, data_type, "
        "identifier, description, last_change, min_x, min_y, "
        "max_x, max_y, srs_id) VALUES (?,?,?,?,?,?,?,?,?,?)",
        (table, "features", table, "", _LAST_CHANGE,
         *(extent if extent is not None else (None,) * 4), srs_id))
    con.commit()
    con.close()


def _encode_partition(pdf: pd.DataFrame, geom_col: str,
                      prop_names: list[str], srs_id: int):
    """Rows -> (blobs, envelopes float64 (minx,miny,maxx,maxy) with
    NaN for NULL geometry, prop value tuples)."""
    n = len(pdf)
    blobs: list[bytes | None] = [None] * n
    env = np.full((n, 4), np.nan)
    geoms = pdf[geom_col].to_numpy()
    for i in range(n):
        gv = geoms[i]
        if gv is None:
            continue
        wkb = bytes(gv)
        g = parse_wkb(wkb)
        xs = np.concatenate([p[:, 0] for p in g.parts])
        ys = np.concatenate([p[:, 1] for p in g.parts])
        env[i] = (xs.min(), ys.min(), xs.max(), ys.max())
        blobs[i] = gpkg_blob(wkb, srs_id, env[i])
    props = []
    for c in prop_names:
        col = pdf[c].to_numpy(dtype=object)
        props.append([None if v is None
                      or (isinstance(v, float) and np.isnan(v))
                      else (bytes(v) if isinstance(v, (bytes,
                                                       bytearray,
                                                       memoryview))
                            else v)
                      for v in col])
    return blobs, env, list(zip(*props)) if props else [()] * n


def write_gpkg(df, path: str, *, geometry_col: str = "geometry",
               table: str = "layer", srs_id: int = 4326,
               geometry_type: str = "GEOMETRY",
               mode: str = "parts", index: bool = True) -> int | None:
    """Write a WKB DataFrame as GeoPackage.

    mode="parts": one standalone GeoPackage (metadata + R-tree +
    spec triggers) per partition under ``path/`` — fully
    distributed, SQLite's one-writer-per-file constraint is the
    partitioning unit; returns None.
    mode="single": the classic one-file interchange layout; blob
    encode + envelope math run executor-side, the driver streams
    encoded rows into the single writer; returns the row count."""
    if "://" in str(path):
        raise ValueError(
            "write_gpkg needs a plain shared-filesystem path "
            f"(got {path!r}); object-store URIs are not supported")
    dt = dict(df.dtypes)
    fid_col = None
    if "fid" in df.columns:
        # the reference preserves source FIDs (ogr2ogr
        # -preserve_fid is the GPKG default): an integer `fid`
        # column becomes the primary key instead of autoincrement
        if dt["fid"] not in ("bigint", "int"):
            raise ValueError(
                "geopackage: a `fid` column must be integer to "
                f"become the primary key (got {dt['fid']})")
        fid_col = "fid"
    prop_names = [c for c in df.columns
                  if c != geometry_col and c != fid_col]
    try:
        prop_defs = [(c, _SPARK_TO_GPKG[dt[c]]) for c in prop_names]
    except KeyError as e:
        raise ValueError("geopackage: no column type mapping for "
                         f"Spark type {e}") from None
    if geometry_type not in _GEOM_TYPE_NAMES.values():
        raise ValueError(f"geometry_type {geometry_type!r} not in "
                         f"{sorted(_GEOM_TYPE_NAMES.values())}")

    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    if mode == "parts":
        from gdal_spark.session import spread_for_kernel

        df = spread_for_kernel(df)
        os.makedirs(path, exist_ok=True)
        out_schema = StructType([StructField("file", StringType()),
                                 StructField("n", LongType())])

        def part_kernel(batches):
            from pyspark import TaskContext
            pid = TaskContext.get().partitionId()
            chunks = [b for b in batches]
            if not chunks or not sum(len(b) for b in chunks):
                return
            pdf = pd.concat(chunks, ignore_index=True)
            blobs, env, props = _encode_partition(
                pdf, geometry_col, prop_names, srs_id)
            fids = (pdf["fid"].to_numpy(np.int64) if fid_col
                    else np.arange(1, len(pdf) + 1,
                                   dtype=np.int64))
            out = os.path.join(path, f"part-{pid:05d}.gpkg")
            con = _create_gpkg(out, table, geometry_col,
                               geometry_type, srs_id, prop_defs)
            cols = ", ".join(f'"{c}"' for c in prop_names)
            ph = ",".join("?" * (len(prop_names) + 2))
            con.executemany(
                f'INSERT INTO "{table}" ("fid", "{geometry_col}"'
                + (", " + cols if cols else "") + f") VALUES ({ph})",
                [(int(fids[i]), blobs[i], *props[i])
                 for i in range(len(pdf))])
            fin = np.isfinite(env[:, 0])
            extent = ((env[fin, 0].min(), env[fin, 1].min(),
                       env[fin, 2].max(), env[fin, 3].max())
                      if fin.any() else None)
            _finish_gpkg(con, table, geometry_col, srs_id, extent,
                         fids[fin],
                         _f32_outward(env[fin]), index)
            yield pd.DataFrame({"file": [out], "n": [len(pdf)]})

        df.mapInPandas(part_kernel, out_schema).collect()
        return None

    if mode != "single":
        raise ValueError(f"mode must be 'parts' or 'single', "
                         f"got {mode!r}")

    # single: encode executor-side, stream rows through the driver
    from pyspark.sql.types import (
        BinaryType, DoubleType,
    )
    enc_schema = StructType(
        [StructField("blob", BinaryType())]
        + [StructField(f"_e{i}", DoubleType()) for i in range(4)]
        + ([StructField("fid", LongType())] if fid_col else [])
        + [StructField(c, df.schema[c].dataType)
           for c in prop_names])

    def enc_kernel(batches):
        for b in batches:
            if not len(b):
                continue
            blobs, env, _ = _encode_partition(
                b, geometry_col, prop_names, srs_id)
            out = {"blob": blobs}
            for i in range(4):
                out[f"_e{i}"] = env[:, i]
            if fid_col:
                out["fid"] = b["fid"]
            for c in prop_names:
                out[c] = b[c]
            yield pd.DataFrame(out)

    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    con = _create_gpkg(path, table, geometry_col, geometry_type,
                       srs_id, prop_defs)
    cols = ", ".join(f'"{c}"' for c in prop_names)
    lead = '"fid", ' if fid_col else ""
    ph = ",".join("?" * (len(prop_names) + 1 + bool(fid_col)))
    ins = (f'INSERT INTO "{table}" ({lead}"{geometry_col}"'
           + (", " + cols if cols else "") + f") VALUES ({ph})")
    cur = con.cursor()
    n = 0
    ext = [np.inf, np.inf, -np.inf, -np.inf]
    fids, envs = [], []
    for row in (df.mapInPandas(enc_kernel, enc_schema)
                .toLocalIterator(prefetchPartitions=True)):
        vals = [None if isinstance(v, float) and np.isnan(v) else v
                for v in (row[c] for c in prop_names)]
        blob = bytes(row["blob"]) if row["blob"] is not None else None
        cur.execute(ins, ((int(row["fid"]), blob, *vals)
                          if fid_col else (blob, *vals)))
        n += 1
        if blob is not None:
            e = (row["_e0"], row["_e1"], row["_e2"], row["_e3"])
            fids.append(cur.lastrowid)
            envs.append(e)
            ext = [min(ext[0], e[0]), min(ext[1], e[1]),
                   max(ext[2], e[2]), max(ext[3], e[3])]
    env_arr = (np.array(envs).reshape(-1, 4))
    _finish_gpkg(con, table, geometry_col, srs_id,
                 tuple(ext) if fids else None, fids,
                 _f32_outward(env_arr), index)
    return n


# ============================================================ read

def _feature_meta(path: str, table: str | None):
    """Driver-side metadata probe: (table, geom_col, pk, prop
    [(name, decl)], has_rtree, fid_lo, fid_hi, count)."""
    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    cur = con.cursor()
    try:
        feats = cur.execute(
            "SELECT table_name FROM gpkg_contents "
            "WHERE data_type = 'features' ORDER BY table_name"
        ).fetchall()
        if table is None:
            if not feats:
                raise ValueError(f"{path}: no feature tables in "
                                 "gpkg_contents")
            table = feats[0][0]
        geom_col = cur.execute(
            "SELECT column_name FROM gpkg_geometry_columns "
            "WHERE table_name = ?", (table,)).fetchone()
        if geom_col is None:
            raise ValueError(f"{path}: {table!r} has no "
                             "gpkg_geometry_columns row")
        geom_col = geom_col[0]
        pk, props = None, []
        for _, name, decl, _, _, is_pk in cur.execute(
                f'PRAGMA table_info("{table}")'):
            base = (decl or "").split("(")[0].strip().upper()
            if is_pk and base in ("INTEGER", "INT"):
                pk = name
            elif name != geom_col:
                props.append((name, base))
        if pk is None:
            raise ValueError(f"{path}: {table!r} has no INTEGER "
                             "PRIMARY KEY fid")
        has_rtree = cur.execute(
            "SELECT 1 FROM sqlite_master WHERE name = ?",
            (f"rtree_{table}_{geom_col}",)).fetchone() is not None
        lo, hi, cnt = cur.execute(
            f'SELECT MIN("{pk}"), MAX("{pk}"), COUNT(*) '
            f'FROM "{table}"').fetchone()
        return table, geom_col, pk, props, has_rtree, lo, hi, cnt
    finally:
        con.close()


def read_gpkg(spark, path: str, table: str | None = None, *,
              bbox=None, columns=None, rows_per_task: int = 65536):
    """Read a .gpkg file or a directory of part-*.gpkg ->
    DataFrame(fid long, geometry WKB, fields...).

    ``bbox=(minx, miny, maxx, maxy)`` pushes an R-tree subquery
    into every task's SQL (when the file has the gpkg_rtree_index
    extension) and re-checks feature envelopes exactly; ``columns``
    keeps only the named property columns.  ``fid`` is the stored
    primary key, offset per part file so it stays unique across a
    parts directory."""
    if "://" in str(path):
        raise ValueError(
            "read_gpkg needs a plain shared-filesystem path "
            f"(got {path!r}); object-store URIs are not supported")
    if os.path.isdir(path):
        files = sorted(_glob.glob(os.path.join(path,
                                               "part-*.gpkg")))
        if not files:
            raise FileNotFoundError(f"{path}: no part-*.gpkg")
    elif os.path.exists(path):
        files = [path]
    else:
        raise FileNotFoundError(f"{path}: no such file or directory")

    meta0 = None
    tasks = []        # (file, table, geom_col, pk, lo, hi, fid_off)
    fid_off = 0
    for f in files:
        m = _feature_meta(f, table)
        tbl, gcol, pk, props, has_rtree, lo, hi, cnt = m
        if meta0 is None:
            meta0 = m
        elif [p for p in props] != [p for p in meta0[3]]:
            raise ValueError(f"{f}: column schema differs from "
                             f"{files[0]}")
        if cnt:
            for a in range(int(lo), int(hi) + 1, rows_per_task):
                tasks.append((f, tbl, gcol, pk, a,
                              min(a + rows_per_task - 1, int(hi)),
                              fid_off, has_rtree))
            fid_off += int(hi)

    props = meta0[3]
    keep = ([p for p in props if p[0] in set(columns)]
            if columns is not None else props)
    for p in keep:
        if p[1] not in _GPKG_TO_SPARK:
            raise ValueError(f"geopackage: unmapped column type "
                             f"{p[1]!r} for {p[0]!r}")

    from pyspark.sql.types import (
        BinaryType, LongType, StructField, StructType,
        _parse_datatype_string,
    )
    schema = StructType(
        [StructField("fid", LongType()),
         StructField("geometry", BinaryType())]
        + [StructField(n, _parse_datatype_string(_GPKG_TO_SPARK[t]))
           for n, t in keep])
    qbbox = bbox
    keep_names = [n for n, _ in keep]
    bool_cols = [n for n, t in keep if t == "BOOLEAN"]

    def kernel(batches):
        for b in batches:
            for _, t in b.iterrows():
                f, tbl, gcol, pk = (t["file"], t["tbl"],
                                    t["gcol"], t["pk"])
                lo, hi, off = (int(t["lo"]), int(t["hi"]),
                               int(t["off"]))
                con = sqlite3.connect(
                    f"file:{f}?mode=ro&immutable=1", uri=True)
                try:
                    cols = "".join(f', "{c}"' for c in keep_names)
                    sql = (f'SELECT "{pk}", "{gcol}"{cols} '
                           f'FROM "{tbl}" WHERE "{pk}" '
                           "BETWEEN ? AND ?")
                    args = [lo, hi]
                    if qbbox is not None and bool(t["rtree"]):
                        sql += (f' AND "{pk}" IN (SELECT id FROM '
                                f'"rtree_{tbl}_{gcol}" WHERE '
                                "maxx >= ? AND minx <= ? AND "
                                "maxy >= ? AND miny <= ?)")
                        args += [qbbox[0], qbbox[2],
                                 qbbox[1], qbbox[3]]
                    rows = con.execute(sql, args).fetchall()
                finally:
                    con.close()
                fids, geoms = [], []
                pcols: list[list] = [[] for _ in keep_names]
                for r in rows:
                    wkb = gpkg_wkb(r[1])
                    if qbbox is not None and wkb is not None:
                        g = parse_wkb(wkb)
                        xs = np.concatenate(
                            [p[:, 0] for p in g.parts])
                        ys = np.concatenate(
                            [p[:, 1] for p in g.parts])
                        if (xs.min() > qbbox[2]
                                or xs.max() < qbbox[0]
                                or ys.min() > qbbox[3]
                                or ys.max() < qbbox[1]):
                            continue
                    elif qbbox is not None:
                        continue
                    fids.append(off + r[0])
                    geoms.append(wkb)
                    for j in range(len(keep_names)):
                        pcols[j].append(r[2 + j])
                out = {"fid": pd.Series(fids, dtype="int64"),
                       "geometry": geoms}
                for j, nme in enumerate(keep_names):
                    col = pd.Series(pcols[j], dtype=object)
                    if nme in bool_cols:
                        col = col.map(lambda v: None if v is None
                                      else bool(v))
                    out[nme] = col
                yield pd.DataFrame(out)

    tdf = pd.DataFrame(
        tasks, columns=["file", "tbl", "gcol", "pk", "lo", "hi",
                        "off", "rtree"]) if tasks else pd.DataFrame({
            "file": pd.Series(dtype=str),
            "tbl": pd.Series(dtype=str),
            "gcol": pd.Series(dtype=str),
            "pk": pd.Series(dtype=str),
            "lo": pd.Series(dtype="int64"),
            "hi": pd.Series(dtype="int64"),
            "off": pd.Series(dtype="int64"),
            "rtree": pd.Series(dtype=bool)})
    ranges = spark.createDataFrame(tdf)
    nparts = max(len(tasks), 1)
    return (ranges.repartition(
        min(nparts, spark.sparkContext.defaultParallelism * 2))
        .mapInPandas(kernel, schema))


# ============================================================ tiles
#
# GeoPackage tile pyramids (spec §2.2): gpkg_tile_matrix_set /
# gpkg_tile_matrix metadata + a pyramid table of (zoom_level,
# tile_column, tile_row, tile_data) with PNG/JPEG blobs.  The tile
# matrix origin is the upper-left corner, so tile_row equals the
# XYZ y of the repo's TILE_SCHEMA directly (no TMS flip).  The
# reference's GPKG raster driver is
# ogr/ogrsf_frmts/gpkg/gdalgeopackagerasterband.cpp.

def write_gpkg_tiles(tiles, path: str, *, table: str = "tiles",
                     format: str = "png", quality: int = 75,
                     srs_id: int = 3857) -> int:
    """TILE_SCHEMA DataFrame -> one GeoPackage tile pyramid.

    Blob ENCODE (the expensive part — PNG filters+zlib or JPEG
    DCT+Huffman per tile) runs distributed: tiles are
    hash-partitioned on the tile key and band-sorted, one
    mapInPandas carry kernel stacks bands and encodes.  The driver
    only streams finished blobs into the single SQLite writer
    (one-writer-per-file, same declared stance as the vector
    driver's single mode).  Metadata follows the spec: full
    EPSG:3857 square in gpkg_tile_matrix_set, per-zoom
    gpkg_tile_matrix rows with matrix_width = 2^z, and the actual
    data extent in gpkg_contents.  Returns the tile count."""
    if "://" in str(path):
        raise ValueError(
            "write_gpkg_tiles needs a plain shared-filesystem path "
            f"(got {path!r}); object-store URIs are not supported")
    if format not in ("png", "jpeg"):
        raise ValueError("gpkg tile_data must be PNG or JPEG per "
                         f"spec; got {format!r}")

    from gdal_spark.functions import geo
    from gdal_spark.operators.tiling import tile_blob_frame

    blobs = tile_blob_frame(tiles, format=format, quality=quality)

    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    cur = con.cursor()
    cur.execute(f"PRAGMA application_id = {APPLICATION_ID}")
    cur.execute(f"PRAGMA user_version = {USER_VERSION}")
    cur.execute("PRAGMA journal_mode = OFF")
    cur.execute("PRAGMA synchronous = OFF")
    cur.executescript("""
        CREATE TABLE gpkg_spatial_ref_sys (
            srs_name TEXT NOT NULL, srs_id INTEGER PRIMARY KEY,
            organization TEXT NOT NULL,
            organization_coordsys_id INTEGER NOT NULL,
            definition TEXT NOT NULL, description TEXT);
        CREATE TABLE gpkg_contents (
            table_name TEXT NOT NULL PRIMARY KEY,
            data_type TEXT NOT NULL, identifier TEXT UNIQUE,
            description TEXT DEFAULT '',
            last_change DATETIME NOT NULL,
            min_x DOUBLE, min_y DOUBLE,
            max_x DOUBLE, max_y DOUBLE, srs_id INTEGER);
        CREATE TABLE gpkg_tile_matrix_set (
            table_name TEXT NOT NULL PRIMARY KEY,
            srs_id INTEGER NOT NULL,
            min_x DOUBLE NOT NULL, min_y DOUBLE NOT NULL,
            max_x DOUBLE NOT NULL, max_y DOUBLE NOT NULL);
        CREATE TABLE gpkg_tile_matrix (
            table_name TEXT NOT NULL,
            zoom_level INTEGER NOT NULL,
            matrix_width INTEGER NOT NULL,
            matrix_height INTEGER NOT NULL,
            tile_width INTEGER NOT NULL,
            tile_height INTEGER NOT NULL,
            pixel_x_size DOUBLE NOT NULL,
            pixel_y_size DOUBLE NOT NULL,
            CONSTRAINT pk_ttm
                PRIMARY KEY (table_name, zoom_level));
    """)
    cur.executemany(
        "INSERT INTO gpkg_spatial_ref_sys VALUES (?,?,?,?,?,?)",
        _srs_rows(srs_id))
    cur.execute(
        f'CREATE TABLE "{table}" ('
        '"id" INTEGER PRIMARY KEY AUTOINCREMENT NOT NULL, '
        '"zoom_level" INTEGER NOT NULL, '
        '"tile_column" INTEGER NOT NULL, '
        '"tile_row" INTEGER NOT NULL, '
        '"tile_data" BLOB NOT NULL, '
        'UNIQUE ("zoom_level", "tile_column", "tile_row"))')

    n = 0
    zoom_meta: dict[int, int] = {}          # zoom -> tile_size
    ext_tiles: dict[int, list] = {}         # zoom -> [mnx,mny,mxx,mxy]
    ins = (f'INSERT INTO "{table}" (zoom_level, tile_column, '
           "tile_row, tile_data) VALUES (?,?,?,?)")
    from gdal_spark.operators.tiling import bounded_local_stream

    rows_it, _n = bounded_local_stream(blobs)
    for row in rows_it:
        z, tx, ty = int(row["zoom"]), int(row["tile_x"]), \
            int(row["tile_y"])
        cur.execute(ins, (z, tx, ty, bytes(row["blob"])))
        n += 1
        zoom_meta[z] = int(row["tile_size"])
        e = ext_tiles.setdefault(z, [tx, ty, tx, ty])
        e[0], e[1] = min(e[0], tx), min(e[1], ty)
        e[2], e[3] = max(e[2], tx), max(e[3], ty)

    o = geo.ORIGIN
    for z in sorted(zoom_meta):
        ts = zoom_meta[z]
        px = 2.0 * o / ((1 << z) * ts)
        cur.execute(
            "INSERT INTO gpkg_tile_matrix VALUES (?,?,?,?,?,?,?,?)",
            (table, z, 1 << z, 1 << z, ts, ts, px, px))
    cur.execute(
        "INSERT INTO gpkg_tile_matrix_set VALUES (?,?,?,?,?,?)",
        (table, srs_id, -o, -o, o, o))
    if zoom_meta:
        zmax = max(zoom_meta)
        mnx, mny, mxx, mxy = ext_tiles[zmax]
        size = 2.0 * o / (1 << zmax)
        extent = (-o + mnx * size, o - (mxy + 1) * size,
                  -o + (mxx + 1) * size, o - mny * size)
    else:
        extent = (None,) * 4
    cur.execute(
        "INSERT INTO gpkg_contents (table_name, data_type, "
        "identifier, description, last_change, min_x, min_y, "
        "max_x, max_y, srs_id) VALUES (?,?,?,?,?,?,?,?,?,?)",
        (table, "tiles", table, "", _LAST_CHANGE, *extent, srs_id))
    con.commit()
    con.close()
    return n


def read_gpkg_tiles(spark, path: str, table: str | None = None, *,
                    zoom: int | None = None,
                    rows_per_task: int = 2048):
    """GeoPackage tile pyramid -> TILE_SCHEMA DataFrame (one row
    per band, same shape as the ``tile_pyramid`` data source).

    Splits are id-ranges over the pyramid table; ``zoom=`` pushes a
    zoom_level predicate into every task's SQL (the UNIQUE index on
    (zoom_level, tile_column, tile_row) makes it an index scan).
    Blobs decode by magic byte (PNG / JFIF) with the in-repo
    codecs; bands split into separate rows."""
    if "://" in str(path):
        raise ValueError(
            "read_gpkg_tiles needs a plain shared-filesystem path "
            f"(got {path!r}); object-store URIs are not supported")
    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        row = con.execute(
            "SELECT table_name FROM gpkg_contents WHERE "
            "data_type = 'tiles' ORDER BY table_name").fetchone()
        if table is None:
            if row is None:
                raise ValueError(f"{path}: no tile pyramids in "
                                 "gpkg_contents")
            table = row[0]
        q = f'SELECT MIN(id), MAX(id) FROM "{table}"'
        args: tuple = ()
        if zoom is not None:
            q += " WHERE zoom_level = ?"
            args = (zoom,)
        lo, hi = con.execute(q, args).fetchone()
    finally:
        con.close()

    from gdal_spark.operators.tiling import TILE_SCHEMA

    tasks = ([(path, table, a, min(a + rows_per_task - 1, int(hi)))
              for a in range(int(lo), int(hi) + 1, rows_per_task)]
             if lo is not None else [])
    qzoom = zoom

    def kernel(batches):
        from gdal_spark.operators.jpeg import decode_jpeg
        from gdal_spark.operators.png import decode_png
        from gdal_spark.operators.tiling import encode_tile
        for b in batches:
            for _, t in b.iterrows():
                con = sqlite3.connect(
                    f"file:{t['file']}?mode=ro&immutable=1",
                    uri=True)
                try:
                    sql = ("SELECT zoom_level, tile_column, "
                           f'tile_row, tile_data FROM "{t["tbl"]}" '
                           "WHERE id BETWEEN ? AND ?")
                    args = [int(t["lo"]), int(t["hi"])]
                    if qzoom is not None:
                        sql += " AND zoom_level = ?"
                        args.append(qzoom)
                    rows = con.execute(sql, args).fetchall()
                finally:
                    con.close()
                out = {k: [] for k in ("zoom", "tile_x", "tile_y",
                                       "band", "data", "dtype",
                                       "tile_size")}
                for z, tx, ty, blob in rows:
                    blob = bytes(blob)
                    img = (decode_png(blob)
                           if blob[:4] == b"\x89PNG"
                           else decode_jpeg(blob))
                    if img.ndim == 2:
                        img = img[:, :, None]
                    for bi in range(img.shape[2]):
                        payload, dts = encode_tile(
                            np.ascontiguousarray(img[:, :, bi]),
                            None)
                        out["zoom"].append(z)
                        out["tile_x"].append(tx)
                        out["tile_y"].append(ty)
                        out["band"].append(bi + 1)
                        out["data"].append(payload)
                        out["dtype"].append(dts)
                        out["tile_size"].append(img.shape[0])
                yield pd.DataFrame(out)

    tdf = (pd.DataFrame(tasks, columns=["file", "tbl", "lo", "hi"])
           if tasks else
           pd.DataFrame({"file": pd.Series(dtype=str),
                         "tbl": pd.Series(dtype=str),
                         "lo": pd.Series(dtype="int64"),
                         "hi": pd.Series(dtype="int64")}))
    ranges = spark.createDataFrame(tdf)
    nparts = max(len(tasks), 1)
    return (ranges.repartition(
        min(nparts, spark.sparkContext.defaultParallelism * 2))
        .mapInPandas(kernel, TILE_SCHEMA))
