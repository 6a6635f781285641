"""The three benchmark workloads and their single-node oracles.

Every workload draws its inputs from the run's seed and hands the
engine only the generated inputs.  ``op`` is one timed operation,
``check`` compares its output with an oracle computed by numpy outside
the timed region, and ``traced_op`` runs the same operation with a span
around each engine layer (each span's output materialised, so its time
is that layer's own work).
"""

from __future__ import annotations

import os
import statistics
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from gdal_spark.functions import geo
from gdal_spark.operators.knn import knn_cells
from gdal_spark.operators.png import decode_png
from gdal_spark.operators.polygonize import polygonize_array, polygonize_tiles
from gdal_spark.operators.rasterize import (
    GridSpec, assemble_raster, rasterize, rasterize_chunk,
)
from gdal_spark.operators.spatial_join import (
    brute_force_join_pdf, spatial_join_points_in_polygons,
)
from gdal_spark.operators.tiling import build_pyramid, write_tiles
from gdal_spark.operators.warp import tiles_from_array
from gdal_spark.operators.zonal import zonal_stats
from gdal_spark.geometry.packed import geom_area
from gdal_spark.geometry.wkb import parse_wkb
from gdal_spark.sources.pages import (
    CITIES, coords_for_index, pages_coords_df, pages_df, with_extracted_geo,
)
from gdal_spark.sources.polygons import poly_fixture_pdf, random_polygons_pdf
from gdal_spark.sources.tile_datasource import register_tile_source

TILE = 256
# page keys are LCG inputs, exact below ~3.4e9: seeds map to disjoint
# one-million-key ranges [k * 1e6, k * 1e6 + n) with k < 3000
KEY_STRIDE = 1_000_000
KEY_RANGES = 3000
# input size of the warm-up call that absorbs a fresh JVM's start costs
SMALL_PAGES = 2_000
SMALL_POLYS = 10


def page_start(seed: int) -> int:
    return (seed % KEY_RANGES) * KEY_STRIDE


def sub_seed(seed: int, stream: int) -> int:
    """An independent 32-bit seed per input stream of a workload."""
    return int(np.random.SeedSequence([seed, stream]).generate_state(1)[0])


def _merc_pixels(lon: np.ndarray, lat: np.ndarray, zoom: int):
    """Global WebMercatorQuad pixel of each point at *zoom* — the
    GetTileIndices math the pyramid applies JVM-side."""
    res = geo.tile_span(zoom) / TILE
    n = (1 << zoom) * TILE
    mx = lon * geo.ORIGIN / 180.0
    la = np.clip(lat, -geo.MERC_LAT_MAX, geo.MERC_LAT_MAX)
    my = np.log(np.tan((90.0 + la) * np.pi / 360.0)) / np.pi * geo.ORIGIN
    px = np.clip(np.floor((mx + geo.ORIGIN) / res + 1e-3), 0, n - 1)
    py = np.clip(np.floor((geo.ORIGIN - my) / res + 1e-3), 0, n - 1)
    return px.astype(np.int64), py.astype(np.int64)


class PyramidOracle:
    """Expected png pyramid of a page key range: per-zoom tile keys and
    the uint8 (count clipped to 255) image of any tile."""

    def __init__(self, start: int, n: int, base_zoom: int, min_zoom: int):
        lon, lat = coords_for_index(np.arange(start, start + n))
        self.px, self.py = _merc_pixels(lon, lat, base_zoom)
        self.base_zoom = base_zoom
        self.keys: set[tuple[int, int, int]] = set()
        for z in range(min_zoom, base_zoom + 1):
            s = base_zoom - z
            tiles = np.unique(np.column_stack(
                [(self.px >> s) // TILE, (self.py >> s) // TILE]), axis=0)
            self.keys.update((z, int(x), int(y)) for x, y in tiles)

    def image(self, key: tuple[int, int, int]) -> np.ndarray:
        z, tx, ty = key
        s = self.base_zoom - z
        zx, zy = self.px >> s, self.py >> s
        sel = (zx // TILE == tx) & (zy // TILE == ty)
        counts = np.zeros((TILE, TILE), dtype=np.int64)
        np.add.at(counts, (zy[sel] % TILE, zx[sel] % TILE), 1)
        return np.clip(counts, 0, 255).astype(np.uint8)


def _png_files(root: str) -> dict[tuple[int, int, int], str]:
    out = {}
    for z in os.listdir(root):
        for x in os.listdir(os.path.join(root, z)):
            for fn in os.listdir(os.path.join(root, z, x)):
                out[(int(z), int(x), int(fn[:-4]))] = \
                    os.path.join(root, z, x, fn)
    return out


class Workload:
    """One workload: ``stage`` and ``warm`` form the set-up, ``op`` is
    the timed operation, ``check`` its oracle comparison."""

    name = ""
    min_ops = 3                 # timed ops per run, at least
    traced_ops = 1
    warm_ops = 1                # full-size ops before timing

    def __init__(self, spark, seed: int, scratch):
        self.spark = spark
        self.seed = seed
        self.scratch = scratch

    def stage(self) -> None:
        pass

    def warm(self) -> None:
        # the first call in a fresh JVM starts the Python workers and
        # compiles the plan's code: pay that on a small input; the
        # next full-size calls still run slow while the JIT warms
        self.op(0, small=True)
        for i in range(self.warm_ops):
            self.op(i)

    def prepare_oracle(self) -> None:
        pass

    def op(self, i: int, small: bool = False):
        raise NotImplementedError

    def check(self, out) -> bool:
        raise NotImplementedError

    def traced_op(self, tr, i: int):
        raise NotImplementedError

    def traced_extra(self, tr, run) -> None:
        """Traced calls after the traced ops that are not the workload's
        op; ``run.one`` counts and checks each."""

    def layer_counts(self, tr) -> dict[str, float]:
        """Per-layer metrics of the traced op (names as in
        BENCHMARK.json)."""
        return {}

    def run_metrics(self, times: list[float]) -> dict[str, float]:
        """Workload-specific figures of the untraced loop."""
        return {}


class GeoJoin(Workload):
    """pages (html render) -> geocode -> cell prefilter + exact PIP
    join against the polygon fixture -> nearest city -> counts per
    (fid, city)."""

    name = "geojoin"
    pages = 40_000
    res = 6
    # op times fall from ~4 s to ~2.2 s over the first ~8 full ops of a
    # fresh JVM, steeply over the first three
    warm_ops = 3

    def stage(self) -> None:
        self.start = page_start(self.seed)
        self.polys = poly_fixture_pdf()
        self.targets = pd.DataFrame({
            "target_id": np.arange(len(CITIES), dtype=np.int64),
            "t_lon": [c[0] for c in CITIES],
            "t_lat": [c[1] for c in CITIES],
        })

    def _pages(self, small=False):
        return pages_df(self.spark, SMALL_PAGES if small else self.pages,
                        start=self.start)

    @staticmethod
    def _geocoded(pages):
        return with_extracted_geo(pages).select(
            "i", F.col("geo_lon").alias("lon"), F.col("geo_lat").alias("lat"))

    def _join(self, pts):
        return spatial_join_points_in_polygons(self.spark, pts, self.polys,
                                               res=self.res)

    def _nearest(self, joined):
        # fid < 16 rides in the low bits of the point key through knn
        keyed = joined.select((F.col("i") * 16 + F.col("fid")).alias("k"),
                              "lon", "lat")
        return knn_cells(keyed, self.targets, k=1, point_key="k")

    @staticmethod
    def _counts(nearest) -> dict:
        rows = (nearest.groupBy((F.col("k") % 16).alias("fid"), "target_id")
                .count().collect())
        return {(int(r["fid"]), int(r["target_id"])): int(r["count"])
                for r in rows}

    def op(self, i: int, small: bool = False):
        return self._counts(self._nearest(self._join(
            self._geocoded(self._pages(small)))))

    def run_metrics(self, times: list[float]) -> dict[str, float]:
        return {"pages_per_s": self.pages / statistics.median(times)}

    def prepare_oracle(self) -> None:
        lon, lat = coords_for_index(
            np.arange(self.start, self.start + self.pages))
        # the geocode stage recovers the 6-decimal text of the html hint
        pts = pd.DataFrame({
            "lon": np.char.mod("%.6f", lon).astype(np.float64),
            "lat": np.char.mod("%.6f", lat).astype(np.float64),
        })
        joined = brute_force_join_pdf(pts, self.polys)
        lo = np.radians(joined["lon"].to_numpy())[:, None]
        la = np.radians(joined["lat"].to_numpy())[:, None]
        tlo = np.radians(self.targets["t_lon"].to_numpy())[None, :]
        tla = np.radians(self.targets["t_lat"].to_numpy())[None, :]
        a = np.sin((tla - la) / 2) ** 2 \
            + np.cos(la) * np.cos(tla) * np.sin((tlo - lo) / 2) ** 2
        nearest = np.argmin(np.arcsin(np.sqrt(np.clip(a, 0, 1))), axis=1)
        self.expected = dict(Counter(zip(joined["fid"].astype(int),
                                         nearest.astype(int))))

    def check(self, out) -> bool:
        return out == self.expected

    def traced_op(self, tr, i: int):
        with tr.span("geojoin"):
            with tr.span("sources.pages.render"):
                pages = self._pages().localCheckpoint()
            with tr.span("sources.pages.geocode"):
                pts = self._geocoded(pages).localCheckpoint()
            with tr.span("functions.geo.cell_assign"):
                (pts.withColumn("cell", geo.cell_id("lon", "lat", self.res))
                 .write.format("noop").mode("overwrite").save())
            with tr.span("operators.spatial_join"):
                joined = self._join(pts).localCheckpoint()
            with tr.span("operators.knn"):
                nearest = self._nearest(joined).localCheckpoint()
            with tr.span("aggregate"):
                out = self._counts(nearest)
        return out

    def layer_counts(self, tr) -> dict[str, float]:
        # row counts of the join's own executed plan: the exact Python
        # kernel (MapInPandas) takes the candidates the JVM prefilter
        # could not accept; the JVM-accepted rows and the kernel's
        # matches are the join's output
        kernel_rows = kernel_out = matches = 0
        for span in tr.spans:
            if span["name"] != "operators.spatial_join":
                continue
            for plan in span["plans"]:
                for node in plan.find("MapInPandas"):
                    kernel_rows += plan.rows_in(node)
                    kernel_out += plan.rows_out(node)
                matches += sum(plan.rows_in(r) for r in plan.roots)
        cand = float(matches - kernel_out + kernel_rows)
        return {
            "sources.pages.render_s": tr.total("sources.pages.render"),
            "sources.pages.geocode_s": tr.total("sources.pages.geocode"),
            "functions.geo.cell_assign_s":
                tr.total("functions.geo.cell_assign"),
            "spatial_join.s": tr.total("operators.spatial_join"),
            "spatial_join.candidates": cand,
            "spatial_join.kernel_rows": float(kernel_rows),
            "spatial_join.matches": float(matches),
            "spatial_join.match_ratio": matches / cand if cand else 0.0,
            "spatial_join.kernel_share": kernel_rows / cand if cand else 0.0,
            "knn.s": tr.total("operators.knn"),
        }


class TilePyramid(Workload):
    """pages (coordinates only) -> single-shuffle sparse pyramid
    (base z5 -> z2, deflate) -> z/x/y png files.  The traced run also
    reads single tiles of the written pyramid back through the
    tile_pyramid data source, the serving path's per-request cost."""

    name = "tile_pyramid"
    pages = 40_000
    base_zoom = 5
    min_zoom = 2
    sample_tiles = 16
    fetches = 10                # traced single-tile reads, after one warm

    def stage(self) -> None:
        self.start = page_start(self.seed)
        self.out_dir = os.path.join(self.scratch.path, "pyramid")

    def _tiles(self, pts):
        return build_pyramid(pts, base_zoom=self.base_zoom,
                             min_zoom=self.min_zoom, codec="deflate")

    def _points(self, small=False):
        return pages_coords_df(self.spark, SMALL_PAGES if small
                               else self.pages, start=self.start)

    def op(self, i: int, small: bool = False):
        write_tiles(self._tiles(self._points(small)), self.out_dir,
                    format="png")
        return self.out_dir

    def run_metrics(self, times: list[float]) -> dict[str, float]:
        return {"pages_per_s": self.pages / statistics.median(times),
                "out_mb": self.out_bytes / 2**20}

    def prepare_oracle(self) -> None:
        self.oracle = PyramidOracle(self.start, self.pages, self.base_zoom,
                                    self.min_zoom)
        rng = np.random.default_rng(sub_seed(self.seed, 1))
        keys = sorted(self.oracle.keys)
        pick = rng.choice(len(keys), min(self.sample_tiles, len(keys)),
                          replace=False)
        self.samples = {keys[k]: self.oracle.image(keys[k]) for k in pick}

    def check(self, out_dir) -> bool:
        files = _png_files(out_dir)
        self.out_bytes = sum(os.path.getsize(p) for p in files.values())
        if set(files) != self.oracle.keys:
            return False
        for key, want in self.samples.items():
            with open(files[key], "rb") as fh:
                if not np.array_equal(decode_png(fh.read()), want):
                    return False
        return True

    def traced_op(self, tr, i: int):
        with tr.span("tile_pyramid"):
            with tr.span("sources.pages.coords"):
                pts = self._points().select("lon", "lat").localCheckpoint()
            with tr.span("operators.tiling.pyramid"):
                tiles = self._tiles(pts).localCheckpoint()
            with tr.span("operators.tiling.write"):
                write_tiles(tiles, self.out_dir, format="png")
        self._traced = tiles
        return self.out_dir

    def _fetch_df(self, key):
        z, x, y = key
        return (self.spark.read.format("tile_pyramid")
                .option("path", self.out_dir).load()
                .filter((F.col("zoom") == z) & (F.col("tile_x") == x)
                        & (F.col("tile_y") == y)))

    def _check_fetch(self, out) -> bool:
        key, rows = out
        if len(rows) != 1:
            return False
        r = rows[0]
        return ((r["zoom"], r["tile_x"], r["tile_y"]) == key
                and r["band"] == 1 and r["tile_size"] == TILE
                and r["dtype"] == "uint8"
                and bytes(r["data"]) == self.samples[key].tobytes())

    def _traced_fetch(self, tr, key):
        with tr.span("tile_fetch"):
            with tr.span("sources.tile_datasource.load"):
                df = self._fetch_df(key)
            with tr.span("sources.tile_datasource.collect"):
                return key, df.collect()

    def traced_extra(self, tr, run) -> None:
        # one client, closed loop, over the checked sample tiles; the
        # first read in a JVM plans the Python data source cold (~5 s)
        register_tile_source(self.spark)
        keys = list(self.samples)
        run.one(lambda i: (keys[0], self._fetch_df(keys[0]).collect()), -1,
                self._check_fetch)
        self.fetch_times = []
        for i in range(self.fetches):
            dt = run.one(lambda j: self._traced_fetch(tr, keys[j % len(keys)]),
                         i, self._check_fetch)
            if dt is not None:
                self.fetch_times.append(dt)

    def layer_counts(self, tr) -> dict[str, float]:
        def med(name):
            return float(np.median([tr.wall(s) for s in tr.spans
                                    if s["name"] == name]))

        fetches = [s for s in tr.spans if s["name"] == "tile_fetch"]
        # the highest percentile with at least ten samples beyond it
        # (the slowest fetch when there are fewer than eleven)
        s = sorted(self.fetch_times)
        k = len(s) - 11 if len(s) > 10 else len(s) - 1
        return {
            "tiling.pyramid_s": tr.total("operators.tiling.pyramid"),
            "tiling.tiles": float(self._traced.count()),
            "tiling.write_s": tr.total("operators.tiling.write"),
            "tiling.files": float(len(_png_files(self.out_dir))),
            "sources.tile_datasource.load_ms":
                1e3 * med("sources.tile_datasource.load"),
            "sources.tile_datasource.collect_ms":
                1e3 * med("sources.tile_datasource.collect"),
            "sources.tile_datasource.tasks_per_fetch": float(np.median(
                [tr.spark_total(f, "tasks") for f in fetches])),
            "fetch_ms_p50": 1e3 * statistics.median(s),
            "fetch_ms_tail": 1e3 * s[k],
            "fetch_tail_pct": 100.0 * (k + 1) / len(s),
            "fetch_samples": float(len(s)),
        }


class RasterAlgebra(Workload):
    """rasterize seeded polygons -> polygonize that raster (cross-tile
    CCL merge) -> zonal stats of a page-density raster by seeded
    zones, on a global lon/lat grid."""

    name = "raster_algebra"
    n_polys = 200
    n_zones = 100
    density_pages = 200_000
    px_deg = 0.2
    warm_ops = 2                # op times settle after the second

    def stage(self) -> None:
        self.grid = GridSpec(-180.0, 90.0, self.px_deg, self.px_deg,
                             int(round(360 / self.px_deg)),
                             int(round(180 / self.px_deg)))
        self.polys = random_polygons_pdf(self.n_polys,
                                         sub_seed(self.seed, 3))
        self.zones = random_polygons_pdf(self.n_zones,
                                         sub_seed(self.seed, 4))
        start = page_start(self.seed)
        lon, lat = coords_for_index(
            np.arange(start, start + self.density_pages))
        g = self.grid
        col = np.floor((lon - g.x0) / g.px_w).astype(np.int64)
        row = np.floor((g.y1 - lat) / g.px_h).astype(np.int64)
        ok = (col >= 0) & (col < g.width) & (row >= 0) & (row < g.height)
        dens = np.zeros((g.height, g.width), dtype=np.int32)
        np.add.at(dens, (row[ok], col[ok]), 1)
        self.density = dens
        tiles, _, _ = tiles_from_array(self.spark, dens, TILE)
        self.density_tiles = tiles.localCheckpoint()

    def _raster(self, small=False):
        polys = self.polys[:SMALL_POLYS] if small else self.polys
        return rasterize(self.spark, polys, self.grid, burn_col="eas_id",
                         dtype="int32")

    def _polygons(self, raster):
        return polygonize_tiles(raster, self.grid.gt, nodata=0).collect()

    def _zonal(self, small=False):
        zones = self.zones[:SMALL_POLYS] if small else self.zones
        return zonal_stats(self.spark, self.density_tiles, zones,
                           self.grid).collect()

    def op(self, i: int, small: bool = False):
        raster = self._raster(small).localCheckpoint()
        return raster, self._polygons(raster), self._zonal(small)

    def prepare_oracle(self) -> None:
        g = self.grid

        def burn_list(pdf, burn):
            return [([g.to_px(r) for r in parse_wkb(bytes(w)).rings()],
                     float(b))
                    for w, b in zip(pdf["geometry"], burn)]

        self.want_raster = rasterize_chunk(
            (g.height, g.width), burn_list(self.polys, self.polys["eas_id"]),
            "int32")
        self.want_polys = self._poly_key(
            polygonize_array(self.want_raster, g.gt, nodata=0)
            .to_dict("records"))
        zr = rasterize_chunk((g.height, g.width),
                             burn_list(self.zones, self.zones["fid"] + 1),
                             "int64")
        inside = zr >= 1
        z = zr[inside] - 1
        v = self.density[inside].astype(np.float64)
        cnt = np.bincount(z, minlength=self.n_zones)
        vsum = np.bincount(z, weights=v, minlength=self.n_zones)
        vmin = np.full(self.n_zones, np.inf)
        vmax = np.full(self.n_zones, -np.inf)
        np.minimum.at(vmin, z, v)
        np.maximum.at(vmax, z, v)
        self.want_zonal = {
            int(k): (int(cnt[k]), float(vsum[k]), float(vmin[k]),
                     float(vmax[k]))
            for k in np.flatnonzero(cnt)}

    @staticmethod
    def _poly_key(rows) -> list:
        """Order-free polygon identity: value, pixel count and area."""
        return sorted((float(r["value"]), int(r["n_pixels"]),
                       round(geom_area(parse_wkb(bytes(r["geometry"]))), 6))
                      for r in rows)

    def check(self, out) -> bool:
        raster, polys, zonal = out
        got_raster = assemble_raster(raster.toPandas(), self.grid)
        got_zonal = {int(r["zone"]): (int(r["count"]), float(r["sum"]),
                                      float(r["min"]), float(r["max"]))
                     for r in zonal}
        return (np.array_equal(got_raster, self.want_raster)
                and self._poly_key(r.asDict() for r in polys)
                == self.want_polys
                and got_zonal == self.want_zonal)

    def traced_op(self, tr, i: int):
        with tr.span("raster_algebra"):
            with tr.span("operators.rasterize"):
                raster = self._raster().localCheckpoint()
            with tr.span("operators.polygonize"):
                polys = self._polygons(raster)
            with tr.span("operators.zonal"):
                zonal = self._zonal()
        self._traced = polys
        return raster, polys, zonal

    def layer_counts(self, tr) -> dict[str, float]:
        return {
            "rasterize.s": tr.total("operators.rasterize"),
            "polygonize.s": tr.total("operators.polygonize"),
            "polygonize.polygons": float(len(self._traced)),
            "zonal.s": tr.total("operators.zonal"),
        }


WORKLOADS = {w.name: w for w in (GeoJoin, TilePyramid, RasterAlgebra)}
