"""Deterministic Common-Crawl-style pages table + geocode extraction.

The engine's primary input (BASELINE.json input_hint):

    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Synthesized distributed (spark.range -> JVM expressions; html/text
rendered by an Arrow-vectorized pandas UDF — never per-row Python on
the driver).  Every field is a pure function of the row index, so the
table is byte-identical across runs and parallelism levels, and the
*text* column is byte-identical per url by construction — the
per-row invariant the driver verifies.

Geocoding: pages embed a ``<meta name="geo.position">`` hint; the
extraction stage recovers (lat, lon) from html.  This mirrors the
reference's OGRGeocode session shape (ogr/ogr_geocoding.cpp:118-197 —
query -> (lat, lon) with a cache table) without any network.

Coordinates follow a Zipf-ish hot-spot mixture over city centers +
uniform background, producing the hot cells the salting logic
(gdal_spark.operators.tiling) must handle.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, StringType, StructField, StructType
)

from gdal_spark.functions import geo
from gdal_spark.session import kernel_name

N_HOSTS = 97
LANGS = ["en", "de", "fr", "es", "pt", "zh"]
BASE_TS = "2026-01-01 00:00:00"

# (lon, lat) city hot spots — rank 0 hottest (Zipf-ish mixture).
CITIES = [
    (-74.006, 40.7128), (139.6917, 35.6895), (-0.1276, 51.5072),
    (2.3522, 48.8566), (116.4074, 39.9042), (-118.2437, 34.0522),
    (77.209, 28.6139), (-46.6333, -23.5505), (31.2357, 30.0444),
    (151.2093, -33.8688), (37.6173, 55.7558), (-99.1332, 19.4326),
]
HOT_FRACTION = 0.7  # fraction of pages drawn from city hot spots


def _lcg(i, mult: int, add: int):
    """One LCG draw in [0, 2^31) as a Column expression (JVM-side)."""
    return ((F.col(i) * F.lit(mult) + F.lit(add)) % F.lit(geo.LCG_M))


def coords_for_index(i: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Numpy oracle for the page coordinates (same math as the
    Column expressions in pages_df)."""
    i = np.asarray(i, dtype=np.int64)
    m = geo.LCG_M
    h1 = (i * geo.LON_MULT + geo.LON_ADD) % m
    h2 = (i * geo.LAT_MULT + geo.LAT_ADD) % m
    h3 = (i * 3266489917 + 374761393) % m
    u1 = h1 / m
    u2 = h2 / m
    u3 = h3 / m
    lon_u = u1 * 360.0 - 180.0
    lat_u = u2 * 170.0 - 85.0
    rank = np.floor(len(CITIES) * u1 * u1).astype(np.int64)
    cities = np.array(CITIES)
    lon_c = cities[rank, 0] + (u2 - 0.5) * 0.2
    lat_c = cities[rank, 1] + (u1 - 0.5) * 0.2
    hot = u3 < HOT_FRACTION
    return np.where(hot, lon_c, lon_u), np.where(hot, lat_c, lat_u)


def _fmt6(vals) -> pd.Series:
    """'%.6f' of a float array as a Series — np.char.mod runs the
    same C printf formatting as f'{v:.6f}' without a per-row python
    lambda (byte-identical output, ~10x faster)."""
    return pd.Series(np.char.mod("%.6f", np.asarray(vals,
                                                    dtype=np.float64)))


def expected_text(i: np.ndarray, lon: np.ndarray, lat: np.ndarray,
                  lang: "pd.Series | np.ndarray") -> pd.Series:
    """The byte-exact text oracle for page index *i*."""
    i = pd.Series(np.asarray(i, dtype=np.int64))
    lon6 = _fmt6(lon)
    lat6 = _fmt6(lat)
    lang = pd.Series(np.asarray(lang))
    return (
        "Page " + i.astype(str) + " [" + lang + "] located at "
        + lat6 + ", " + lon6 + ". "
        + "Body " + (i % 7).astype(str) + " content sentence repeated "
        + (i % 3 + 1).astype(str) + " times."
    )


_RENDER_SCHEMA = StructType([
    StructField("idx", DoubleType()),  # placeholder, replaced below
])


def pages_coords_df(spark: SparkSession, n: int,
                    partitions: int | None = None,
                    start: int = 0) -> DataFrame:
    """(i, lon, lat, lang, url) without html/text rendering — the
    pure-JVM fast path for join/tiling benchmarks where the page body
    is not consumed.  Same coordinates as pages_df.  ``start`` slices
    a disjoint key range (the partition a cluster worker would own)."""
    return pages_df(spark, n, partitions, coords_only=True, start=start)


def pages_df(spark: SparkSession, n: int, partitions: int | None = None,
             coords_only: bool = False, start: int = 0) -> DataFrame:
    """Synthesize n pages with keys [start, start+n). Columns: url,
    warc_ts, html, text, lang, plus the true lon/lat (dropped by
    callers that exercise the geocode-extraction path)."""
    partitions = partitions or spark.sparkContext.defaultParallelism
    df = spark.range(start, start + n, 1, partitions) \
        .withColumnRenamed("id", "i")
    m = float(geo.LCG_M)
    u1 = (_lcg("i", geo.LON_MULT, geo.LON_ADD) / F.lit(m))
    u2 = (_lcg("i", geo.LAT_MULT, geo.LAT_ADD) / F.lit(m))
    u3 = (_lcg("i", 3266489917, 374761393) / F.lit(m))
    cities_lon = F.array(*[F.lit(c[0]) for c in CITIES])
    cities_lat = F.array(*[F.lit(c[1]) for c in CITIES])
    rank = F.floor(F.lit(len(CITIES)) * u1 * u1).cast("int")
    lon_c = F.element_at(cities_lon, rank + 1) + (u2 - 0.5) * 0.2
    lat_c = F.element_at(cities_lat, rank + 1) + (u1 - 0.5) * 0.2
    lon_u = u1 * 360.0 - 180.0
    lat_u = u2 * 170.0 - 85.0
    hot = u3 < F.lit(HOT_FRACTION)
    langs = F.array(*[F.lit(x) for x in LANGS])
    df = (
        df.withColumn("lon", F.when(hot, lon_c).otherwise(lon_u))
        .withColumn("lat", F.when(hot, lat_c).otherwise(lat_u))
        .withColumn(
            "url",
            F.concat(
                F.lit("https://host"), (F.col("i") % N_HOSTS).cast("string"),
                F.lit(".example/"), F.col("i").cast("string"),
            ),
        )
        .withColumn(
            "warc_ts",
            F.to_timestamp(F.lit(BASE_TS)) + F.make_dt_interval(
                F.lit(0), F.lit(0), F.lit(0), F.col("i").cast("double")
            ),
        )
        .withColumn("lang", F.element_at(langs, (F.col("i") % 6 + 1).cast("int")))
    )
    if coords_only:
        return df.select("i", "url", "lang", "lon", "lat")

    out_schema = StructType([
        StructField("i", df.schema["i"].dataType),
        StructField("url", StringType()),
        StructField("warc_ts", df.schema["warc_ts"].dataType),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("lon", DoubleType()),
        StructField("lat", DoubleType()),
    ])

    @kernel_name("sources.pages.render")
    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            text = expected_text(
                b["i"].to_numpy(), b["lon"].to_numpy(), b["lat"].to_numpy(),
                b["lang"],
            )
            lat6 = _fmt6(b["lat"].to_numpy())
            lon6 = _fmt6(b["lon"].to_numpy())
            html = (
                "<html><head><title>Page "
                + pd.Series(b["i"].to_numpy()).astype(str)
                + '</title><meta name="geo.position" content="'
                + lat6 + ";" + lon6 + '"/></head><body><p>'
                + text.reset_index(drop=True) + "</p></body></html>"
            ).str.encode("utf-8")
            yield pd.DataFrame({
                "i": b["i"], "url": b["url"], "warc_ts": b["warc_ts"],
                "html": html, "text": text, "lang": b["lang"],
                "lon": b["lon"], "lat": b["lat"],
            })

    return df.mapInPandas(render, out_schema)


GEO_SCHEMA = StructType([
    StructField("lat", DoubleType()),
    StructField("lon", DoubleType()),
])


def with_extracted_geo(pages: DataFrame) -> DataFrame:
    """Geocode stage: parse the geo.position hint out of html.

    Pure-JVM regexp_extract over the decoded html (r7): the previous
    pandas-UDF extraction paid a second JVM->Python->JVM crossing of
    the full html payload right after the render kernel; the same
    regex runs codegen'd in the JVM, and a non-matching row maps to
    NULL exactly as pd.to_numeric(errors='coerce') did.  Returns the
    input plus ``geo_lat`` / ``geo_lon`` columns.
    """
    pat = r'geo\.position" content="(-?\d+\.\d+);(-?\d+\.\d+)"'
    s = F.col("html").cast("string")
    lat_s = F.regexp_extract(s, pat, 1)
    lon_s = F.regexp_extract(s, pat, 2)
    return pages.withColumns({
        "geo_lat": F.when(lat_s != "", lat_s).cast("double"),
        "geo_lon": F.when(lon_s != "", lon_s).cast("double"),
    })


def extract_text(pages: DataFrame) -> DataFrame:
    """Text extraction from html — must be byte-identical per url to
    the ``text`` column (input_hint invariant)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(StringType())
    def extract(html: pd.Series) -> pd.Series:
        s = html.str.decode("utf-8", errors="replace")
        return s.str.extract(r"<p>(.*?)</p>", expand=False)

    return pages.withColumn("extracted_text", extract(F.col("html")))
