"""The Common-Crawl-style web-page table (BASELINE.json input_hint):
``(url string, warc_ts timestamp, html binary, text string, lang string)``.

``synthesize_pages`` builds it deterministically at any scale without
external data (FIXTURES.md §1): page *i* gets a geotag drawn from a seeded
uniform over a region, embedded in ``text`` as ``geo:<lat>,<lon>``. The
geotag is the bridge from the web-text payload to the spatial operators;
``text`` itself passes through every pipeline byte-identically.

Generation is distributed: ``spark.range(n)`` → column expressions, with
the lon/lat stream from a splittable counter-based construction
(xxhash64(i) → uniform), so the same (i → row) mapping holds at any
parallelism and any scale — no driver-side arrays, no shuffle.

For *verde-parity* fixtures (tests that need NumPy RandomState streams)
use ``synthesize_pages_numpy`` instead, which generates driver-side.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..geometry import check_region

LANGS = ("en", "de", "fr", "pt", "es")

#: geotag embedded in page text by the fixture generator (FIXTURES.md §1):
#: ``geo:<lat>,<lon>`` with fixed-precision decimals.
GEO_PATTERN = r"geo:(-?\d+\.\d+),(-?\d+\.\d+)"


def geotag_lat(text: Column | str = "text") -> Column:
    text = F.col(text) if isinstance(text, str) else text
    # try_cast: regexp_extract yields '' on no match (null under ANSI cast)
    return F.regexp_extract(text, GEO_PATTERN, 1).try_cast("double")


def geotag_lon(text: Column | str = "text") -> Column:
    text = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract(text, GEO_PATTERN, 2).try_cast("double")


def _unit_uniform(i, salt: int):
    """Deterministic uniform(0,1) from a row index: xxhash64 → [0, 1).

    Counter-based (stateless, splittable): identical values at any
    partitioning — the property Spark's rand() lacks across repartitions.
    """
    h = F.xxhash64(i, F.lit(salt))
    # map signed 64-bit to [0,1): shift to unsigned range via 2^63 offset
    return (h.cast("double") / F.lit(float(1 << 64))) + F.lit(0.5)


def synthesize_pages(
    spark: SparkSession,
    n: int,
    region: Sequence[float] = (-5.0, 0.0, 5.0, 10.0),
    seed: int = 42,
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic page table of *n* rows; lon ∈ [W, E], lat ∈ [S, N]."""
    w, e, s, nn = check_region(region)
    rows = spark.range(0, n, 1, num_partitions) if num_partitions else spark.range(n)
    i = F.col("id")
    lon = F.round(F.lit(w) + _unit_uniform(i, seed) * F.lit(e - w), 6)
    lat = F.round(F.lit(s) + _unit_uniform(i, seed + 1) * F.lit(nn - s), 6)
    lang = F.element_at(F.array(*[F.lit(x) for x in LANGS]), (i % len(LANGS) + 1).cast("int"))
    text = F.concat(
        F.lit("page "),
        i.cast("string"),
        F.lit(" "),
        F.format_string("geo:%.6f,%.6f", lat, lon),
        F.lit(" lang:"),
        lang,
    )
    return rows.select(
        F.concat(F.lit("https://example.org/"), F.lpad(i.cast("string"), 8, "0")).alias("url"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_dt_interval(secs=i.cast("double"))).alias("warc_ts"),
        F.concat(F.lit("<html><body>"), text, F.lit("</body></html>")).cast("binary").alias("html"),
        text.alias("text"),
        lang.alias("lang"),
    )


def synthesize_pages_numpy(
    spark: SparkSession,
    n: int,
    region: Sequence[float] = (-5.0, 0.0, 5.0, 10.0),
    seed: int = 42,
) -> DataFrame:
    """Driver-side NumPy variant (FIXTURES.md §1 exact recipe): RandomState
    uniform streams, for fixtures that must match a NumPy oracle."""
    import numpy as np
    import pandas as pd

    w, e, s, nn = check_region(region)
    rng = np.random.RandomState(seed)
    lon = rng.uniform(w, e, n).round(6)
    lat = rng.uniform(s, nn, n).round(6)
    i = np.arange(n)
    lang = pd.Series(i % len(LANGS)).map(dict(enumerate(LANGS)))
    text = [
        f"page {k} geo:{la:.6f},{lo:.6f} lang:{lg}"
        for k, la, lo, lg in zip(i, lat, lon, lang)
    ]
    pdf = pd.DataFrame(
        {
            "url": [f"https://example.org/{k:08d}" for k in i],
            "warc_ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(i, unit="s"),
            "html": [f"<html><body>{t}</body></html>".encode() for t in text],
            "text": text,
            "lang": lang,
        }
    )
    return spark.createDataFrame(pdf)


def geotagged(pages: DataFrame, from_html: bool = False) -> DataFrame:
    """pages + (lon, lat) parsed from text — the spatial entry point.

    Pure ``regexp_extract`` column expressions; ``text`` is untouched.

    ``from_html=True`` runs the north star's full chain — geotag from
    *extracted* text: ``extract_text(html)`` feeds the geotag regexes
    instead of the stored ``text`` column.  Extraction is itself a pure
    projection, so the whole path stays one codegen'd scan either way;
    the per-url byte-identity invariant (extracted == stored, tested in
    test_extract) makes the two modes provably equivalent on a
    well-formed page table.
    """
    if from_html:
        from ..functions.extract import extract_text

        src = extract_text("html")
        return pages.withColumn("lon", geotag_lon(src)).withColumn(
            "lat", geotag_lat(src)
        )
    return pages.withColumn("lon", geotag_lon("text")).withColumn("lat", geotag_lat("text"))
