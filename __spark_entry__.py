"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship pipeline (geotag → block-mean decimate →
tiled biharmonic spline → regular grid) on sf0.001. ``queries`` exposes
one callable per implemented operator from SURVEY.md §2 over the
driver-provided tables; ``oracle_sql`` gives the DuckDB-equivalent SQL.
``corpus_queries``/``corpus_oracle_sql`` are the same pair for the
text-corpus modules that are still in the tree.

Oracle-parity rules used throughout (see SURVEY.md §5):
- derived coordinates use only IEEE-exact ops (+,-,*,/ mod, floor) — no
  libm — so Spark and DuckDB compute bit-identical doubles;
- aggregated floats are either exactly representable (integer-valued
  data, block centers) or rounded to 9 decimals on BOTH sides;
- every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from verde_spark import (
    BlockGrid,
    CheckerBoard,
    Spline,
    Trend,
    block_mean,
    block_reduce,
    inside,
)
from verde_spark.coordinates import grid_coordinates
from verde_spark.functions.cells import cell_encode, cell_encode_sql
from verde_spark.operators.masks import convexhull_mask, distance_mask
from verde_spark.operators.neighbors import knn_join
from verde_spark.sources.pages import geotagged, synthesize_pages

# ---------------------------------------------------------------------------
# shared derivations (must stay IEEE-exact and mirrored in the SQL below)
# ---------------------------------------------------------------------------

REGION = (-5.0, 0.0, 5.0, 10.0)
GRID = BlockGrid.from_region(REGION, spacing=1.0)
# 0.5-spacing decimation grid + its center lattice and an interior node box
# (shared by the three value-checked gridder queries)
GRID05 = BlockGrid.from_region(REGION, spacing=0.5)
CENTER_REGION = (-4.75, -0.25, 5.25, 9.75)
INNER_REGION = (-4.0, -1.0, 6.0, 9.0)


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → synthetic point set; decorrelated multiplicative hashing,
    integer-valued data so aggregate sums are exact in both engines."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(
        F.col("event_id"),
        (F.lit(-5.0) + F.lit(5.0) * ((F.col("event_id") * 7919) % 9973) / F.lit(9973.0)).alias(
            "easting"
        ),
        (F.lit(5.0) + F.lit(5.0) * ((F.col("event_id") * 4409) % 9967) / F.lit(9967.0)).alias(
            "northing"
        ),
        (F.col("event_id") % 97).cast("double").alias("scalars"),
        (F.lit(1) + F.col("event_id") % 3).cast("double").alias("weight"),
    )


_POINTS_SQL = """
    SELECT event_id,
           -5.0 + 5.0 * ((event_id * 7919) % 9973) / 9973.0 AS easting,
           5.0 + 5.0 * ((event_id * 4409) % 9967) / 9967.0 AS northing,
           CAST(event_id % 97 AS DOUBLE) AS scalars,
           CAST(1 + event_id % 3 AS DOUBLE) AS weight
    FROM events
"""

_LABEL_SQL = GRID.label_sql("easting", "northing")


def _rolling_centers_values() -> str:
    """VALUES rows for the rolling-window centers (same axes the operator
    computes: region shrunk by size/2, grid-line registered)."""
    from verde_spark.coordinates import _resolve_axes

    half = 1.0
    w, e, s, n = REGION
    east_ax, north_ax = _resolve_axes(
        (w + half, e - half, s + half, n - half), spacing=2.0, adjust="spacing"
    )
    rows = []
    for iy in range(north_ax.size):
        for ix in range(east_ax.size):
            rows.append(
                f"({iy * east_ax.size + ix}, {east_ax.value(ix)!r}, {north_ax.value(iy)!r})"
            )
    return ", ".join(rows)


def _center_sql() -> tuple[str, str]:
    ex, nx = GRID.east, GRID.north
    ce = f"({ex.start!r} + (block % {GRID.n_east}) * {ex.step!r})"
    cn = f"({nx.start!r} + CAST(FLOOR(block / {GRID.n_east}) AS BIGINT) * {nx.step!r})"
    return ce, cn


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: geotagged pages → cell block-mean → tiled spline → grid."""
    from verde_spark.operators.spline import spline_solve_grid

    sf_dir = "/root/testdata/sf0.001"
    pts = _points(spark, sf_dir)
    # decimate (one shuffle, algebraic agg), then the fused per-tile
    # solve+evaluate cogroup (one Python stage, tested exactly equal to the
    # two-pass fit().grid() path)
    dec, _ = block_mean(pts, spacing=0.5, region=REGION, sort=False)
    return spline_solve_grid(
        dec, region=REGION, shape=(20, 20), tile_spacing=2.5, halo=1.25,
        damping=1e-8, weight_col="weight_scalars", output_col="prediction",
    )


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------


def _q_block_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, _ = block_reduce(
        _points(spark, sf_dir),
        "mean",
        region=REGION,
        spacing=1.0,
        center_coordinates=True,
        data_cols=("scalars",),
        grid=GRID,
    )
    return out.select("block", "easting", "northing", "scalars")


def _q_block_mean_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, _ = block_reduce(
        _points(spark, sf_dir),
        "mean",
        region=REGION,
        spacing=1.0,
        center_coordinates=True,
        data_cols=("scalars",),
        weight_cols=("weight",),
        grid=GRID,
    )
    return out.select("block", "easting", "northing", "scalars")


def _q_block_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _points(spark, sf_dir).withColumn("block", GRID.label_expr())
    return (
        pts.groupBy("block")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("scalars").alias("min_val"),
            F.max("scalars").alias("max_val"),
            F.sum("scalars").alias("sum_val"),
        )
        .orderBy("block")
    )


def _q_block_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, _ = block_reduce(
        _points(spark, sf_dir),
        "median",
        region=REGION,
        spacing=1.0,
        center_coordinates=True,
        data_cols=("scalars",),
        grid=GRID,
    )
    return out.select("block", "scalars")


def _q_block_mean_uncertainty(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, _ = block_mean(
        _points(spark, sf_dir),
        region=REGION,
        spacing=1.0,
        center_coordinates=True,
        weight_cols=("weight",),
        uncertainty=True,
        grid=GRID,
    )
    # weighted mean is exact (integer-valued sums); the propagated-variance
    # weight needs the global-min rescale → round on both sides.
    return out.select(
        "block", "scalars", F.round("weight_scalars", 9).alias("weight_scalars")
    )


def _q_inside(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _points(spark, sf_dir)
    return pts.filter(inside((-3.0, -1.0, 6.0, 8.0))).select(
        "event_id", "easting", "northing"
    )


def _q_get_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _points(spark, sf_dir)
    return pts.agg(
        F.min("easting").alias("w"),
        F.max("easting").alias("e"),
        F.min("northing").alias("s"),
        F.max("northing").alias("n"),
    )


def _q_grid_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return grid_coordinates(spark, REGION, spacing=0.5).select(
        "iy", "ix", "northing", "easting"
    )


def _q_checkerboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # synthetic source evaluated on a grid; sin/cos are libm → round(6).
    # `+ 0.0` normalizes -0.0 to +0.0: JVM sin at a sign-change node yields
    # ±2e-16 with engine-dependent sign, and round() preserves the signed
    # zero, which hashes differently even though -0.0 == 0.0.
    cb = CheckerBoard(region=REGION)
    nodes = grid_coordinates(spark, REGION, spacing=0.5)
    return nodes.select(
        "iy", "ix", (F.round(cb.predict_expr(), 6) + F.lit(0.0)).alias("value")
    )


def _q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _points(spark, sf_dir).cache()
    queries = pts.filter(F.col("event_id") < 20).select(
        F.col("event_id").alias("query_id"),
        F.col("easting").alias("qe"),
        F.col("northing").alias("qn"),
    )
    out = knn_join(
        pts.select("event_id", "easting", "northing"),
        queries,
        k=3,
        query_easting="qe",
        query_northing="qn",
        query_id="query_id",
    )
    return out.select(
        "query_id", F.col("nb_event_id").alias("neighbor_id"),
        F.col("rank").cast("long").alias("rank"),
        F.round("distance", 9).alias("distance"),
    ).orderBy("query_id", "rank")


def _q_distance_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _points(spark, sf_dir).filter(F.col("event_id") % 100 == 0)
    nodes = grid_coordinates(spark, REGION, spacing=0.5)
    out = distance_mask(pts, nodes, maxdist=0.75)
    return out.select("iy", "ix", "in_range").orderBy("iy", "ix")


def _poly_props_sql() -> str:
    """Shoelace properties of _POLY as SQL over an edge VALUES list."""
    n = len(_POLY)
    rows = []
    for i in range(n):
        ax, ay = _POLY[i]
        bx, by = _POLY[(i + 1) % n]
        rows.append(f"({ax!r}, {ay!r}, {bx!r}, {by!r})")
    values = ", ".join(rows)
    xs = ", ".join(repr(x) for x, _ in _POLY)
    ys = ", ".join(repr(y) for _, y in _POLY)
    return f"""
        WITH e(ax, ay, bx, by) AS (VALUES {values}),
        s AS (
          SELECT sum(ax*by - bx*ay) / 2.0 AS sa,
                 sum((ax+bx) * (ax*by - bx*ay)) AS cx6,
                 sum((ay+by) * (ax*by - bx*ay)) AS cy6
          FROM e
        )
        SELECT round(abs(sa), 9) + 0.0 AS area,
               round(sa, 9) + 0.0 AS signed_area,
               round(cx6 / (6.0 * sa), 9) + 0.0 AS centroid_x,
               round(cy6 / (6.0 * sa), 9) + 0.0 AS centroid_y,
               round(least({xs}), 9) + 0.0 AS bbox_w,
               round(greatest({xs}), 9) + 0.0 AS bbox_e,
               round(least({ys}), 9) + 0.0 AS bbox_s,
               round(greatest({ys}), 9) + 0.0 AS bbox_n
        FROM s
    """


def _q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global deterministic sample (TakeOrderedAndProject — per-partition
    partial top-n, no full sort); injective arithmetic rank key keeps both
    engines tie-free (doc_id < 9973, prime modulus, coprime multiplier)."""
    from verde_spark.operators.sampling import deterministic_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = deterministic_sample(
        docs, 20, hash_expr=(F.col("doc_id") * 7919) % 9973
    )
    return out.select("doc_id", "lang").orderBy("doc_id")


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (operators/packing.pack_sequences):
    per-shard window cumsum lays docs end-to-end; injective arithmetic
    rank keeps both engines' orderings identical (doc_id < 9973)."""
    from verde_spark.operators.packing import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    out = pack_sequences(
        docs, seq_len=64, n_shards=8, sep_tokens=1,
        hash_expr=(F.col("doc_id") * 7919) % 9973,
    )
    return out.orderBy("doc_id")


def _q_salted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew salting (north rule): the two-level salted mean must equal the
    plain per-block mean EXACTLY — integer-valued data keeps every partial
    sum exact, so the salt decomposition is arithmetically invisible."""
    from verde_spark.operators.salting import salted_mean

    pts = _points(spark, sf_dir).withColumn("block", GRID.label_expr())
    out = salted_mean(pts, key="block", value="scalars", n_salts=8)
    return out.select("block", "mean", "n").orderBy("block")


def _q_polygon_properties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shoelace area / centroid / bbox of the shared _POLY as Catalyst
    aggregates; round(9) absorbs the fold-order ulp between engines."""
    from verde_spark.operators.polygons import polygon_literal, polygon_properties

    df = spark.range(1).select(polygon_literal(_POLY).alias("vertices"))
    out = polygon_properties(df)
    return out.select(
        *[
            (F.round(c, 9) + F.lit(0.0)).alias(c)
            for c in ("area", "signed_area", "centroid_x", "centroid_y",
                      "bbox_w", "bbox_e", "bbox_s", "bbox_n")
        ]
    )


def _q_mask_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster→vector: RLE-vectorize the distance-mask grid (one window +
    one groupBy, both keyed by grid row)."""
    from verde_spark.sources.grid_io import mask_to_runs

    pts = _points(spark, sf_dir).filter(F.col("event_id") % 100 == 0)
    nodes = grid_coordinates(spark, REGION, spacing=0.5)
    masked = distance_mask(pts, nodes, maxdist=0.75)
    return mask_to_runs(masked, flag_col="in_range").orderBy("iy", "start_ix")


def _q_convexhull(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hull of the 4 bbox corners of a sub-rectangle → membership must equal
    # the inside() predicate: a known-geometry oracle for the hull machinery.
    import pandas as pd

    corners = spark.createDataFrame(
        pd.DataFrame(
            {"easting": [-4.0, -1.0, -1.0, -4.0], "northing": [6.0, 6.0, 9.0, 9.0]}
        )
    )
    nodes = grid_coordinates(spark, REGION, spacing=0.5)
    out = convexhull_mask(corners, nodes)
    return out.select("iy", "ix", "in_hull").orderBy("iy", "ix")


def _q_cell_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _points(spark, sf_dir)
    return (
        pts.select(cell_encode("easting", "northing", 6).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("cell")
    )


def _q_geotag_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # build a geotag string from exact coordinates, parse it back with the
    # production regex — validates the text→(lon,lat) extractor both sides.
    from verde_spark.sources.pages import geotag_lat, geotag_lon

    pts = _points(spark, sf_dir).filter(F.col("event_id") < 1000)
    tagged = pts.select(
        "event_id",
        F.format_string("geo:%.6f,%.6f", F.col("northing"), F.col("easting")).alias("text"),
    )
    return tagged.select(
        "event_id",
        geotag_lat("text").alias("lat"),
        geotag_lon("text").alias("lon"),
    )


def _q_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    pts = _points(spark, sf_dir).withColumn(
        "plane",
        F.lit(10.0) + F.lit(2.0) * F.col("easting") - F.lit(0.4) * F.col("northing"),
    )
    trend = Trend(degree=1).fit(pts, data_col="plane")
    coefs = [round(float(c), 6) for c in trend.coef_]
    return spark.createDataFrame(
        pd.DataFrame({"coef_idx": range(3), "coef": coefs})
    )


def _q_r2(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _points(spark, sf_dir)
    pred = pts.withColumn("pred", F.col("scalars") * 0.5 + 10.0)
    agg = pred.agg(
        F.sum((F.col("scalars") - F.col("pred")) * (F.col("scalars") - F.col("pred"))).alias(
            "ss_res"
        ),
        F.sum("scalars").alias("sd"),
        F.sum(F.col("scalars") * F.col("scalars")).alias("sd2"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    return agg.select(
        F.round(
            F.lit(1.0) - F.col("ss_res") / (F.col("sd2") - F.col("sd") * F.col("sd") / F.col("n")),
            9,
        ).alias("r2")
    )


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from verde_spark.operators.dedup import dedup_exact

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        dedup_exact(docs, id_col="doc_id", text_col="text")
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )


def _q_duplicate_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from verde_spark.operators.dedup import exact_duplicates

    # the driver fixture has no duplicate texts (r01 matched on 0 rows —
    # vacuous), so duplicate families are planted in-query: docs 0-9 are
    # re-inserted with ids shifted by 1,000,000 → ≥10 families of 2.
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") < 10).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    both = docs.unionByName(copies)
    return exact_duplicates(both).select("n_copies", "keep_id").orderBy("keep_id")


def _q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from verde_spark.functions.text import token_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id", token_count("text").cast("long").alias("tokens")
    ).orderBy("doc_id")


def _q_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from verde_spark.functions.text import token_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(token_count("text")).cast("long").alias("total_tokens"),
        )
        .orderBy("lang")
    )


#: Per-language marker suffixes planted onto ``documents.text`` by doc_id
#: residue so the lang-ID argmax is exercised across all five languages
#: (the base fixture text is English-ish, so without planting every row
#: would resolve to 'en'/'und'). Mirrored verbatim in the oracle SQL.
_LANG_PLANT = {
    1: " der die und das ist der die und",
    2: " le la les et est le la les",
    3: " el los que y es el los",
    4: " o os que e um o os",
}


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic n-gram/stopword language-ID (functions/text.lang_id_expr):
    one JVM-side regexp_count per language marker + a greatest-based argmax
    with 'en'>'de'>'fr'>'es'>'pt' tie precedence and 'und' on zero hits.
    Value-oracled against a DuckDB regexp_extract_all argmax twin."""
    from verde_spark.functions.text import lang_id_expr

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    plant = F.lit("")
    for residue, suffix in _LANG_PLANT.items():
        plant = F.when(F.col("doc_id") % 5 == residue, F.lit(suffix)).otherwise(plant)
    planted = docs.select(
        "doc_id", F.concat(F.col("text"), plant).alias("ptext")
    )
    return planted.select(
        "doc_id", lang_id_expr("ptext").alias("lang_guess")
    ).orderBy("doc_id")


def _q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass corpus profile (pipelines.corpus_report): per-language +
    ALL-rollup doc/token/char counts, exact-dup rate and mean quality in a
    single Expand + hash-aggregate job.  Languages planted via _LANG_PLANT
    (residues survive the +1e6 copy offset since 1_000_000 % 5 == 0, so
    the planted duplicates stay exact dups of their originals); Spark
    counts distinct xxhash64(text), the oracle counts distinct raw text —
    identical absent a 2^-64 collision (the minhash/decontam contract)."""
    from verde_spark.pipelines import corpus_report

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") < 10).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    both = docs.unionByName(copies)
    plant = F.lit("")
    for residue, suffix in _LANG_PLANT.items():
        plant = F.when(F.col("doc_id") % 5 == residue, F.lit(suffix)).otherwise(plant)
    planted = both.select(F.concat(F.col("text"), plant).alias("ptext"))
    return corpus_report(planted, text_col="ptext").orderBy("lang")


def _q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring (functions/text.quality_score): blend of
    length, alpha ratio, punctuation ratio and mean word length — pure
    column expressions, value-oracled per doc (round 9 + 0.0 both sides)."""
    from verde_spark.functions.text import bpe_ish_token_count, quality_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        (F.round(quality_score("text"), 9) + F.lit(0.0)).alias("quality"),
        bpe_ish_token_count("text").cast("long").alias("bpe_tokens"),
    ).orderBy("doc_id")


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from verde_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk(emb, queries, k=5)
    # cosine values differ in the last ulp across engines (summation order)
    # → compare ids/ranks only.
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    ).orderBy("query_id", "rank")


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with probe-all (n_probe = n_centroids): every (query,
    cluster) pair is probed, so the candidate set is the whole corpus and
    the result equals exact top-k REGARDLESS of the trained centroids —
    which makes the probabilistic index layer (sampled k-means) safe to
    check against the deterministic exact-cosine SQL oracle.  The pruned
    path (n_probe < n_centroids) is covered by recall tests in pytest.
    """
    from verde_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 20)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=8)
    # ids/ranks only: cosine last-ulp differs across engines
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    ).orderBy("query_id", "rank")


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from verde_spark.operators.dedup import simhash_near_duplicates

    # SimHash is the candidate generator (bag-of-tokens signature: hamming 0
    # admits reordered/near-identical docs); the exact token-multiset verify
    # makes the result oracle-checkable. The fixture has no duplicates (r01
    # matched on 0 rows — vacuous), so token-REORDERED copies of docs 0-9
    # are planted in-query: same token multiset ⇒ identical simhash ⇒
    # guaranteed hamming-0 candidates, then multiset-verified.
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    reordered = base.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.concat_ws(
            " ", F.reverse(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        ).alias("text"),
    )
    docs = base.unionByName(reordered)
    cand = simhash_near_duplicates(docs, max_hamming=0)
    toks = docs.select(
        F.col("doc_id"),
        F.sort_array(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("toks"),
    )
    verified = (
        cand.join(toks.withColumnRenamed("doc_id", "id_a").withColumnRenamed("toks", "ta"), "id_a")
        .join(toks.withColumnRenamed("doc_id", "id_b").withColumnRenamed("toks", "tb"), "id_b")
        .filter(F.col("ta") == F.col("tb"))
    )
    return verified.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    ).orderBy("id_a", "id_b")


def _q_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from verde_spark.operators.windows import rolling_window

    pts = _points(spark, sf_dir)
    out, _ = rolling_window(pts, size=2.0, spacing=2.0, region=REGION)
    return (
        out.groupBy(
            F.col("window").alias("win_id"), "center_easting", "center_northing"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("scalars").alias("sum_val"))
        .orderBy("win_id")
    )


def _q_expanding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from verde_spark.operators.windows import expanding_window

    pts = _points(spark, sf_dir)
    out = expanding_window(pts, center=(-2.5, 7.5), sizes=[1.0, 2.0, 4.0])
    return (
        out.filter(F.col("min_size_idx").isNotNull())
        .groupBy(F.col("min_size_idx").cast("long").alias("min_size_idx"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("min_size_idx")
    )


def _q_spline_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-checked tiled spline solve via the exact-interpolation property.

    An undamped biharmonic spline with forces at the data points solves a
    square consistent system, so it reproduces its inputs exactly
    (reference contract: verde tests/test_spline.py:94-98, spline.py:458-463;
    measured residual ~1e-11 here).  The grid nodes are placed AT the block
    centers of the decimation, so every occupied center's prediction equals
    its block value — which IS DuckDB-expressible.  Decimation uses ``min``
    (integer-valued data), so round(3) sits far from any rounding boundary;
    block means p/n can land exactly on one (e.g. 3/16 = 0.1875).
    Point-free centers (not SQL-predictable) are semi-joined away by block
    label — integer arithmetic, no float equality.
    """
    from verde_spark.operators.blockreduce import block_reduce

    dec, _ = block_reduce(
        _points(spark, sf_dir), "min", region=REGION, spacing=0.5,
        center_coordinates=True, data_cols=("scalars",), grid=GRID05, sort=False,
    )
    sp = Spline(damping=None, tile_spacing=2.5, halo=1.25).fit(dec, region=REGION)
    out = sp.grid(spark, region=CENTER_REGION, shape=(10, 10), output_col="prediction")
    return (
        out.withColumn("block", (F.col("iy") * 10 + F.col("ix")).cast("long"))
        .join(dec.select("block"), "block", "semi")
        .select("block", (F.round("prediction", 3) + F.lit(0.0)).alias("prediction"))
        .orderBy("block")
    )


def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup end-to-end on planted exact copies.

    Identical texts have identical shingle sets → identical minhash
    signatures → they collide in EVERY band (probability-1 capture, which
    keeps the probabilistic LSH layer oracle-safe), and the exact Jaccard
    verify returns exactly 1.0 (size(S∩S)/size(S∪S) = n/n). Restricting to
    (id, id+1M) pairs excludes any accidental near-dup pair among the
    originals, whose capture WOULD be probabilistic. Docs with fewer than
    shingle_size=3 tokens have no signature and are excluded on both sides.
    """
    from verde_spark.operators.dedup import jaccard_pairs, lsh_candidate_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") < 10).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    both = docs.unionByName(copies)
    cand = lsh_candidate_pairs(both)
    pairs = jaccard_pairs(both, cand).filter(
        (F.col("id_b") == F.col("id_a") + F.lit(1_000_000)) & (F.col("jaccard") >= 0.999)
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a")


def _q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS, SIGMOD'03) fingerprints of the first 20 documents.

    The gram hash is an exact int64 polynomial (base 257, k=5) — no
    modulus, no xxhash64 — so DuckDB's list_transform/list_min chain
    reproduces every selected fingerprint bit-for-bit.  Zero-shuffle plan:
    two projections + explode.
    """
    from verde_spark.operators.dedup import winnow_fingerprints

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 20
    )
    return winnow_fingerprints(docs).orderBy("doc_id", "fp")


def _q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-winnow-fingerprint candidate pairs on doc_id < 50 plus
    planted copies of doc_id < 10 (ids +1M).

    Identical texts share their full fingerprint set → containment
    exactly 1.0 (captured with probability 1), while same-vocabulary
    unrelated docs top out at 0.8 on this fixture, so the containment
    ≥ 0.9 cut returns exactly the 10 planted pairs — a discriminating
    (non-vacuous) result.  Containment is a ratio of exact int64 counts,
    so one IEEE division matches DuckDB bit-for-bit.

    Runs the vectorized ``engine="arrow"`` path (bit-identical to the
    Catalyst expressions by construction AND by test — see
    test_winnow_arrow_engine_bit_identical), so the oracle validates the
    engine a crawl-scale corpus would actually use; the sibling
    ``winnow_fingerprints`` query keeps the pure-Catalyst engine under
    the same oracle, so both paths are value-gated every round.
    """
    from verde_spark.operators.dedup import winnow_pairs

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 50)
    )
    copies = docs.filter(F.col("doc_id") < 10).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    both = docs.unionByName(copies)
    return (
        winnow_pairs(both, min_shared=3, min_containment=0.9, engine="arrow")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            (F.round("containment", 6) + F.lit(0.0)).alias("containment"),
        )
        .orderBy("id_a", "id_b")
    )


def _q_embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH embedding near-dup on planted identical vectors.

    An identical vector lands in the same bucket in every table (capture
    probability 1 — oracle-safe despite the probabilistic LSH layer), and
    the exact JVM cosine of a vector with itself rounds to 1.0. The
    (id, id+1M) restriction excludes accidental pairs among the originals.
    """
    from verde_spark.operators.dedup import embedding_near_duplicate_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") < 10).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1_000_000)
    )
    both = emb.unionByName(copies)
    pairs = embedding_near_duplicate_pairs(
        both, threshold=0.99, id_col="vec_id", vec_col="embedding"
    )
    return (
        pairs.filter(F.col("id_b") == F.col("id_a") + F.lit(1_000_000))
        .select("id_a", "id_b", (F.round("cosine", 6) + F.lit(0.0)).alias("cosine"))
        .orderBy("id_a")
    )


def _q_project_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 projection hook through the Arrow-UDF path, value-checked: a
    linear map (2e+1, 0.5n−3) is IEEE-exact in both engines (×2 and ×0.5
    are exponent shifts; the adds round identically)."""
    from verde_spark.operators.projections import project_points

    pts = _points(spark, sf_dir)
    out = project_points(
        pts, lambda e, n: (2.0 * e + 1.0, 0.5 * n - 3.0),
        out_easting="pe", out_northing="pn",
    )
    return out.select("event_id", "pe", "pn").orderBy("event_id")


def _q_longitude_continuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: dateline-crossing region (355°..5°) forces the ±180 interval;
    the operator returns a pmod column expression applied lazily."""
    from verde_spark.coordinates import longitude_continuity

    pts = _points(spark, sf_dir).withColumn(
        "lon", ((F.col("event_id") * 13) % 360).cast("double")
    )
    new_region, lon_expr = longitude_continuity((355.0, 5.0, 5.0, 10.0), "lon")
    assert new_region[:2] == (-5.0, 5.0)
    return pts.select("event_id", lon_expr.alias("lon_fixed")).orderBy("event_id")


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic sample (rank-by-hash window).

    The ranking key (doc_id·7919 mod 9973) is INJECTIVE for doc_id < 9973
    (9973 prime, coprime multiplier), so both engines order identically
    with no tie ambiguity — xxhash64 (the production default) has no
    DuckDB twin.
    """
    from verde_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = stratified_sample(
        docs, "lang", 5, hash_expr=(F.col("doc_id") * 7919) % 9973
    )
    return out.select("lang", "doc_id").orderBy("lang", "doc_id")


def _q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup closure (VERDICT #5) as a driver-checkable query.

    Deterministic chain edges (doc_id, doc_id+7) for doc_id < 93 give 7
    chains of ~15 nodes — deep enough that single-link min-propagation
    would need ~14 rounds, so pointer jumping is actually exercised
    (max_iters=10 would fail without it). component = min id reachable;
    the DuckDB oracle computes the same via a recursive reachability CTE.
    """
    from verde_spark.operators.dedup import connected_components

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = docs.filter(F.col("doc_id") < 93).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + F.lit(7)).alias("id_b")
    )
    comp = connected_components(edges, max_iters=10)
    return comp.select("id", F.col("comp").alias("component")).orderBy("id")


# concave polygon inside REGION; no horizontal edges (keeps the crossing
# division well-defined in both engines without CASE-guard differences)
_POLY = [(-4.5, 5.5), (-0.5, 6.2), (-2.5, 7.8), (-0.2, 9.3), (-3.8, 9.6), (-4.8, 7.1)]


def _poly_crossing_sql(poly=None) -> str:
    """Even-odd crossing count as SQL with the same operation order as
    ``point_in_polygon_expr`` (IEEE-exact parity)."""
    poly = _POLY if poly is None else poly
    terms = []
    n = len(poly)
    for i in range(n):
        ax, ay = poly[i]
        bx, by = poly[(i + 1) % n]
        terms.append(
            f"CASE WHEN (({ay!r} > northing) <> ({by!r} > northing)) AND "
            f"(easting < {ax!r} + ({bx!r} - {ax!r}) * (northing - {ay!r}) / ({by!r} - {ay!r})) "
            "THEN 1 ELSE 0 END"
        )
    return " + ".join(terms)


def _q_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    from verde_spark.operators.polygons import point_in_polygon

    pts = _points(spark, sf_dir)
    return (
        point_in_polygon(pts, _POLY, col_name="inside")
        .groupBy("inside")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("inside")
    )


def _q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from verde_spark.operators.polygons import zonal_stats

    pts = _points(spark, sf_dir)
    polys = spark.createDataFrame(
        [("p1", [{"x": float(x), "y": float(y)} for x, y in _POLY])],
        schema="poly_id string, vertices array<struct<x:double,y:double>>",
    )
    # count + sum only: scalars are integer-valued, so sums are exact in
    # both engines (no float rounding concerns)
    return zonal_stats(pts, polys, "scalars", stats=("count", "sum"), method="bbox")


def _q_linear_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-checked tiled Delaunay gridder via affine reproduction.

    Barycentric interpolation reproduces any plane exactly (reference:
    scipy LinearNDInterpolator contract, our tests/test_linear.py:26-36;
    measured error ~5e-15 here), and a blocked *mean* keeps plane data on
    the plane (mean of a linear function = function of the mean coords), so
    the full pipeline — decimate → tiled triangulation with halo → grid —
    must return plane(node) on every interior node.  Plane coefficients
    (10, 2, −0.5) put node values on an exact binary lattice (multiples of
    0.125), so round(6) has no boundary risk.
    """
    from verde_spark import Linear
    from verde_spark.operators.blockreduce import block_reduce

    pts = _points(spark, sf_dir).withColumn(
        "plane",
        F.lit(10.0) + F.lit(2.0) * F.col("easting") - F.lit(0.5) * F.col("northing"),
    )
    dec, _ = block_reduce(
        pts, "mean", region=REGION, spacing=0.5, data_cols=("plane",),
        grid=GRID05, sort=False,
    )
    out = (
        Linear(tile_spacing=2.5, halo=1.5)
        .fit(dec, region=REGION, data_col="plane")
        .grid(spark, region=INNER_REGION, shape=(13, 13), output_col="prediction")
    )
    return out.select(
        "iy", "ix", (F.round("prediction", 6) + F.lit(0.0)).alias("prediction")
    ).orderBy("iy", "ix")


def _q_cubic_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-checked Clough-Tocher gridder via linear-field reproduction.

    Reduced-HCT patches with estimated gradients reproduce linear fields
    (gradient estimation is exact for planes — tests/test_cubic.py:25-33,
    51-60; measured error ~5e-8 here).  Single tile: the gradient solve is
    global over the triangulation, so this checks the C1 patch evaluation
    and the cogroup plumbing; the tiled path is value-checked by
    ``linear_grid`` (same halo machinery).  Plane (4, −1.6, 0.2) puts node
    values on a 0.05 lattice — no round(4) boundary within 5e-5.
    """
    from verde_spark import Cubic
    from verde_spark.operators.blockreduce import block_reduce

    pts = _points(spark, sf_dir).withColumn(
        "plane2",
        F.lit(4.0) - F.lit(1.6) * F.col("easting") + F.lit(0.2) * F.col("northing"),
    )
    dec, _ = block_reduce(
        pts, "mean", region=REGION, spacing=0.5, data_cols=("plane2",),
        grid=GRID05, sort=False,
    )
    out = (
        Cubic(tile_spacing=None)
        .fit(dec, region=REGION, data_col="plane2")
        .grid(spark, region=INNER_REGION, shape=(13, 13), output_col="prediction")
    )
    return out.select(
        "iy", "ix", (F.round("prediction", 4) + F.lit(0.0)).alias("prediction")
    ).orderBy("iy", "ix")


# second burn polygon for the rasterize query: triangle inside REGION, no
# horizontal edges, vertices off the 0.5 node lattice
_TRI2 = [(-3.2, 5.7), (-0.7, 6.9), (-2.1, 9.4)]


def _q_rasterize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector→raster burn onto the 11×11 REGION grid (north rule:
    raster↔vector).  Two overlapping polygons with burn values 2 and 5,
    ``agg="max"`` priority, fill 0 — every arm (both memberships, the
    overlap resolution, and the fill) is exercised.  Membership is the
    same even-odd crossing arithmetic as ``point_in_polygon`` (IEEE-exact
    SQL parity via ``_poly_crossing_sql``); burn values and max are exact
    in both engines."""
    from verde_spark.operators.polygons import rasterize

    polys = spark.createDataFrame(
        [
            (2.0, [{"x": float(x), "y": float(y)} for x, y in _POLY]),
            (5.0, [{"x": float(x), "y": float(y)} for x, y in _TRI2]),
        ],
        schema="val double, vertices array<struct<x:double,y:double>>",
    )
    return rasterize(
        polys, REGION, spacing=0.5, value_col="val", fill=0.0, agg="max"
    ).orderBy("iy", "ix")


def _q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→text extraction (input_hint invariant: byte-identical
    extracted text per url vs the reference extractor).  Each document's
    text is wrapped in an HTML envelope carrying every spec arm — style
    block, comment containing a tag, attributes, script with markup
    inside a string, all five entities — and the pure-Catalyst
    ``extract_text`` chain must reproduce DuckDB's replay of the same
    spec (``extract_text_sql``) byte-for-byte; tests additionally pin
    both to the Python reference extractor."""
    from verde_spark.functions.extract import extract_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 500
    )
    html = F.concat(
        F.lit(_HTML_PREFIX), F.col("text"), F.lit(_HTML_SUFFIX)
    ).cast("binary")
    return docs.select(
        "doc_id", extract_text(html).alias("text_out")
    ).orderBy("doc_id")


def _extract_sql(col_expr: str) -> str:
    from verde_spark.functions.extract import extract_text_sql

    return extract_text_sql(col_expr)


def _host_graph_sql() -> str:
    from verde_spark.operators.linkgraph import host_graph_sql

    pages_sql = """
        SELECT 'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.com/p'
                 || CAST(doc_id AS VARCHAR) AS url,
               '<html><body><a href="https://site'
                 || CAST((doc_id + 1) % 7 AS VARCHAR)
                 || '.com/x">a</a><p><a class="m" href="/local">b</a></p></body></html>'
                 AS html_str
        FROM documents WHERE doc_id < 300
    """
    return host_graph_sql(pages_sql)


def _canonical_sql(col_expr: str) -> str:
    from verde_spark.functions.urls import canonical_url_sql

    return canonical_url_sql(col_expr)


def _stopword_sql(col_expr: str) -> str:
    from verde_spark.functions.text import stopword_ratio_sql

    return stopword_ratio_sql(col_expr)


def _repetition_sql(col_expr: str) -> str:
    from verde_spark.functions.text import repetition_ratio_sql

    return repetition_ratio_sql(col_expr)


def _pii_sql(col_expr: str) -> str:
    from verde_spark.functions.pii import redact_pii_sql

    return redact_pii_sql(col_expr)


def _pii_counts_sql(col_expr: str) -> tuple:
    from verde_spark.functions.pii import pii_counts_sql

    return pii_counts_sql(col_expr)


_HTML_PREFIX = (
    '<html><head><style>p { color: red; }</style></head>'
    '<body class="main"><!-- note with a <b>tag</b> inside --><p>'
)
_HTML_SUFFIX = (
    '</p><script type="text/javascript">var s = "<i>not text</i>";</script>'
    " &amp;&lt;tail&gt;</body></html>"
)


def _q_canonical_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (crawl-pipeline front door).  Messy url
    variants — mixed scheme/host case, default and non-default ports,
    tracking params, unsorted queries, fragments — are synthesized per
    doc_id identically in both engines; the pure-Catalyst
    ``canonical_url`` chain must match DuckDB's replay of the same spec
    (``canonical_url_sql``) byte-for-byte."""
    from verde_spark.functions.urls import canonical_url

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 400
    )
    messy = F.concat(
        F.element_at(
            F.array(
                F.lit("HTTP://Example.COM:80"),
                F.lit("https://Example.com:443"),
                F.lit("https://other.ORG:8443"),
            ),
            ((F.col("doc_id") % 3) + 1).cast("int"),
        ),
        F.lit("/p"),
        (F.col("doc_id") % 11).cast("string"),
        F.lit("?b=2&utm_source=s&a="),
        (F.col("doc_id") % 5).cast("string"),
        F.lit("#frag"),
    )
    return docs.select(
        "doc_id", canonical_url(messy).alias("curl")
    ).orderBy("doc_id")


_MESSY_URL_SQL = (
    "(CASE doc_id % 3 WHEN 0 THEN 'HTTP://Example.COM:80' "
    "WHEN 1 THEN 'https://Example.com:443' "
    "ELSE 'https://other.ORG:8443' END "
    "|| '/p' || CAST(doc_id % 11 AS VARCHAR) "
    "|| '?b=2&utm_source=s&a=' || CAST(doc_id % 5 AS VARCHAR) || '#frag')"
)


def _q_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signal (Gopher-style quality filter).
    Every 4th document gets a planted repeated tail so the fixture
    discriminates (non-zero AND zero ratios present); the ratio is one
    IEEE division of exact int counts, identical in both engines."""
    from verde_spark.functions.text import repetition_ratio

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 400
    )
    text = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(F.col("text"), F.lit(" spam spam spam spam spam")),
    ).otherwise(F.col("text"))
    return docs.select(
        "doc_id",
        (F.round(repetition_ratio(text), 9) + F.lit(0.0)).alias("rep"),
    ).orderBy("doc_id")


def _q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed webtext front door (pipelines.clean_corpus) under ONE
    end-to-end value oracle: messy recrawled urls (canonical-dedup arm),
    groups of 5 docs sharing one text (exact-dedup arm, min-url
    representative), and every-7th-doc junk text (repetition +
    stopword gate arm).  All strings/counts are exact; DuckDB replays
    canonicalization, latest-crawl row_number, the three gates and the
    min-url dedup."""
    from verde_spark.pipelines import clean_corpus

    ids = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 300
    ).select("doc_id")
    text = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.lit("junk junk junk junk junk junk "),
            F.col("doc_id").cast("string"),
        ),
    ).otherwise(
        F.concat(
            F.lit("the cat sat on the mat and it is day "),
            F.floor(F.col("doc_id") / 5).cast("string"),
        )
    )
    t0 = F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    early = ids.select(
        F.concat(
            F.lit("HTTP://Example.COM:80/doc"),
            F.col("doc_id").cast("string"),
            F.lit("?utm_source=x"),
        ).alias("url"),
        (t0 + F.make_dt_interval(secs=F.col("doc_id").cast("double"))).alias("warc_ts"),
        text.alias("text"),
        F.col("doc_id"),
    )
    late = ids.select(
        F.concat(F.lit("http://example.com/doc"), F.col("doc_id").cast("string")).alias("url"),
        (t0 + F.make_dt_interval(secs=(F.col("doc_id") + 10000).cast("double"))).alias("warc_ts"),
        text.alias("text"),
        F.col("doc_id"),
    )
    corpus = early.unionByName(late).drop("doc_id")
    out = clean_corpus(
        corpus, min_tokens=5, min_stopword_ratio=0.2, max_repetition=0.5
    )
    return out.select("url", "n_tokens").orderBy("url")


def _host_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 7-host link fixture from documents: page i on host
    site{i%7}.com links out to site{(i+1)%7}.com and back to itself via a
    root-relative href (exercising both resolution arms)."""
    ids = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 300
    ).select("doc_id")
    host = (F.col("doc_id") % 7).cast("string")
    nxt = ((F.col("doc_id") + 1) % 7).cast("string")
    return ids.select(
        F.concat(F.lit("https://site"), host, F.lit(".com/p"), F.col("doc_id").cast("string")).alias("url"),
        F.concat(
            F.lit('<html><body><a href="https://site'), nxt,
            F.lit('.com/x">a</a><p><a class="m" href="/local">b</a></p></body></html>'),
        ).cast("binary").alias("html"),
    )


def _q_host_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level link graph (href regex extraction + root-relative
    resolution + domain aggregation) under an exact DuckDB oracle that
    replays the same regex chain."""
    from verde_spark.operators.linkgraph import host_graph

    pages = _host_pages(spark, sf_dir)
    return host_graph(pages).orderBy("src_domain", "dst_domain")


def _q_pagerank_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the host graph — iterative float power iterations
    (parallel-reduction sums), so no byte oracle: the driver records the
    rows-only check and tests/test_linkgraph.py pins NumPy parity at
    rtol 1e-9.  Ranks are rounded for a stable schema."""
    from verde_spark.operators.linkgraph import host_graph, pagerank

    pages = _host_pages(spark, sf_dir)
    pr = pagerank(
        host_graph(pages), iterations=8,
        src_col="src_domain", dst_col="dst_domain",
    )
    return pr.select(
        F.col("id").alias("host"), F.round("rank", 6).alias("rank")
    ).orderBy("host")


def _q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots-meta directive parsing (operators/crawl.meta_robots): five
    fixture arms per doc_id%5 — both attribute orders, the `none`
    shorthand, a benign tag, a lookalike meta name that must NOT match,
    and no tag at all.  Pure-projection; DuckDB replays the same regex
    constants."""
    from verde_spark.operators.crawl import meta_robots

    d = F.col("doc_id")
    meta = (
        F.when(d % 5 == 0, F.lit('<meta name="robots" content="NOINDEX, nofollow">'))
        .when(d % 5 == 1, F.lit("<meta content=' none ' name='robots'>"))
        .when(d % 5 == 2, F.lit('<meta name="robots" content="index, follow">'))
        .when(d % 5 == 3, F.lit('<meta name="keywords" content="noindex">'))
        .otherwise(F.lit(""))
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(d < 400)
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("<html>"), meta, F.lit("<body>x</body></html>"))
        .cast("binary")
        .alias("html"),
    )
    r = meta_robots("html")
    # ints, not booleans: exact cross-engine value hashing
    return pages.select(
        "doc_id",
        r["noindex"].cast("int").alias("noindex"),
        r["nofollow"].cast("int").alias("nofollow"),
    ).orderBy("doc_id")


def _q_robots_txt_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt file-level gate (operators/crawl.robots_txt_filter,
    RFC 9309) for agent ``mybot``: six path arms per doc_id%6 hit prefix
    rules, the ``*`` wildcard, the ``$`` anchor (and a query string
    defeating it), an exact Allow/Disallow tie, and an empty path; the
    per-host robots dim (derived from documents doc_id<7) alternates a
    ``*``-group policy, an agent-specific full block, and a missing row
    (→ everything allowed).  The corpus side is never shuffled: parse is
    a scalar fold on the dim, the join is a broadcast, the verdict is
    one LIKE projection.  DuckDB replays the identical fold + LIKE
    compilation."""
    from verde_spark.operators.crawl import robots_txt_filter

    d = F.col("doc_id")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = (
        F.when(d % 6 == 0, F.lit("/public/a"))
        .when(d % 6 == 1, F.lit("/private/x"))
        .when(d % 6 == 2, F.lit("/files/r.pdf"))
        .when(d % 6 == 3, F.lit("/files/r.pdf?dl=1"))
        .when(d % 6 == 4, F.lit("/p"))
        .otherwise(F.lit(""))
    )
    host = F.concat(F.lit("site"), (d % 7).cast("string"), F.lit(".com"))
    pages = docs.filter(d < 420).select(
        "doc_id", F.concat(F.lit("http://"), host, path).alias("url")
    )
    robots = (
        docs.filter((d < 7) & (d % 3 < 2))
        .select(
            F.concat(F.lit("site"), d.cast("string"), F.lit(".com")).alias("host"),
            F.when(d % 3 == 0, F.lit(_ROBOTS_TXT_STAR))
            .otherwise(F.lit(_ROBOTS_TXT_MYBOT))
            .alias("robots_txt"),
        )
    )
    return robots_txt_filter(pages, robots, agent="mybot").orderBy("doc_id")


#: robots.txt bodies for the gate fixture — the '*' policy exercises
#: prefix, wildcard+$ and a tie; the second names `mybot` explicitly so
#: agent-group precedence (over the trailing '*' group) is attested
_ROBOTS_TXT_STAR = (
    "User-agent: *\nDisallow: /private/\nDisallow: /*.pdf$\n"
    "Allow: /p\nDisallow: /p\n"
)
_ROBOTS_TXT_MYBOT = (
    "User-agent: mybot\nDisallow: /\n\nUser-agent: *\nAllow: /\n"
)


def _q_sitemap_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery chain (operators/crawl): per-host robots.txt →
    Sitemap lines (global field) + Crawl-delay (agent-precedence fold,
    agent ``mybot``) + the declared sitemap's (loc, lastmod) entries —
    three robots policies (star delay + 2 sitemaps / agent override /
    named-but-silent agent group → NULL delay) × a urlset body with an
    entity-escaped loc, a padded loc, a lastmod-less entry and a
    loc-less block that must drop.  All pure projections + one Generate
    over the per-host DIM; DuckDB replays the folds, the entity
    unescape and the explode bit-for-bit."""
    from verde_spark.operators.crawl import (
        robots_crawl_delay,
        robots_sitemaps,
        sitemap_urls,
    )

    d = F.col("doc_id")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    host = F.concat(F.lit("site"), d.cast("string"), F.lit(".com"))
    robots = (
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit("User-agent: *\nCrawl-delay: 10\nSitemap: https://"),
                host, F.lit("/sm.xml\nsitemap: https://"), host,
                F.lit("/sm2.xml # mirror\n"),
            ),
        )
        .when(
            d % 3 == 1,
            F.concat(
                F.lit("User-agent: mybot\nCrawl-delay: 2.5\n\n"
                      "User-agent: *\nCrawl-delay: 7\nSitemap: https://"),
                host, F.lit("/sm.xml\n"),
            ),
        )
        .otherwise(
            F.lit("User-agent: mybot\nDisallow: /\n"
                  "User-agent: *\nCrawl-delay: 7\n")
        )
    )
    xml = F.concat(
        F.lit("<urlset><url><loc>https://"), host,
        F.lit("/p?a=1&amp;b=2</loc><lastmod>2024-01-0"),
        (d % 9 + 1).cast("string"),
        F.lit("</lastmod></url><url><loc> https://"), host,
        F.lit("/q </loc></url><url><priority>1</priority></url></urlset>"),
    )
    dim = docs.filter(d < 9).select(
        host.alias("host"),
        robots_crawl_delay(robots, "mybot").alias("crawl_delay"),
        F.array_join(robots_sitemaps(robots), ",").alias("sitemaps"),
        xml.alias("sitemap_xml"),
    )
    return sitemap_urls(dim).orderBy("host", "loc")


def _q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators/dsir, Xie et al. 2023) under
    the code-constant EXAMPLE_DSIR model: per-document hashed-n-gram
    log-weight as a serial literal fold — bit-identical in DuckDB
    because the log-ratio table is Python-computed at import (the
    charlm discipline) and the bucket hash is an exact mod-prime
    polynomial (the kgram_hashes discipline).  n_grams pins the feature
    extraction (unigrams + bigrams) integer-exactly."""
    from verde_spark.operators.dsir import EXAMPLE_DSIR, dsir_bucket_ids

    m = EXAMPLE_DSIR
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.filter(F.col("doc_id") < 400)
        .select(
            "doc_id",
            F.size(dsir_bucket_ids("text", m.num_buckets)).alias("n_grams"),
            m.weight_expr("text").alias("dsir_weight"),
        )
        .orderBy("doc_id")
    )


#: the tfidf_scores oracle query string — shared by the Spark query and
#: the DuckDB twin so both score against the identical literal vector
_TFIDF_QUERY_TEXT = "the survey region and the river canyon measurement"


def _q_tfidf_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed TF-IDF similarity scores (functions/tfidf) under the
    code-constant EXAMPLE_TFIDF model: every document scored against
    one literal query vector — attests feature hashing, idf literals,
    L2 normalization (integer tf · Python-literal idf · IEEE sqrt) and
    the ascending-index dot fold, all bit-identical in DuckDB."""
    from verde_spark.functions.tfidf import (
        EXAMPLE_TFIDF,
        reference_sparse_tfidf,
        sparse_cosine,
    )

    m = EXAMPLE_TFIDF
    q_idx, q_val = reference_sparse_tfidf(_TFIDF_QUERY_TEXT, m)
    qv = F.struct(
        F.lit(list(q_idx)).alias("indices"),
        F.lit(list(q_val)).alias("values"),
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vec = m.sparse_expr("text")
    return (
        docs.filter((F.col("doc_id") < 300) & F.col("text").isNotNull())
        .select(
            "doc_id",
            F.size(vec["indices"]).alias("n_terms"),
            sparse_cosine(vec, qv).alias("score"),
        )
        .orderBy("doc_id")
    )


def _q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist gate (operators/crawl.filter_blocklist): hosts
    with subdomains/ports/userinfo vs a list blocking one registrable
    domain and one exact subdomain — survivors prove the suffix
    semantics (ads.site0.com blocked via site0.com; sub2.site1.com
    blocked exactly; sub0.site1.com kept).  Pure projection, zero
    shuffle."""
    from verde_spark.operators.crawl import filter_blocklist

    d = F.col("doc_id")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(d < 300)
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://u@sub"), (d % 3).cast("string"),
            F.lit(".site"), (d % 5).cast("string"),
            F.lit(".com:443/p"), d.cast("string"),
        ).alias("url"),
    )
    kept = filter_blocklist(pages, ["site0.com", "sub2.site1.com"])
    return kept.select("doc_id", "url").orderBy("doc_id")


def _q_anchor_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host top-k inbound anchor texts (linkgraph.top_anchor_texts):
    anchors carry case/whitespace noise (normalized), nested-markup and
    empty anchors (skipped), and a root-relative href (resolved) — the
    DuckDB twin replays the regex + resolution + ranked top-k."""
    from verde_spark.operators.linkgraph import top_anchor_texts

    d = F.col("doc_id")
    nxt = (d + 1) % 7
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(d < 300)
    pages = docs.select(
        F.concat(
            F.lit("https://site"), (d % 7).cast("string"),
            F.lit(".com/p"), d.cast("string"),
        ).alias("url"),
        F.concat(
            F.lit('<html><body><a href="https://site'), nxt.cast("string"),
            F.lit('.com/x">Read   ABOUT site'), nxt.cast("string"),
            F.lit('</a><a href="/local"> home </a>'),
            F.lit('<a href="https://site'), nxt.cast("string"),
            F.lit('.com/x"><b>skip</b></a>'),
            F.lit('<a href="https://site'), nxt.cast("string"),
            F.lit('.com/x"></a></body></html>'),
        ).cast("binary").alias("html"),
    )
    return (
        top_anchor_texts(pages, k=2)
        # long rank: DuckDB's row_number is BIGINT — exact schema parity
        .select(
            "dst_domain", "anchor", "n_anchors", F.col("rank").cast("long").alias("rank")
        )
        .orderBy("dst_domain", "rank")
    )


def _q_gopher_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality signals (functions/text.gopher_signals,
    Rae et al. 2021): real document text decorated with planted bullet
    lines (doc_id%3), ellipsis endings (doc_id%5) and symbol soup
    (doc_id%7) so every ratio takes non-trivial values.  Exact int
    counts + single IEEE divisions — DuckDB replays the struct
    bit-for-bit from the same pattern constants."""
    from verde_spark.functions.text import gopher_signals

    d = F.col("doc_id")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(d < 400)
    txt = F.concat(
        F.col("text"),
        F.when(d % 3 == 0, F.lit("\n- bullet one\n* bullet two")).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit("\ntrailing off...")).otherwise(F.lit("")),
        F.when(d % 7 == 0, F.lit(" ### #")).otherwise(F.lit("")),
    )
    s = gopher_signals(txt)
    r9 = lambda c: F.round(c, 9) + F.lit(0.0)  # noqa: E731
    return docs.select(
        "doc_id",
        s["n_words"].cast("long").alias("n_words"),  # DuckDB len() is BIGINT
        r9(s["mean_word_len"]).alias("mean_word_len"),
        r9(s["symbol_word_ratio"]).alias("symbol_word_ratio"),
        r9(s["bullet_line_ratio"]).alias("bullet_line_ratio"),
        r9(s["ellipsis_line_ratio"]).alias("ellipsis_line_ratio"),
        r9(s["alpha_word_ratio"]).alias("alpha_word_ratio"),
    ).orderBy("doc_id")


def _q_c4_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 page-cleaning signals (functions/text.c4_signals, Raffel et
    al. 2020 §2.2): real document text decorated with a planted kept
    line (doc_id%2), a too-short line (doc_id%3), a javascript line
    (doc_id%5), a "lorem ipsum" mention (doc_id%7) and a curly brace
    (doc_id%11) so every signal takes both values.  Exact int counts +
    boolean flags — DuckDB replays the struct bit-for-bit from the same
    pattern constants."""
    from verde_spark.functions.text import c4_signals

    d = F.col("doc_id")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(d < 400)
    txt = F.concat(
        F.col("text"),
        F.when(d % 2 == 0, F.lit("\nThis planted line ends properly.")).otherwise(F.lit("")),
        F.when(d % 3 == 0, F.lit("\ntoo short.")).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit("\nPlease enable Javascript to continue here.")).otherwise(F.lit("")),
        F.when(d % 7 == 0, F.lit("\nLorem ipsum dolor sit amet today.")).otherwise(F.lit("")),
        F.when(d % 11 == 0, F.lit(" {")).otherwise(F.lit("")),
    )
    s = c4_signals(txt)
    return docs.select(
        "doc_id",
        s["n_lines"].cast("long").alias("n_lines"),  # DuckDB len() is BIGINT
        s["n_kept_lines"].cast("long").alias("n_kept_lines"),
        s["n_sentences"].cast("long").alias("n_sentences"),
        s["has_lorem_ipsum"].alias("has_lorem_ipsum"),
        s["has_curly_brace"].alias("has_curly_brace"),
    ).orderBy("doc_id")


def _q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 three-sentence span dedup (operators/dedup.drop_duplicate_spans,
    Raffel et al. 2020 §2.2): every doc_id%4==0 document gets the same
    planted three-sentence boilerplate block plus a unique closer, so the
    block survives only in the first such document.  Spark keys spans by
    xxhash64; the oracle replays the SAME sentence split / windowing /
    first-occurrence rule with raw span strings — identical answers
    absent a 2^-64 collision (the minhash/decontamination contract)."""
    from verde_spark.operators.dedup import drop_duplicate_spans

    d = F.col("doc_id")
    boiler = (" Subscribe to our newsletter today! Your privacy matters"
              " to us. Unsubscribe at any time with one click.")
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(d < 300)
        .select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.when(d % 4 == 0, F.lit(boiler)).otherwise(F.lit("")),
                F.concat(F.lit(" Unique closing thought number "),
                         d.cast("string"), F.lit(".")),
            ).alias("text"),
        )
    )
    return drop_duplicate_spans(docs).select("doc_id", "text_spandedup").orderBy("doc_id")


def _q_stopword_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio quality gate (brief: 'length/punct/stopword
    ratios').  One IEEE division of exact int counts — identical in both
    engines; real document text exercises the full token path."""
    from verde_spark.functions.text import stopword_ratio

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 400
    )
    return docs.select(
        "doc_id",
        (F.round(stopword_ratio("text"), 9) + F.lit(0.0)).alias("sw_ratio"),
    ).orderBy("doc_id")


def _q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level paragraph dedup.  Every even doc gets the
    same planted boilerplate footer (corpus count ≥ 2 → removed
    everywhere); odd docs get unique tails (kept); the original text
    lines are unique and must survive byte-identically.  Pure string
    semantics — exact in both engines."""
    from verde_spark.operators.dedup import drop_duplicate_paragraphs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 200
    )
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\n"),
            F.when(
                F.col("doc_id") % 2 == 0, F.lit("SHARED BOILERPLATE FOOTER")
            ).otherwise(F.concat(F.lit("unique tail "), F.col("doc_id").cast("string"))),
        ).alias("text"),
    )
    return (
        drop_duplicate_paragraphs(planted)
        .select("doc_id", "text_clean")
        .orderBy("doc_id")
    )


def _q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (C4/GPT-3 13-gram rule) — the benchmark
    set is every 23rd document, so corpus docs long enough to produce a
    13-word gram that appear in (or duplicate) the benchmark are
    contaminated by construction.  Exercises BOTH operators and their
    consistency: per-doc ``contamination_stats`` joined with
    ``decontaminate``'s surviving-id set (kept=1 ⟺ n_contaminated=0).
    Spark matches grams by xxhash64; the oracle replays with raw string
    grams — identical results absent a 2⁻⁶⁴ hash collision (the
    ``minhash_pairs`` contract)."""
    from verde_spark.operators.decontam import contamination_stats, decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    bench = docs.filter(F.col("doc_id") % 23 == 0).select("text")
    stats = contamination_stats(docs, bench, n=13)
    kept = decontaminate(docs, bench, n=13).select(
        "doc_id", F.lit(1).alias("kept")
    )
    return (
        stats.join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_grams").cast("bigint").alias("n_grams"),
            "n_contaminated",
            (F.round("contamination", 9) + F.lit(0.0)).alias("contamination"),
            F.coalesce(F.col("kept"), F.lit(0)).alias("kept"),
        )
        .orderBy("doc_id")
    )


def _q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (emails / IPv4 / phones → placeholder tokens).  PII is
    planted deterministically per doc_id — an email, a range-checked
    dotted quad and a ``+CC``-prefixed phone — identically in both
    engines; the pure-Catalyst chained regexp_replace must match
    DuckDB's replay of the same rule list byte-for-byte, counts
    included.  The stored ``text`` column is untouched (byte-identity
    invariant): redaction lands in a new ``text_clean`` column."""
    from verde_spark.functions.pii import pii_counts, redact_pii

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 400
    )
    d = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        d.cast("string"),
        F.lit("@example.com or call +1 555-"),
        (1000 + d % 9000).cast("string"),
        F.lit(" from host 192.168."),
        (d % 256).cast("string"),
        F.lit("."),
        ((d * 7) % 256).cast("string"),
        F.lit(" today"),
    )
    counts = pii_counts(planted)
    return docs.select(
        "doc_id",
        redact_pii(planted).alias("text_clean"),
        counts["n_emails"].alias("n_emails"),
        counts["n_ips"].alias("n_ips"),
        counts["n_phones"].alias("n_phones"),
    ).orderBy("doc_id")


def _q_cap_per_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain corpus cap (balance enforcement).  Urls are
    synthesized over 7 domains (~70 docs each at sf0.01); the cap keeps
    the 20 lowest deterministic ranks per domain.  The rank is the
    injective arithmetic hash ``(doc_id·7919) mod 9973`` (both factors
    prime, table smaller than the modulus → no ties), so DuckDB's
    row_number window replays the selection exactly."""
    from verde_spark.operators.sampling import cap_per_domain

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    d = F.col("doc_id")
    pages = docs.withColumn(
        "url",
        F.concat(
            F.lit("https://site"),
            (d % 7).cast("string"),
            F.lit(".com/p"),
            d.cast("string"),
        ),
    )
    out = cap_per_domain(
        pages,
        20,
        url_col="url",
        hash_expr=F.pmod(d * 7919, F.lit(9973)),
        keep_domain=True,
    )
    return out.select(
        "doc_id", F.col("__domain").alias("domain")
    ).orderBy("doc_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "block_mean": _q_block_mean,
        "block_stats": _q_block_stats,
        "block_mean_uncertainty": _q_block_mean_uncertainty,
        "knn_join": _q_knn,
        "distance_mask": _q_distance_mask,
        "convexhull_mask": _q_convexhull,
        "spline_grid": _q_spline_grid,
        "linear_grid": _q_linear_grid,
        "cubic_grid": _q_cubic_grid,
        "point_in_polygon": _q_point_in_polygon,
        "zonal_stats": _q_zonal_stats,
        "rasterize_grid": _q_rasterize,
        "extract_text": _q_extract_text,
        "canonical_urls": _q_canonical_urls,
        "block_mean_weighted": _q_block_mean_weighted,
        "block_median": _q_block_median,
        "inside_filter": _q_inside,
        "get_region": _q_get_region,
        "grid_nodes": _q_grid_nodes,
        "checkerboard": _q_checkerboard,
        "rolling_window": _q_rolling_window,
        "expanding_window": _q_expanding_window,
        "mask_runs": _q_mask_runs,
        "polygon_properties": _q_polygon_properties,
        "salted_mean": _q_salted_mean,
        "cell_counts": _q_cell_counts,
        "geotag_roundtrip": _q_geotag_roundtrip,
        "trend_coefficients": _q_trend,
        "r2_score": _q_r2,
        "project_points": _q_project_points,
        "longitude_continuity": _q_longitude_continuity,
    }


def corpus_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Text-corpus rows: one query per operator of the text-corpus layer
    that still ships outside the gridding path. They stay outside the
    driver registry (``queries``), which the driver caps at 50 rows, and
    ``tools/check_correctness.py`` replays them with the registry on
    every run. Each row is deleted together with its module."""
    return {
        "anchor_topk": _q_anchor_topk,
        "blocklist_filter": _q_blocklist_filter,
        "bloom_gate": _q_bloom_gate,
        "bm25_topk": _q_bm25_topk,
        "bpe_encode": _q_bpe_encode,
        "c4_signals": _q_c4_signals,
        "cap_per_domain": _q_cap_per_domain,
        "charlm_counts": _q_charlm_counts,
        "charlm_logprob": _q_charlm_logprob,
        "clean_corpus": _q_clean_corpus,
        "corpus_report": _q_corpus_report,
        "cosine_topk": _q_cosine_topk,
        "crawl_schedule": _q_crawl_schedule,
        "decontamination": _q_decontamination,
        "dedup_components": _q_dedup_components,
        "dedup_exact": _q_dedup_exact,
        "deterministic_sample": _q_deterministic_sample,
        "dsir_weights": _q_dsir_weights,
        "duplicate_groups": _q_duplicate_groups,
        "embedding_dup_pairs": _q_embedding_dup_pairs,
        "encode_tokens": _q_encode_tokens,
        "gopher_signals": _q_gopher_signals,
        "host_links": _q_host_links,
        "ivf_topk": _q_ivf_topk,
        "kmeans_assign": _q_kmeans_assign,
        "lang_id": _q_lang_id,
        "lang_id_ngram": _q_lang_id_ngram,
        "lang_stats": _q_lang_stats,
        "minhash_pairs": _q_minhash_pairs,
        "normalized_dedup": _q_normalized_dedup,
        "novel_docs": _q_novel_docs,
        "pack_sequences": _q_pack_sequences,
        "pagerank_hosts": _q_pagerank_hosts,
        "paragraph_dedup": _q_paragraph_dedup,
        "perplexity_buckets": _q_perplexity_buckets,
        "pii_redaction": _q_pii_redaction,
        "quality_auc": _q_quality_auc,
        "quality_lr": _q_quality_lr,
        "quality_scores": _q_quality_scores,
        "repeat_epochs": _q_repeat_epochs,
        "repetition_scores": _q_repetition_scores,
        "robots_gate": _q_robots_gate,
        "robots_txt_gate": _q_robots_txt_gate,
        "sample_mix": _q_sample_mix,
        "semdedup_pairs": _q_semdedup_pairs,
        "simhash_exact_pairs": _q_simhash_pairs,
        "sitemap_discovery": _q_sitemap_discovery,
        "span_dedup": _q_span_dedup,
        "stopword_scores": _q_stopword_scores,
        "stratified_sample": _q_stratified_sample,
        "temperature_mix": _q_temperature_mix,
        "tfidf_scores": _q_tfidf_scores,
        "token_counts": _q_token_counts,
        "vocab_topk": _q_vocab_topk,
        "winnow_fingerprints": _q_winnow_fingerprints,
        "winnow_pairs": _q_winnow_pairs,
        "word_lm_counts": _q_word_lm_counts,
        "word_lm_logprob": _q_word_lm_logprob,
    }


def _winnow_sel_sql(src_sql: str) -> str:
    """DuckDB twin of winnow_fingerprints' selection chain (k=5, w=4,
    base=257; coefficients 257^4..257^0 as exact int64 literals) over the
    (doc_id, text) rows produced by *src_sql*."""
    return f"""
        WITH src AS ({src_sql}),
        g AS (
          SELECT doc_id,
            list_transform(range(0, greatest(length(s) - 4, 0)), i ->
                ascii(s[i+1]) * 4362470401
              + ascii(s[i+2]) * 16974593
              + ascii(s[i+3]) * 66049
              + ascii(s[i+4]) * 257
              + ascii(s[i+5])) AS kg
          FROM (SELECT doc_id, lower(text) AS s FROM src)
        ),
        sel AS (
          SELECT doc_id,
            list_sort(list_distinct(list_transform(
              range(1, greatest(len(kg) - 3, 0) + 1),
              j -> list_min(list_slice(kg, j, j + 3))))) AS fps
          FROM g
        )
    """


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 (operators/search): 1-row stats agg + one codegen
    scoring projection + TakeOrderedAndProject.  Rounded score is the
    ordering key on both sides (ln-ulp robustness)."""
    from verde_spark.operators.search import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bm25_topk(docs, ["data", "learning", "model"], k=10)


def _q_charlm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-bigram LM training counts (functions/charlm): explode →
    map-side partial agg → ≤729-row shuffle.  Integer-exact."""
    from verde_spark.functions.charlm import charlm_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return charlm_counts(docs).orderBy("gram")


def _q_charlm_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality score (functions/charlm): serial left-fold
    of Python-computed log-prob literals — BIT-identical across
    Catalyst/Python/DuckDB (no rounding needed; no ln/exp inside either
    engine)."""
    from verde_spark.functions.charlm import ENGLISH_LM, logprob_expr

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id", logprob_expr(ENGLISH_LM, "text").alias("logprob")
    ).orderBy("doc_id")


def _q_word_lm_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram stupid-backoff LM scoring (functions/wordlm — the
    CCNet word-level-LM fidelity upgrade of charlm_logprob, Wenzek 2020
    / Brants 2007): literal word→id map, serial left-fold of observed-
    bigram / backoff float64 literals — BIT-identical across
    Catalyst/Python/DuckDB; zero-shuffle projection."""
    from verde_spark.functions.wordlm import ENGLISH_WORD_LM, word_logprob_expr

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        word_logprob_expr(ENGLISH_WORD_LM, "text").alias("wlm_logprob"),
    ).orderBy("doc_id")


def _q_word_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed word-bigram-id counts under the embedded vocabulary
    (functions/wordlm.word_bigram_counts): ONE explode + map-side-
    combined groupBy — integer-exact, exchange bounded by distinct
    observed pairs at any corpus size."""
    from verde_spark.functions.wordlm import ENGLISH_WORD_LM, word_bigram_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return word_bigram_counts(docs, ENGLISH_WORD_LM).orderBy("gram")


def _q_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-n-gram language ID (functions/langid, Cavnar-Trenkle 1994):
    accent fold → per-language bigram-profile literal folds → argmax.
    Pure projection (zero shuffle); every fold is bit-identical across
    engines, so the argmax — the prediction — matches exactly."""
    from verde_spark.functions.langid import lang_id_ngram_expr

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id", lang_id_ngram_expr("text").alias("lang_pred")
    ).orderBy("doc_id")


def _q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-deterministic distributed k-means (operators/clustering): int64
    fixed-point sums make the Lloyd trajectory exactly reproducible at any
    parallelism — the oracle replays 3 unrolled iterations in DuckDB and
    matches assignment-for-assignment with NO tolerance."""
    from verde_spark.operators.clustering import kmeans_fit

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assigned, _ = kmeans_fit(emb, k=8, iterations=3)
    return assigned.orderBy("vec_id")


def _q_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rebalancing (operators/mixing.sample_to_mix): per-group
    quotas from target proportions, smallest-arithmetic-hash selection —
    deterministic at any parallelism; ONE window shuffle, quotas are
    literals (no join)."""
    from verde_spark.operators.mixing import sample_to_mix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = sample_to_mix(
        docs, "lang", {"en": 0.5, "de": 0.2, "fr": 0.1}, total=200,
        id_col="doc_id",
    )
    return out.select("doc_id", "lang").orderBy("doc_id")


def _q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature / α-sampling rebalance (operators/mixing.
    temperature_mix, Lample & Conneau 2019 §3.1): shares
    ``(n_g/N)^α`` normalized, quotas clamped to population, smallest-
    arithmetic-hash selection.  The DuckDB twin re-derives the quotas IN
    SQL (ordered left-fold normalizer bit-matching Python's sorted
    ``sum``) — nothing is passed as a precomputed literal."""
    from verde_spark.operators.mixing import temperature_mix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = temperature_mix(docs, "lang", total=120, alpha=0.3, id_col="doc_id")
    return out.select("doc_id", "lang").orderBy("doc_id")


def _q_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter frontier gate (operators/bloom): a 4096-bit / 5-hash
    filter built from the even-doc_id half's text (Kirsch–Mitzenmacher
    positions from two mod-prime codepoint folds, 32-bit word packing
    via one bounded bit_or agg), then every document flagged
    maybe-seen / definitely-new through k broadcast joins — the probe
    side never shuffles.  The DuckDB twin rebuilds the filter AND the
    flags bit-for-bit, false positives included."""
    from verde_spark.operators.bloom import bloom_might_contain, build_bloom

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bloom = build_bloom(
        docs.filter(F.col("doc_id") % 2 == 0).select("text"),
        "text", num_bits=4096, num_hashes=5,
    )
    out = bloom_might_contain(
        docs.select("doc_id", "text"), bloom, "text",
        num_bits=4096, num_hashes=5, engine="join",
    )
    return out.select("doc_id", "maybe_seen").orderBy("doc_id")


def _q_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style normalized exact dedup (functions/normalize +
    operators/dedup.dedup_exact(key=)): documents collapse on the
    normalized form (lowercase, accents stripped, digits zeroed,
    punctuation unified — ONE translate + one space-collapse, a single
    codegen projection), min-doc_id survivor per normalized key, one
    window shuffle.  The DuckDB twin replays the normalization
    bit-for-bit and windows on the normalized string itself."""
    from verde_spark.functions.normalize import (
        normalize_text, normalized_fingerprint,
    )
    from verde_spark.operators.dedup import dedup_exact

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dedup_exact(
        docs.select("doc_id", "text"), key=normalized_fingerprint("text")
    )
    return out.select(
        "doc_id", normalize_text("text").alias("norm_text")
    ).orderBy("doc_id")


def _q_repeat_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-epoch upsampling (operators/mixing.repeat_weighted):
    the LLaMA-recipe shape — floor(e) copies plus a hash-thresholded
    extra; pure projection, zero shuffles."""
    from verde_spark.operators.mixing import repeat_weighted

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = repeat_weighted(
        docs, "lang", {"en": 2.4, "de": 0.5, "fr": 0.0}, id_col="doc_id"
    )
    return out.select(
        "doc_id", "lang", F.col("epoch").cast("long").alias("epoch")
    ).orderBy("doc_id", "epoch")


def _q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency vocabulary (functions/vocab.build_vocab): one word-count
    agg → top-k by (count, token) → dense ids.  Integer-exact."""
    from verde_spark.functions.vocab import build_vocab

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return build_vocab(docs, size=100).orderBy("id")


def _q_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-id encoding (functions/vocab.encode_tokens, literal-map
    engine — zero shuffles): text → array<int> under the built vocab with
    unk_id=-1.  The DuckDB twin uses the join semantics; both engines are
    also pinned equal to each other in pytest."""
    from verde_spark.functions.vocab import build_vocab, encode_tokens

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = build_vocab(docs, size=100)
    return (
        encode_tokens(docs, vocab, method="map")
        .select(
            "doc_id",
            # array → csv string: the compare harness sorts rows by every
            # column and raw arrays are unsortable/unhashable there
            F.concat_ws(
                ",", F.transform(F.col("token_ids"), lambda x: x.cast("string"))
            ).alias("ids_csv"),
        )
        .orderBy("doc_id")
    )


def _q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE subword encoding (functions/bpe) under the code-constant
    EXAMPLE_BPE model: text → subword tokens as ONE zero-shuffle
    codegen projection (a serial chain of literal ``replace`` calls —
    the charlm/DSIR literal-fold discipline).  The DuckDB twin replays
    the identical chain, token-for-token bit-identical."""
    from verde_spark.functions.bpe import EXAMPLE_BPE

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            # array → one string: the compare harness sorts rows by every
            # column and raw arrays are unsortable/unhashable there
            F.concat_ws(" ", EXAMPLE_BPE.encode_expr("text")).alias("toks_s"),
        )
        .orderBy("doc_id")
    )


def _q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity tertiles per language
    (operators/mixing.perplexity_buckets, mode="rank"): the char-LM
    score is the bit-identical literal fold, the bucket an exact
    ``ntile`` over (score DESC NULLS LAST, doc_id) — integer-exact in
    any engine.  Production uses mode="threshold" (sketch + broadcast,
    no sort); the rank mode attested here pins the same semantics."""
    from verde_spark.operators.mixing import perplexity_buckets

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        perplexity_buckets(docs, lang_col="lang", id_col="doc_id", mode="rank")
        .select("doc_id", "lang", "lm_score", "bucket", "bucket_name")
        .orderBy("doc_id")
    )


def _q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness frontier scheduling (operators/crawl.crawl_schedule):
    per-host fetch_seq + Crawl-delay eta over a synthesized frontier —
    ONE window on host, broadcast delay dim, engine-portable arithmetic
    rank (mixing.mix_hash_expr)."""
    from verde_spark.operators.crawl import crawl_schedule
    from verde_spark.operators.mixing import mix_hash_expr

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    frontier = docs.select(
        F.concat(
            F.lit("https://site"),
            F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
            F.lit(".com/d"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.pmod(F.col("doc_id"), F.lit(5)).cast("double").alias("priority"),
        "doc_id",
    )
    delays = spark.createDataFrame(
        [("site0.com", 2.0), ("site1.com", 0.5), ("site2.com", 10.0)],
        "host string, crawl_delay double",
    )
    return (
        crawl_schedule(
            frontier,
            delays,
            priority_col="priority",
            default_delay=1.0,
            hash_expr=mix_hash_expr(F.col("doc_id")),
        )
        .select("url", "host", "fetch_seq", "eta_sec")
        .orderBy("url")
    )


def _q_quality_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discriminative quality-classifier scores (operators/quality,
    GPT-3 §A shape) under the code-constant EXAMPLE_QUALITY model:
    every document's logit = bias + Σ weight[bucket] as ONE serial
    literal fold — bit-identical in DuckDB (the dsir_weights pattern;
    training itself is pinned Spark-vs-Python in pytest)."""
    from verde_spark.operators.dsir import dsir_bucket_ids
    from verde_spark.operators.quality import EXAMPLE_QUALITY

    m = EXAMPLE_QUALITY
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.size(dsir_bucket_ids("text", m.num_buckets)).alias("n_grams"),
            m.score_expr("text").alias("lr_score"),
        )
        .orderBy("doc_id")
    )


def _q_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected ROC AUC (operators/quality.roc_auc_components)
    of the EXAMPLE_QUALITY logit against a deterministic length label —
    integer numerator/counts plus ONE IEEE division, bit-identical in
    DuckDB (which replays the same distinct-score cumsum)."""
    from verde_spark.operators.quality import EXAMPLE_QUALITY, roc_auc_components

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = docs.filter(F.col("text").isNotNull()).select(
        EXAMPLE_QUALITY.score_expr("text").alias("score"),
        (F.length("text") > 200).cast("int").alias("label"),
    )
    comp = roc_auc_components(scored, "score", "label")
    return comp.select(
        "num2",
        "n_pos",
        "n_neg",
        (
            F.col("num2").cast("double")
            / (
                F.lit(2.0)
                * F.col("n_pos").cast("double")
                * F.col("n_neg").cast("double")
            )
        ).alias("auc"),
    )


def _q_semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup within-cluster near-dup pairs (operators/dedup.
    semantic_dup_pairs, Abbas et al. 2023): centroids are the first 4
    embedding rows (collected — the documented small literal side, so
    the oracle can recompute them from SQL alone), planted identical
    copies (vec_id+1M) land in their original's cluster with cosine
    rounding to 1.0 — deterministic despite no trained model."""
    from verde_spark.operators.dedup import semantic_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cent_rows = emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    centroids = [[float(x) for x in r["embedding"]] for r in cent_rows]
    copies = emb.filter(F.col("vec_id") < 10).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1_000_000)
    )
    both = emb.unionByName(copies)
    pairs = semantic_dup_pairs(
        both, centroids, threshold=0.99, id_col="vec_id", vec_col="embedding"
    )
    return (
        pairs.filter(F.col("id_b") == F.col("id_a") + F.lit(1_000_000))
        .select(
            "id_a", "id_b", "cluster",
            (F.round("cosine", 6) + F.lit(0.0)).alias("cosine"),
        )
        .orderBy("id_a")
    )


def _q_novel_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup vs a prior snapshot (operators/dedup.novel_docs):
    docs whose text was already in the doc_id<250 half are dropped via
    ONE anti-join on the 64-bit content hash; the DuckDB twin replays
    NOT EXISTS on the raw text (the minhash contract)."""
    from verde_spark.operators.dedup import novel_docs, seen_hashes

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    seen = seen_hashes(docs.filter(F.col("doc_id") < 250))
    return (
        novel_docs(docs.filter(F.col("doc_id") >= 250), seen,
                   broadcast_threshold=1_000_000)
        .select("doc_id")
        .orderBy("doc_id")
    )


def _oracles(corpus: bool = False) -> dict[str, str]:
    ce, cn = _center_sql()
    label = _LABEL_SQL
    n_e, n_n = GRID.n_east, GRID.n_north
    # grid node axes (linspace with forced endpoint)
    def axis_case(var, start, stop, size):
        step = (stop - start) / (size - 1)
        return (
            f"CASE WHEN {var} = {size - 1} THEN {stop!r} "
            f"ELSE {start!r} + {var} * {step!r} END"
        )

    e_nodes = axis_case("ix", -5.0, 0.0, 11)
    n_nodes = axis_case("iy", 5.0, 10.0, 11)
    grid_nodes_sql = f"""
        SELECT CAST(i // 11 AS BIGINT) AS iy, CAST(i % 11 AS BIGINT) AS ix,
               {n_nodes.replace('iy', '(i // 11)')} AS northing,
               {e_nodes.replace('ix', '(i % 11)')} AS easting
        FROM (SELECT UNNEST(range(121)) AS i)
    """
    # 13×13 interior node box for the linear/cubic plane-reproduction oracles
    ie = axis_case("ix", INNER_REGION[0], INNER_REGION[1], 13)
    in_ = axis_case("iy", INNER_REGION[2], INNER_REGION[3], 13)
    inner_nodes_sql = f"""
        SELECT CAST(i // 13 AS BIGINT) AS iy, CAST(i % 13 AS BIGINT) AS ix,
               {in_.replace('iy', '(i // 13)')} AS northing,
               {ie.replace('ix', '(i % 13)')} AS easting
        FROM (SELECT UNNEST(range(169)) AS i)
    """
    oracles = {
        "block_mean": f"""
            WITH pts AS ({_POINTS_SQL}),
            agg AS (
              SELECT {label} AS block, avg(scalars) AS scalars
              FROM pts GROUP BY 1
            )
            SELECT block, {ce} AS easting, {cn} AS northing, scalars
            FROM agg ORDER BY block
        """,
        "block_mean_weighted": f"""
            WITH pts AS ({_POINTS_SQL}),
            agg AS (
              SELECT {label} AS block, sum(weight*scalars)/sum(weight) AS scalars
              FROM pts GROUP BY 1
            )
            SELECT block, {ce} AS easting, {cn} AS northing, scalars
            FROM agg ORDER BY block
        """,
        "block_stats": f"""
            WITH pts AS ({_POINTS_SQL})
            SELECT {label} AS block, count(*) AS n,
                   min(scalars) AS min_val, max(scalars) AS max_val,
                   sum(scalars) AS sum_val
            FROM pts GROUP BY 1 ORDER BY block
        """,
        "block_median": f"""
            WITH pts AS ({_POINTS_SQL})
            SELECT {label} AS block, median(scalars) AS scalars
            FROM pts GROUP BY 1 ORDER BY block
        """,
        "block_mean_uncertainty": f"""
            WITH pts AS ({_POINTS_SQL}),
            agg AS (
              SELECT {label} AS block,
                     sum(weight*scalars)/sum(weight) AS scalars,
                     1.0/sum(weight) AS var
              FROM pts GROUP BY 1
            ),
            scaled AS (
              SELECT block, scalars,
                     CASE WHEN var > 1e-15
                          THEN (SELECT min(var) FROM agg WHERE var > 1e-15) / var
                          ELSE 1.0 END AS w
              FROM agg
            )
            SELECT block, scalars, round(w, 9) AS weight_scalars
            FROM scaled ORDER BY block
        """,
        "inside_filter": f"""
            WITH pts AS ({_POINTS_SQL})
            SELECT event_id, easting, northing FROM pts
            WHERE easting >= -3.0 AND easting <= -1.0
              AND northing >= 6.0 AND northing <= 8.0
        """,
        "get_region": f"""
            WITH pts AS ({_POINTS_SQL})
            SELECT min(easting) AS w, max(easting) AS e,
                   min(northing) AS s, max(northing) AS n
            FROM pts
        """,
        "grid_nodes": grid_nodes_sql,
        "checkerboard": f"""
            -- + 0.0 normalizes -0.0 (sign of the ~1e-16 libm residue at
            -- sign-change nodes differs per engine; round keeps signed zero)
            WITH nodes AS ({grid_nodes_sql})
            SELECT iy, ix,
                   round(1000.0 * sin(2*pi()/2.5 * easting)
                                * cos(2*pi()/2.5 * northing), 6) + 0.0 AS value
            FROM nodes
        """,
        "knn_join": f"""
            WITH pts AS ({_POINTS_SQL}),
            q AS (SELECT event_id AS query_id, easting AS qe, northing AS qn
                  FROM pts WHERE event_id < 20),
            cand AS (
              SELECT q.query_id, p.event_id AS neighbor_id,
                     sqrt((p.easting-q.qe)*(p.easting-q.qe)
                        + (p.northing-q.qn)*(p.northing-q.qn)) AS distance,
                     row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY sqrt((p.easting-q.qe)*(p.easting-q.qe)
                                   + (p.northing-q.qn)*(p.northing-q.qn)) ASC,
                                p.event_id ASC
                     ) AS rank
              FROM q CROSS JOIN pts p
            )
            SELECT query_id, neighbor_id, rank, round(distance, 9) AS distance
            FROM cand WHERE rank <= 3 ORDER BY query_id, rank
        """,
        "rolling_window": f"""
            WITH pts AS ({_POINTS_SQL}),
            centers AS (
              SELECT * FROM (VALUES {_rolling_centers_values()})
                AS t(win_id, center_easting, center_northing)
            )
            SELECT c.win_id, c.center_easting, c.center_northing,
                   count(*) AS n, sum(p.scalars) AS sum_val
            FROM centers c JOIN pts p
              ON abs(p.easting - c.center_easting) <= 1.0
             AND abs(p.northing - c.center_northing) <= 1.0
            GROUP BY 1, 2, 3 ORDER BY c.win_id
        """,
        "expanding_window": f"""
            WITH pts AS ({_POINTS_SQL}),
            cheb AS (
              SELECT scalars,
                     greatest(abs(easting - (-2.5)), abs(northing - 7.5)) AS d
              FROM pts
            )
            SELECT CAST(CASE WHEN d <= 0.5 THEN 0 WHEN d <= 1.0 THEN 1
                        WHEN d <= 2.0 THEN 2 END AS BIGINT) AS min_size_idx,
                   count(*) AS n
            FROM cheb WHERE d <= 2.0
            GROUP BY 1 ORDER BY min_size_idx
        """,
        "distance_mask": f"""
            WITH pts AS ({_POINTS_SQL}),
            data AS (SELECT easting, northing FROM pts WHERE event_id % 100 = 0),
            nodes AS ({grid_nodes_sql})
            SELECT iy, ix,
                   EXISTS(SELECT 1 FROM data d
                          WHERE (d.easting-nodes.easting)*(d.easting-nodes.easting)
                              + (d.northing-nodes.northing)*(d.northing-nodes.northing)
                              <= 0.75*0.75) AS in_range
            FROM nodes ORDER BY iy, ix
        """,
        "deterministic_sample": """
            SELECT doc_id, lang FROM (
              SELECT doc_id, lang FROM documents
              ORDER BY (doc_id * 7919) % 9973 LIMIT 20
            ) ORDER BY doc_id
        """,
        "pack_sequences": r"""
            -- per-shard window cumsum twin of operators/packing
            -- (seq_len=64, n_shards=8, sep_tokens=1, arithmetic rank)
            WITH t AS (
              SELECT doc_id,
                     (doc_id * 7919) % 9973 AS rank,
                     CAST(((doc_id * 7919) % 9973) % 8 AS INTEGER) AS shard,
                     CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))
                          AS BIGINT) AS toks
              FROM documents
            ),
            w AS (
              SELECT doc_id, shard, toks,
                     CAST(sum(toks + 1) OVER (
                       PARTITION BY shard ORDER BY rank, doc_id
                     ) AS BIGINT) AS e
              FROM t
            )
            SELECT doc_id, shard, toks AS n_tokens,
                   e - toks - 1 AS start_tok,
                   e - 1 AS end_tok,
                   CAST(floor((e - toks - 1) / 64.0) AS BIGINT) AS start_seq,
                   CAST(floor(greatest(e - 2, e - toks - 1) / 64.0) AS BIGINT)
                     AS end_seq
            FROM w ORDER BY doc_id
        """,
        "salted_mean": f"""
            WITH pts AS ({_POINTS_SQL})
            SELECT {_LABEL_SQL} AS block,
                   sum(1.0 * scalars) / sum(1.0) AS mean,
                   count(*) AS n
            FROM pts GROUP BY 1 ORDER BY block
        """,
        "polygon_properties": _poly_props_sql(),
        "mask_runs": f"""
            WITH pts AS ({_POINTS_SQL}),
            data AS (SELECT easting, northing FROM pts WHERE event_id % 100 = 0),
            nodes AS ({grid_nodes_sql}),
            flags AS (
              SELECT iy, ix,
                     EXISTS(SELECT 1 FROM data d
                            WHERE (d.easting-nodes.easting)*(d.easting-nodes.easting)
                                + (d.northing-nodes.northing)*(d.northing-nodes.northing)
                                <= 0.75*0.75) AS in_range
              FROM nodes
            ),
            grp AS (
              SELECT iy, ix,
                     ix - row_number() OVER (PARTITION BY iy ORDER BY ix) AS g
              FROM flags WHERE in_range
            )
            SELECT iy, min(ix) AS start_ix, max(ix) AS end_ix,
                   count(*) AS run_length
            FROM grp GROUP BY iy, g
            ORDER BY iy, start_ix
        """,
        "convexhull_mask": f"""
            WITH nodes AS ({grid_nodes_sql})
            SELECT iy, ix,
                   (easting >= -4.0 AND easting <= -1.0
                    AND northing >= 6.0 AND northing <= 9.0) AS in_hull
            FROM nodes ORDER BY iy, ix
        """,
        "cell_counts": f"""
            WITH pts AS ({_POINTS_SQL})
            SELECT {cell_encode_sql('easting', 'northing', 6)} AS cell, count(*) AS n
            FROM pts GROUP BY 1 ORDER BY cell
        """,
        "geotag_roundtrip": f"""
            WITH pts AS ({_POINTS_SQL}),
            tagged AS (
              SELECT event_id, printf('geo:%.6f,%.6f', northing, easting) AS text
              FROM pts WHERE event_id < 1000
            )
            SELECT event_id,
                   TRY_CAST(regexp_extract(text, 'geo:(-?\\d+\\.\\d+),(-?\\d+\\.\\d+)', 1) AS DOUBLE) AS lat,
                   TRY_CAST(regexp_extract(text, 'geo:(-?\\d+\\.\\d+),(-?\\d+\\.\\d+)', 2) AS DOUBLE) AS lon
            FROM tagged
        """,
        "trend_coefficients": f"""
            -- closed-form 3x3 normal-equation solve (Cramer) for the plane
            -- fit 10 + 2e - 0.4n; rounding to 6 decimals absorbs float noise
            WITH pts AS ({_POINTS_SQL}),
            d AS (SELECT easting AS e, northing AS n,
                         10.0 + 2.0*easting - 0.4*northing AS z FROM pts),
            s AS (
              SELECT count(*)::DOUBLE AS s00, sum(e) AS s10, sum(n) AS s01,
                     sum(e*e) AS s20, sum(e*n) AS s11, sum(n*n) AS s02,
                     sum(z) AS t0, sum(e*z) AS t1, sum(n*z) AS t2
              FROM d
            ),
            solved AS (
              SELECT
                (s00*(s20*s02-s11*s11) - s10*(s10*s02-s11*s01) + s01*(s10*s11-s20*s01)) AS det,
                (t0*(s20*s02-s11*s11) - s10*(t1*s02-s11*t2) + s01*(t1*s11-s20*t2)) AS d0,
                (s00*(t1*s02-t2*s11) - t0*(s10*s02-s11*s01) + s01*(s10*t2-t1*s01)) AS d1,
                (s00*(s20*t2-s11*t1) - s10*(s10*t2-t1*s01) + t0*(s10*s11-s20*s01)) AS d2
              FROM s
            )
            SELECT CAST(UNNEST([0, 1, 2]) AS BIGINT) AS coef_idx,
                   UNNEST([round(d0/det, 6), round(d1/det, 6), round(d2/det, 6)]) AS coef
            FROM solved
        """,
        "r2_score": f"""
            WITH pts AS ({_POINTS_SQL}),
            p AS (SELECT scalars, scalars*0.5 + 10.0 AS pred FROM pts)
            SELECT round(1.0 - sum((scalars-pred)*(scalars-pred))
                       / (sum(scalars*scalars) - sum(scalars)*sum(scalars)/count(*)), 9) AS r2
            FROM p
        """,
        "dedup_exact": """
            SELECT doc_id, n_chars FROM documents
            WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
            ORDER BY doc_id
        """,
        "duplicate_groups": """
            WITH unioned AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text
              FROM documents WHERE doc_id < 10
            )
            SELECT count(*) AS n_copies, min(doc_id) AS keep_id
            FROM unioned GROUP BY text HAVING count(*) > 1
            ORDER BY keep_id
        """,
        "winnow_fingerprints": _winnow_sel_sql(
            "SELECT doc_id, text FROM documents WHERE doc_id < 20"
        )
        + """
            SELECT doc_id, unnest(fps) AS fp FROM sel ORDER BY doc_id, fp
        """,
        "winnow_pairs": _winnow_sel_sql(
            """SELECT doc_id, text FROM documents WHERE doc_id < 50
               UNION ALL
               SELECT doc_id + 1000000 AS doc_id, text
               FROM documents WHERE doc_id < 10"""
        )
        + """
            , f AS (SELECT doc_id, len(fps) AS nfp, unnest(fps) AS fp FROM sel),
            p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     count(*) AS n_shared,
                     CAST(count(*) AS DOUBLE)
                       / CAST(least(first(a.nfp), first(b.nfp)) AS DOUBLE)
                       AS containment
              FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
              GROUP BY 1, 2 HAVING count(*) >= 3
            )
            SELECT id_a, id_b, n_shared,
                   round(containment, 6) + 0.0 AS containment
            FROM p WHERE containment >= 0.9
            ORDER BY id_a, id_b
        """,
        "token_counts": r"""
            SELECT doc_id,
                   len(list_filter(regexp_split_to_array(text, '\s+'),
                                   x -> x <> '')) AS tokens
            FROM documents ORDER BY doc_id
        """,
        "lang_stats": r"""
            SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   CAST(sum(len(list_filter(regexp_split_to_array(text, '\s+'),
                                            x -> x <> ''))) AS BIGINT) AS total_tokens
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "lang_id": r"""
            WITH planted AS (
              SELECT doc_id,
                     text || CASE doc_id % 5
                       WHEN 1 THEN ' der die und das ist der die und'
                       WHEN 2 THEN ' le la les et est le la les'
                       WHEN 3 THEN ' el los que y es el los'
                       WHEN 4 THEN ' o os que e um o os'
                       ELSE '' END AS ptext
              FROM documents
            ),
            padded AS (
              -- whitespace doubled, matching lang_id_expr: adjacent
              -- stopwords must not compete for one shared gap
              SELECT doc_id,
                     ' ' || regexp_replace(lower(ptext), '\s', '  ', 'g')
                         || ' ' AS p
              FROM planted
            ),
            scores AS (
              SELECT doc_id,
                len(regexp_extract_all(p, '\sthe\s')) + len(regexp_extract_all(p, '\sand\s'))
                  + len(regexp_extract_all(p, '\sof\s')) + len(regexp_extract_all(p, '\sto\s'))
                  + len(regexp_extract_all(p, '\sis\s')) AS s_en,
                len(regexp_extract_all(p, '\sder\s')) + len(regexp_extract_all(p, '\sdie\s'))
                  + len(regexp_extract_all(p, '\sund\s')) + len(regexp_extract_all(p, '\sdas\s'))
                  + len(regexp_extract_all(p, '\sist\s')) AS s_de,
                len(regexp_extract_all(p, '\sle\s')) + len(regexp_extract_all(p, '\sla\s'))
                  + len(regexp_extract_all(p, '\sles\s')) + len(regexp_extract_all(p, '\set\s'))
                  + len(regexp_extract_all(p, '\sest\s')) AS s_fr,
                len(regexp_extract_all(p, '\sel\s')) + len(regexp_extract_all(p, '\slos\s'))
                  + len(regexp_extract_all(p, '\sque\s')) + len(regexp_extract_all(p, '\sy\s'))
                  + len(regexp_extract_all(p, '\ses\s')) AS s_es,
                len(regexp_extract_all(p, '\so\s')) + len(regexp_extract_all(p, '\sos\s'))
                  + len(regexp_extract_all(p, '\sque\s')) + len(regexp_extract_all(p, '\se\s'))
                  + len(regexp_extract_all(p, '\sum\s')) AS s_pt
              FROM padded
            )
            SELECT doc_id,
                   CASE
                     WHEN greatest(s_en, s_de, s_fr, s_es, s_pt) = 0 THEN 'und'
                     WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_pt) THEN 'en'
                     WHEN s_de = greatest(s_en, s_de, s_fr, s_es, s_pt) THEN 'de'
                     WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_pt) THEN 'fr'
                     WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_pt) THEN 'es'
                     ELSE 'pt'
                   END AS lang_guess
            FROM scores ORDER BY doc_id
        """,
        "quality_scores": r"""
            WITH base AS (
              SELECT doc_id, text,
                     CAST(len(text) AS DOUBLE) AS n,
                     greatest(CAST(len(text) AS DOUBLE), 1.0) AS safe_n,
                     CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS DOUBLE)
                       AS words
              FROM documents
            ),
            feats AS (
              SELECT doc_id, n, words,
                     CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / safe_n AS alpha,
                     CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) / safe_n AS punct,
                     CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS bpe_tokens
              FROM base
            )
            SELECT doc_id,
                   round(
                     0.3 * least(n / 500.0, 1.0)
                     + 0.3 * alpha
                     + 0.2 * (CASE WHEN n / greatest(words, 1.0) >= 3
                                    AND n / greatest(words, 1.0) <= 10
                                   THEN 1.0 ELSE 0.3 END)
                     + 0.2 * (CASE WHEN punct <= 0.2 THEN 1.0
                                   ELSE greatest(0.0, 1.0 - punct) END), 9) + 0.0
                     AS quality,
                   bpe_tokens
            FROM feats ORDER BY doc_id
        """,
        "corpus_report": r"""
            -- one-pass corpus profile twin: same planted union + lang argmax
            -- as lang_id/dedup_exact; DuckDB counts DISTINCT raw text where
            -- Spark counts distinct xxhash64(text) (identical membership
            -- absent a 2^-64 collision); ROLLUP + GROUPING() mirrors
            -- Spark's rollup + F.grouping
            WITH unioned AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text FROM documents
              WHERE doc_id < 10
            ),
            planted AS (
              SELECT doc_id,
                     text || CASE doc_id % 5
                       WHEN 1 THEN ' der die und das ist der die und'
                       WHEN 2 THEN ' le la les et est le la les'
                       WHEN 3 THEN ' el los que y es el los'
                       WHEN 4 THEN ' o os que e um o os'
                       ELSE '' END AS ptext
              FROM unioned
            ),
            padded AS (
              -- whitespace doubled, matching lang_id_expr (see lang_id)
              SELECT ptext,
                     ' ' || regexp_replace(lower(ptext), '\s', '  ', 'g')
                         || ' ' AS p
              FROM planted
            ),
            scores AS (
              SELECT ptext,
                len(regexp_extract_all(p, '\sthe\s')) + len(regexp_extract_all(p, '\sand\s'))
                  + len(regexp_extract_all(p, '\sof\s')) + len(regexp_extract_all(p, '\sto\s'))
                  + len(regexp_extract_all(p, '\sis\s')) AS s_en,
                len(regexp_extract_all(p, '\sder\s')) + len(regexp_extract_all(p, '\sdie\s'))
                  + len(regexp_extract_all(p, '\sund\s')) + len(regexp_extract_all(p, '\sdas\s'))
                  + len(regexp_extract_all(p, '\sist\s')) AS s_de,
                len(regexp_extract_all(p, '\sle\s')) + len(regexp_extract_all(p, '\sla\s'))
                  + len(regexp_extract_all(p, '\sles\s')) + len(regexp_extract_all(p, '\set\s'))
                  + len(regexp_extract_all(p, '\sest\s')) AS s_fr,
                len(regexp_extract_all(p, '\sel\s')) + len(regexp_extract_all(p, '\slos\s'))
                  + len(regexp_extract_all(p, '\sque\s')) + len(regexp_extract_all(p, '\sy\s'))
                  + len(regexp_extract_all(p, '\ses\s')) AS s_es,
                len(regexp_extract_all(p, '\so\s')) + len(regexp_extract_all(p, '\sos\s'))
                  + len(regexp_extract_all(p, '\sque\s')) + len(regexp_extract_all(p, '\se\s'))
                  + len(regexp_extract_all(p, '\sum\s')) AS s_pt
              FROM padded
            ),
            langed AS (
              SELECT ptext,
                CASE
                  WHEN greatest(s_en, s_de, s_fr, s_es, s_pt) = 0 THEN 'und'
                  WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_pt) THEN 'en'
                  WHEN s_de = greatest(s_en, s_de, s_fr, s_es, s_pt) THEN 'de'
                  WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_pt) THEN 'fr'
                  WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_pt) THEN 'es'
                  ELSE 'pt'
                END AS lang
              FROM scores
            ),
            feats AS (
              SELECT lang, ptext,
                CAST(len(list_filter(regexp_split_to_array(ptext, '\s+'), x -> x <> ''))
                     AS BIGINT) AS tokens,
                CAST(len(ptext) AS BIGINT) AS chars,
                (0.3 * least(CAST(len(ptext) AS DOUBLE) / 500.0, 1.0)
                 + 0.3 * (CAST(len(regexp_extract_all(ptext, '[A-Za-z]')) AS DOUBLE)
                          / greatest(CAST(len(ptext) AS DOUBLE), 1.0))
                 + 0.2 * (CASE WHEN CAST(len(ptext) AS DOUBLE)
                                    / greatest(CAST(len(list_filter(regexp_split_to_array(ptext, '\s+'), x -> x <> ''))
                                          AS DOUBLE), 1.0) >= 3
                                AND CAST(len(ptext) AS DOUBLE)
                                    / greatest(CAST(len(list_filter(regexp_split_to_array(ptext, '\s+'), x -> x <> ''))
                                          AS DOUBLE), 1.0) <= 10
                               THEN 1.0 ELSE 0.3 END)
                 + 0.2 * (CASE WHEN CAST(len(regexp_extract_all(ptext, '[^\w\s]')) AS DOUBLE)
                                    / greatest(CAST(len(ptext) AS DOUBLE), 1.0) <= 0.2
                               THEN 1.0
                               ELSE greatest(0.0, 1.0
                                    - CAST(len(regexp_extract_all(ptext, '[^\w\s]')) AS DOUBLE)
                                      / greatest(CAST(len(ptext) AS DOUBLE), 1.0)) END)
                ) AS quality
              FROM langed
            )
            SELECT CASE WHEN GROUPING(lang) = 1 THEN 'ALL' ELSE lang END AS lang,
                   count(*) AS n_docs,
                   CAST(sum(tokens) AS BIGINT) AS n_tokens,
                   CAST(sum(chars) AS BIGINT) AS n_chars,
                   count(DISTINCT ptext) AS n_unique_texts,
                   round(1.0 - CAST(count(DISTINCT ptext) AS DOUBLE) / count(*), 6)
                     + 0.0 AS dup_rate,
                   round(avg(quality), 6) + 0.0 AS avg_quality
            FROM feats GROUP BY ROLLUP(lang) ORDER BY lang
        """,
        "cosine_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 10),
            cand AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
                                e.vec_id ASC
                     ) AS rank
              FROM q CROSS JOIN embeddings e
            )
            SELECT query_id, neighbor_id, rank FROM cand
            WHERE rank <= 5 ORDER BY query_id, rank
        """,
        "ivf_topk": """
            -- probe-all IVF == exact top-k (see _q_ivf_topk docstring)
            WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
                       WHERE vec_id >= 10 AND vec_id < 20),
            cand AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
                                e.vec_id ASC
                     ) AS rank
              FROM q CROSS JOIN embeddings e
            )
            SELECT query_id, neighbor_id, rank FROM cand
            WHERE rank <= 5 ORDER BY query_id, rank
        """,
        "simhash_exact_pairs": r"""
            -- identical token multisets: exactly what the simhash-candidate +
            -- multiset-verify pipeline returns (hamming 0 is implied); docs
            -- 0-9 planted again token-reversed, same construction as Spark
            WITH unioned AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id,
                     array_to_string(
                       list_reverse(regexp_split_to_array(lower(trim(text)), '\s+')),
                       ' ') AS text
              FROM documents WHERE doc_id < 10
            ),
            toks AS (
              SELECT doc_id,
                     list_sort(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
              FROM unioned
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, 0::BIGINT AS hamming
            FROM toks a JOIN toks b ON a.t = b.t AND a.doc_id < b.doc_id
            ORDER BY id_a, id_b
        """,
        "minhash_pairs": r"""
            -- planted exact copies with >= 3 tokens (shingle_size) are the
            -- only probability-1 LSH captures; Jaccard of identical shingle
            -- sets is exactly 1.0
            SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, 1.0 AS jaccard
            FROM documents
            WHERE doc_id < 10
              AND len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 3
            ORDER BY id_a
        """,
        "embedding_dup_pairs": """
            SELECT vec_id AS id_a, vec_id + 1000000 AS id_b,
                   round(list_cosine_similarity(embedding, embedding), 6) + 0.0 AS cosine
            FROM embeddings
            WHERE vec_id < 10
              AND list_cosine_similarity(embedding, embedding) >= 0.99
            ORDER BY id_a
        """,
        "project_points": f"""
            WITH pts AS ({_POINTS_SQL})
            SELECT event_id, 2.0 * easting + 1.0 AS pe, 0.5 * northing - 3.0 AS pn
            FROM pts ORDER BY event_id
        """,
        "longitude_continuity": f"""
            WITH pts AS ({_POINTS_SQL})
            SELECT event_id,
                   (((CAST((event_id * 13) % 360 AS DOUBLE) + 180.0) % 360.0 + 360.0) % 360.0 - 180.0)
                     AS lon_fixed
            FROM pts ORDER BY event_id
        """,
        "stratified_sample": """
            -- injective arithmetic rank key (see _q_stratified_sample)
            SELECT lang, doc_id FROM (
              SELECT lang, doc_id,
                     row_number() OVER (
                       PARTITION BY lang ORDER BY (doc_id * 7919) % 9973
                     ) AS rnk
              FROM documents
            ) WHERE rnk <= 5
            ORDER BY lang, doc_id
        """,
        "dedup_components": """
            -- independent formulation: recursive reachability closure, then
            -- component = min reachable id (Spark side runs iterative
            -- min-label propagation + pointer jumping instead)
            WITH RECURSIVE e AS (
              SELECT doc_id AS src, doc_id + 7 AS dst
              FROM documents WHERE doc_id < 93
              UNION ALL
              SELECT doc_id + 7 AS src, doc_id AS dst
              FROM documents WHERE doc_id < 93
            ),
            walk AS (
              SELECT DISTINCT src AS id, src AS reach FROM e
              UNION
              SELECT w.id, e.dst AS reach FROM walk w JOIN e ON w.reach = e.src
            )
            SELECT id, min(reach) AS component FROM walk
            GROUP BY id ORDER BY id
        """,
        "point_in_polygon": f"""
            WITH pts AS ({_POINTS_SQL}),
            flags AS (
              SELECT (({_poly_crossing_sql()}) % 2) = 1 AS inside FROM pts
            )
            SELECT inside, count(*) AS n FROM flags
            GROUP BY inside ORDER BY inside
        """,
        "zonal_stats": f"""
            WITH pts AS ({_POINTS_SQL}),
            flags AS (
              SELECT scalars, (({_poly_crossing_sql()}) % 2) = 1 AS ins FROM pts
            )
            SELECT 'p1' AS poly_id, count(*) AS count_scalars,
                   sum(scalars) AS sum_scalars
            FROM flags WHERE ins
        """,
        # the three gridders are value-checked through reproduction
        # properties (exact interpolation at data sites for the undamped
        # spline; plane reproduction for Linear/Cubic) — see the query
        # docstrings for the reference contracts and rounding-safety proofs
        "spline_grid": f"""
            WITH pts AS ({_POINTS_SQL}),
            agg AS (
              SELECT {GRID05.label_sql()} AS block, min(scalars) AS p
              FROM pts GROUP BY 1
            )
            SELECT block, round(p, 3) + 0.0 AS prediction
            FROM agg ORDER BY block
        """,
        "linear_grid": f"""
            WITH nodes AS ({inner_nodes_sql})
            SELECT iy, ix,
                   round(10.0 + 2.0 * easting - 0.5 * northing, 6) + 0.0 AS prediction
            FROM nodes ORDER BY iy, ix
        """,
        "cubic_grid": f"""
            WITH nodes AS ({inner_nodes_sql})
            SELECT iy, ix,
                   round(4.0 - 1.6 * easting + 0.2 * northing, 4) + 0.0 AS prediction
            FROM nodes ORDER BY iy, ix
        """,
        "rasterize_grid": f"""
            WITH nodes AS ({grid_nodes_sql}),
            hits AS (
              SELECT iy, ix, max(v) AS value FROM (
                SELECT iy, ix,
                       CASE WHEN (({_poly_crossing_sql()}) % 2) = 1
                            THEN 2.0 END AS v
                FROM nodes
                UNION ALL
                SELECT iy, ix,
                       CASE WHEN (({_poly_crossing_sql(_TRI2)}) % 2) = 1
                            THEN 5.0 END AS v
                FROM nodes
              ) GROUP BY iy, ix
            )
            SELECT n.iy, n.ix, n.northing, n.easting,
                   coalesce(h.value, 0.0) AS value
            FROM nodes n JOIN hits h ON n.iy = h.iy AND n.ix = h.ix
            ORDER BY n.iy, n.ix
        """,
        "extract_text": f"""
            SELECT doc_id,
                   {_extract_sql(f"'{_HTML_PREFIX}' || text || '{_HTML_SUFFIX}'")} AS text_out
            FROM documents WHERE doc_id < 500 ORDER BY doc_id
        """,
        "canonical_urls": f"""
            SELECT doc_id, {_canonical_sql(_MESSY_URL_SQL)} AS curl
            FROM documents WHERE doc_id < 400 ORDER BY doc_id
        """,
        "host_links": f"""
            SELECT * FROM ({_host_graph_sql()})
            ORDER BY src_domain, dst_domain
        """,
        "clean_corpus": f"""
            WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 300),
            txt AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0
                          THEN 'junk junk junk junk junk junk ' || CAST(doc_id AS VARCHAR)
                          ELSE 'the cat sat on the mat and it is day ' || CAST(doc_id // 5 AS VARCHAR)
                     END AS text
              FROM ids
            ),
            rows_ AS (
              SELECT 'HTTP://Example.COM:80/doc' || CAST(doc_id AS VARCHAR) || '?utm_source=x' AS url,
                     CAST(doc_id AS DOUBLE) AS ts_k, text
              FROM txt
              UNION ALL
              SELECT 'http://example.com/doc' || CAST(doc_id AS VARCHAR),
                     CAST(doc_id + 10000 AS DOUBLE), text
              FROM txt
            ),
            canon AS (
              SELECT url, ts_k, text, {_canonical_sql("url")} AS curl FROM rows_
            ),
            latest AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY curl ORDER BY ts_k DESC) AS rn
                FROM canon
              ) WHERE rn = 1
            ),
            gated AS (
              SELECT url, text,
                     CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT)
                       AS n_tokens
              FROM latest
              WHERE CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) >= 5
                AND {_stopword_sql("text")} >= 0.2
                AND {_repetition_sql("text")} <= 0.5
            )
            SELECT url, n_tokens FROM (
              SELECT url, n_tokens,
                     row_number() OVER (PARTITION BY text ORDER BY url) AS rn2
              FROM gated
            ) WHERE rn2 = 1 ORDER BY url
        """,
        "stopword_scores": f"""
            SELECT doc_id,
                   round({_stopword_sql("text")}, 9) + 0.0 AS sw_ratio
            FROM documents WHERE doc_id < 400 ORDER BY doc_id
        """,
        "paragraph_dedup": """
            WITH src AS (
              SELECT doc_id,
                     (text || chr(10) || CASE WHEN doc_id % 2 = 0
                        THEN 'SHARED BOILERPLATE FOOTER'
                        ELSE 'unique tail ' || CAST(doc_id AS VARCHAR) END) AS t
              FROM documents WHERE doc_id < 200
            ),
            p AS (
              SELECT doc_id, u.e['para'] AS para, u.e['pos'] AS pos
              FROM (
                SELECT doc_id,
                       list_transform(range(len(ps)), i -> {'pos': i, 'para': ps[i+1]}) AS lst
                FROM (SELECT doc_id, string_split(t, chr(10)) AS ps FROM src)
              ), UNNEST(lst) AS u(e)
              WHERE u.e['para'] <> ''
            ),
            c AS (SELECT para, count(*) AS n FROM p GROUP BY para),
            k AS (SELECT p.doc_id, p.para, p.pos FROM p JOIN c USING (para) WHERE c.n < 2)
            SELECT s.doc_id,
                   coalesce(string_agg(k.para, chr(10) ORDER BY k.pos), '') AS text_clean
            FROM src s LEFT JOIN k ON s.doc_id = k.doc_id
            GROUP BY s.doc_id ORDER BY s.doc_id
        """,
        "repetition_scores": f"""
            SELECT doc_id,
                   round({_repetition_sql(
                       "(CASE WHEN doc_id % 4 = 0 "
                       "THEN text || ' spam spam spam spam spam' "
                       "ELSE text END)"
                   )}, 9) + 0.0 AS rep
            FROM documents WHERE doc_id < 400 ORDER BY doc_id
        """,
        # Spark matches 13-word grams by xxhash64; the oracle replays the
        # SAME tokenization/windowing with raw string grams — identical
        # membership answers absent a 2^-64 collision (minhash contract)
        "decontamination": r"""
            WITH docs AS (SELECT doc_id, text FROM documents),
            tok AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(trim(text)), '\s+') AS ws
              FROM docs
            ),
            grams AS (
              SELECT doc_id,
                     coalesce(list_distinct(list_transform(
                         range(0, greatest(len(ws) - 12, 0)),
                         i -> array_to_string(list_slice(ws, i + 1, i + 13), ' ')
                     )), []) AS gs
              FROM tok
            ),
            bgrams AS (
              SELECT DISTINCT unnest(gs) AS gram
              FROM grams WHERE doc_id % 23 = 0
            ),
            hits AS (
              SELECT e.doc_id, count(*) AS n_cont
              FROM (SELECT doc_id, unnest(gs) AS gram FROM grams) e
              JOIN bgrams USING (gram)
              GROUP BY e.doc_id
            )
            SELECT g.doc_id,
                   CAST(len(gs) AS BIGINT) AS n_grams,
                   CAST(coalesce(h.n_cont, 0) AS BIGINT) AS n_contaminated,
                   CASE WHEN len(gs) > 0
                        THEN round(coalesce(h.n_cont, 0)
                                   / CAST(len(gs) AS DOUBLE), 9) + 0.0
                        ELSE 0.0 END AS contamination,
                   CASE WHEN coalesce(h.n_cont, 0) = 0 THEN 1 ELSE 0 END AS kept
            FROM grams g LEFT JOIN hits h ON g.doc_id = h.doc_id
            ORDER BY g.doc_id
        """,
        "pii_redaction": f"""
            WITH planted AS (
              SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com or call +1 555-'
                          || CAST(1000 + doc_id % 9000 AS VARCHAR)
                          || ' from host 192.168.'
                          || CAST(doc_id % 256 AS VARCHAR) || '.'
                          || CAST((doc_id * 7) % 256 AS VARCHAR)
                          || ' today' AS t
              FROM documents WHERE doc_id < 400
            )
            SELECT doc_id,
                   {_pii_sql('t')} AS text_clean,
                   CAST({_pii_counts_sql('t')[0]} AS BIGINT) AS n_emails,
                   CAST({_pii_counts_sql('t')[1]} AS BIGINT) AS n_ips,
                   CAST({_pii_counts_sql('t')[2]} AS BIGINT) AS n_phones
            FROM planted ORDER BY doc_id
        """,
        "cap_per_domain": """
            WITH r AS (
              SELECT doc_id,
                     'site' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS domain,
                     row_number() OVER (
                       PARTITION BY doc_id % 7
                       ORDER BY (doc_id * 7919) % 9973
                     ) AS rk
              FROM documents
            )
            SELECT doc_id, domain FROM r WHERE rk <= 20 ORDER BY doc_id
        """,
    }
    if not corpus:
        return oracles

    # the text-corpus twins import their modules, so only corpus_oracle_sql
    # builds them
    from verde_spark.operators.crawl import blocked_sql, meta_robots_sql
    from verde_spark.operators.linkgraph import top_anchor_texts_sql

    _ni, _nf = meta_robots_sql("html_str")
    oracles["robots_gate"] = f"""
        WITH pages AS (
          SELECT doc_id, '<html>' ||
            CASE CAST(doc_id % 5 AS INTEGER)
              WHEN 0 THEN '<meta name="robots" content="NOINDEX, nofollow">'
              WHEN 1 THEN '<meta content='' none '' name=''robots''>'
              WHEN 2 THEN '<meta name="robots" content="index, follow">'
              WHEN 3 THEN '<meta name="keywords" content="noindex">'
              ELSE '' END || '<body>x</body></html>' AS html_str
          FROM documents WHERE doc_id < 400
        )
        SELECT doc_id, CAST({_ni} AS INTEGER) AS noindex,
               CAST({_nf} AS INTEGER) AS nofollow
        FROM pages ORDER BY doc_id
    """
    from verde_spark.operators.crawl import (
        robots_allowed_sql,
        robots_matchable_sql,
        robots_rules_sql,
    )

    _rb_star = _ROBOTS_TXT_STAR.replace("'", "''")
    _rb_mybot = _ROBOTS_TXT_MYBOT.replace("'", "''")
    _rb_rules = robots_rules_sql("robots_txt", "mybot")
    _rb_ok = robots_allowed_sql(robots_matchable_sql("url"), _rb_rules)
    oracles["robots_txt_gate"] = f"""
        WITH pages AS (
          SELECT doc_id,
                 'http://site' || CAST(doc_id % 7 AS VARCHAR) || '.com' ||
                 CASE CAST(doc_id % 6 AS INTEGER)
                   WHEN 0 THEN '/public/a'
                   WHEN 1 THEN '/private/x'
                   WHEN 2 THEN '/files/r.pdf'
                   WHEN 3 THEN '/files/r.pdf?dl=1'
                   WHEN 4 THEN '/p'
                   ELSE '' END AS url,
                 'site' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS host
          FROM documents WHERE doc_id < 420
        ), robots AS (
          SELECT 'site' || CAST(doc_id AS VARCHAR) || '.com' AS host,
                 CASE WHEN doc_id % 3 = 0 THEN '{_rb_star}'
                      ELSE '{_rb_mybot}' END AS robots_txt
          FROM documents WHERE doc_id < 7 AND doc_id % 3 < 2
        ), joined AS (
          SELECT p.doc_id, p.url, r.robots_txt
          FROM pages p LEFT JOIN robots r ON p.host = r.host
        )
        SELECT doc_id, url FROM joined
        WHERE {_rb_ok} ORDER BY doc_id
    """
    from verde_spark.operators.crawl import (
        robots_crawl_delay_sql,
        robots_sitemaps_sql,
        sitemap_entries_sql,
    )

    _sd_delay = robots_crawl_delay_sql("robots_txt", "mybot")
    _sd_maps = robots_sitemaps_sql("robots_txt")
    _sd_entries = sitemap_entries_sql("sitemap_xml")
    oracles["sitemap_discovery"] = f"""
        WITH hosts AS (
          SELECT doc_id, 'site' || CAST(doc_id AS VARCHAR) || '.com' AS host
          FROM documents WHERE doc_id < 9
        ), dim AS (
          SELECT host,
                 CASE CAST(doc_id % 3 AS INTEGER)
                   WHEN 0 THEN 'User-agent: *' || chr(10) ||
                     'Crawl-delay: 10' || chr(10) ||
                     'Sitemap: https://' || host || '/sm.xml' || chr(10) ||
                     'sitemap: https://' || host || '/sm2.xml # mirror' || chr(10)
                   WHEN 1 THEN 'User-agent: mybot' || chr(10) ||
                     'Crawl-delay: 2.5' || chr(10) || chr(10) ||
                     'User-agent: *' || chr(10) || 'Crawl-delay: 7' || chr(10) ||
                     'Sitemap: https://' || host || '/sm.xml' || chr(10)
                   ELSE 'User-agent: mybot' || chr(10) || 'Disallow: /' ||
                     chr(10) || 'User-agent: *' || chr(10) ||
                     'Crawl-delay: 7' || chr(10)
                 END AS robots_txt,
                 '<urlset><url><loc>https://' || host ||
                 '/p?a=1&amp;b=2</loc><lastmod>2024-01-0' ||
                 CAST(doc_id % 9 + 1 AS VARCHAR) ||
                 '</lastmod></url><url><loc> https://' || host ||
                 '/q </loc></url><url><priority>1</priority></url></urlset>'
                   AS sitemap_xml
          FROM hosts
        ), parsed AS (
          SELECT host, {_sd_delay} AS crawl_delay,
                 coalesce(array_to_string({_sd_maps}, ','), '') AS sitemaps,
                 UNNEST({_sd_entries}) AS e
          FROM dim
        )
        SELECT host, crawl_delay, sitemaps,
               e.loc AS loc, e.lastmod AS lastmod
        FROM parsed ORDER BY host, loc
    """
    from verde_spark.operators.dsir import (
        EXAMPLE_DSIR,
        dsir_bucket_ids_sql,
    )

    _dsir_ids = dsir_bucket_ids_sql("text", EXAMPLE_DSIR.num_buckets)
    oracles["dsir_weights"] = f"""
        SELECT doc_id,
               len({_dsir_ids})::INT AS n_grams,
               {EXAMPLE_DSIR.weight_sql("text")} AS dsir_weight
        FROM documents WHERE doc_id < 400 ORDER BY doc_id
    """
    from verde_spark.functions.tfidf import (
        EXAMPLE_TFIDF,
        reference_sparse_tfidf,
        sparse_cosine_literal_sql,
    )

    _tq_idx, _tq_val = reference_sparse_tfidf(_TFIDF_QUERY_TEXT, EXAMPLE_TFIDF)
    _t_vec = EXAMPLE_TFIDF.sparse_sql("text")
    _t_score = sparse_cosine_literal_sql(_t_vec, _tq_idx, _tq_val)
    oracles["tfidf_scores"] = f"""
        SELECT doc_id,
               len(({_t_vec}).indices)::INT AS n_terms,
               {_t_score} AS score
        FROM documents
        WHERE doc_id < 300 AND text IS NOT NULL ORDER BY doc_id
    """
    _blocked = blocked_sql("url", ["site0.com", "sub2.site1.com"])
    oracles["blocklist_filter"] = f"""
        WITH pages AS (
          SELECT doc_id,
                 'https://u@sub' || CAST(doc_id % 3 AS VARCHAR)
                   || '.site' || CAST(doc_id % 5 AS VARCHAR)
                   || '.com:443/p' || CAST(doc_id AS VARCHAR) AS url
          FROM documents WHERE doc_id < 300
        )
        SELECT doc_id, url FROM pages
        WHERE NOT ({_blocked}) ORDER BY doc_id
    """
    _anchor_pages_sql = """
        SELECT 'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.com/p'
                 || CAST(doc_id AS VARCHAR) AS url,
               '<html><body><a href="https://site'
                 || CAST((doc_id + 1) % 7 AS VARCHAR)
                 || '.com/x">Read   ABOUT site' || CAST((doc_id + 1) % 7 AS VARCHAR)
                 || '</a><a href="/local"> home </a>'
                 || '<a href="https://site' || CAST((doc_id + 1) % 7 AS VARCHAR)
                 || '.com/x"><b>skip</b></a>'
                 || '<a href="https://site' || CAST((doc_id + 1) % 7 AS VARCHAR)
                 || '.com/x"></a></body></html>' AS html_str
        FROM documents WHERE doc_id < 300
    """
    oracles["anchor_topk"] = (
        top_anchor_texts_sql(_anchor_pages_sql, 2)
        + " ORDER BY dst_domain, rank"
    )
    from verde_spark.functions.text import gopher_signals_sql

    _gs = gopher_signals_sql("txt")
    oracles["gopher_signals"] = f"""
        WITH src AS (
          SELECT doc_id,
                 text
                   || CASE WHEN doc_id % 3 = 0
                           THEN chr(10) || '- bullet one' || chr(10) || '* bullet two'
                           ELSE '' END
                   || CASE WHEN doc_id % 5 = 0
                           THEN chr(10) || 'trailing off...' ELSE '' END
                   || CASE WHEN doc_id % 7 = 0 THEN ' ### #' ELSE '' END AS txt
          FROM documents WHERE doc_id < 400
        )
        SELECT doc_id,
               {_gs["n_words"]} AS n_words,
               round({_gs["mean_word_len"]}, 9) + 0.0 AS mean_word_len,
               round({_gs["symbol_word_ratio"]}, 9) + 0.0 AS symbol_word_ratio,
               round({_gs["bullet_line_ratio"]}, 9) + 0.0 AS bullet_line_ratio,
               round({_gs["ellipsis_line_ratio"]}, 9) + 0.0 AS ellipsis_line_ratio,
               round({_gs["alpha_word_ratio"]}, 9) + 0.0 AS alpha_word_ratio
        FROM src ORDER BY doc_id
    """
    from verde_spark.functions.text import c4_signals_sql

    _cs = c4_signals_sql("txt")
    oracles["c4_signals"] = f"""
        WITH src AS (
          SELECT doc_id,
                 text
                   || CASE WHEN doc_id % 2 = 0
                           THEN chr(10) || 'This planted line ends properly.'
                           ELSE '' END
                   || CASE WHEN doc_id % 3 = 0
                           THEN chr(10) || 'too short.' ELSE '' END
                   || CASE WHEN doc_id % 5 = 0
                           THEN chr(10) || 'Please enable Javascript to continue here.'
                           ELSE '' END
                   || CASE WHEN doc_id % 7 = 0
                           THEN chr(10) || 'Lorem ipsum dolor sit amet today.'
                           ELSE '' END
                   || CASE WHEN doc_id % 11 = 0 THEN ' {{' ELSE '' END AS txt
          FROM documents WHERE doc_id < 400
        )
        SELECT doc_id,
               {_cs["n_lines"]} AS n_lines,
               {_cs["n_kept_lines"]} AS n_kept_lines,
               {_cs["n_sentences"]} AS n_sentences,
               {_cs["has_lorem_ipsum"]} AS has_lorem_ipsum,
               {_cs["has_curly_brace"]} AS has_curly_brace
        FROM src ORDER BY doc_id
    """
    oracles["span_dedup"] = """
        WITH src AS (
          SELECT doc_id,
                 text
                   || CASE WHEN doc_id % 4 = 0
                      THEN ' Subscribe to our newsletter today! Your privacy matters'
                           || ' to us. Unsubscribe at any time with one click.'
                      ELSE '' END
                   || ' Unique closing thought number ' || CAST(doc_id AS VARCHAR) || '.'
                 AS t
          FROM documents WHERE doc_id < 300
        ),
        s AS (
          SELECT doc_id,
                 list_transform(regexp_extract_all(t, '[^.!?]+[.!?]+'),
                                x -> trim(x)) AS sents
          FROM src
        ),
        occ AS (
          SELECT doc_id, u.e['spos'] AS spos, u.e['span'] AS span
          FROM (
            SELECT doc_id,
                   list_transform(range(1, greatest(len(sents) - 1, 1)),
                                  i -> {'spos': i - 1,
                                        'span': array_to_string(sents[i:i+2], ' ')}) AS lst
            FROM s
          ), UNNEST(lst) AS u(e)
        ),
        marked AS (
          SELECT doc_id, spos,
                 row_number() OVER (PARTITION BY span ORDER BY doc_id, spos) AS rn,
                 count(*) OVER (PARTITION BY span) AS cnt
          FROM occ
        ),
        removals AS (
          SELECT DISTINCT doc_id, spos + dd.d AS pos
          FROM marked, UNNEST([0, 1, 2]) AS dd(d)
          WHERE cnt >= 2 AND rn > 1
        ),
        sent_pos AS (
          SELECT doc_id, u.e['pos'] AS pos, u.e['sent'] AS sent
          FROM (
            SELECT doc_id,
                   list_transform(range(len(sents)),
                                  i -> {'pos': i, 'sent': sents[i+1]}) AS lst
            FROM s
          ), UNNEST(lst) AS u(e)
        ),
        kept AS (
          SELECT sp.doc_id, sp.pos, sp.sent
          FROM sent_pos sp
          ANTI JOIN removals r ON sp.doc_id = r.doc_id AND sp.pos = r.pos
        ),
        rebuilt AS (
          SELECT doc_id, string_agg(sent, ' ' ORDER BY pos) AS text_spandedup
          FROM kept GROUP BY doc_id
        )
        SELECT src.doc_id, coalesce(rebuilt.text_spandedup, '') AS text_spandedup
        FROM src LEFT JOIN rebuilt USING (doc_id)
        ORDER BY src.doc_id
    """

    from verde_spark.functions.charlm import (
        ENGLISH_LM as _LM,
        charlm_counts_sql as _counts_sql,
        charlm_logprob_sql as _lp_sql,
        charlm_norm_sql as _norm_sql,
    )
    from verde_spark.operators.search import bm25_sql as _bm25_sql

    oracles["bm25_topk"] = _bm25_sql(["data", "learning", "model"], k=10)
    oracles["charlm_counts"] = _counts_sql() + " ORDER BY gram"
    oracles["charlm_logprob"] = f"""
        WITH s AS (
          SELECT doc_id, {_norm_sql("text")} AS t FROM documents
        )
        SELECT doc_id, {_lp_sql(_LM)} AS logprob
        FROM s ORDER BY doc_id
    """

    from verde_spark.functions.wordlm import (
        ENGLISH_WORD_LM as _WLM,
        word_bigram_counts_sql as _wbc_sql,
        word_logprob_sql as _wlp_sql,
    )

    oracles["word_lm_logprob"] = f"""
        SELECT doc_id, {_wlp_sql(_WLM, "text")} AS wlm_logprob
        FROM documents ORDER BY doc_id
    """
    oracles["word_lm_counts"] = _wbc_sql(_WLM) + " ORDER BY gram"

    from verde_spark.functions.langid import lang_id_ngram_sql as _lid_sql

    oracles["lang_id_ngram"] = (
        _lid_sql("SELECT doc_id, text FROM documents", "text")
        + " ORDER BY doc_id"
    )

    from verde_spark.operators.clustering import kmeans_sql as _kmeans_sql

    oracles["kmeans_assign"] = _kmeans_sql(k=8, iterations=3, dim=64)

    from verde_spark.operators.mixing import (
        repeat_weighted_sql as _repeat_sql,
        sample_to_mix_sql as _mix_sql,
    )

    oracles["sample_mix"] = (
        _mix_sql(
            "SELECT * FROM documents", "lang",
            {"en": 0.5, "de": 0.2, "fr": 0.1}, 200,
            id_col="doc_id", select_cols="doc_id, lang",
        )
        + " ORDER BY doc_id"
    )
    from verde_spark.operators.mixing import (
        temperature_mix_sql as _temp_sql,
    )

    oracles["temperature_mix"] = (
        _temp_sql(
            "SELECT * FROM documents", "lang", 120,
            alpha=0.3, id_col="doc_id", select_cols="doc_id, lang",
        )
        + " ORDER BY doc_id"
    )
    from verde_spark.operators.bloom import (
        bloom_contains_sql as _bloom_c_sql,
        build_bloom_sql as _bloom_b_sql,
    )

    oracles["bloom_gate"] = (
        _bloom_c_sql(
            "SELECT doc_id, text FROM documents",
            _bloom_b_sql(
                "SELECT text FROM documents WHERE doc_id % 2 = 0",
                "text", num_bits=4096, num_hashes=5,
            ),
            "text", num_bits=4096, num_hashes=5, select_cols="doc_id",
        )
        + " ORDER BY doc_id"
    )
    from verde_spark.functions.normalize import normalize_sql as _norm_sql

    _nexpr = _norm_sql("text")
    oracles["normalized_dedup"] = (
        f"SELECT doc_id, {_nexpr} AS norm_text FROM ("
        f"  SELECT doc_id, text, row_number() OVER ("
        f"    PARTITION BY {_nexpr} ORDER BY doc_id) AS rn"
        f"  FROM documents"
        f") WHERE rn = 1 ORDER BY doc_id"
    )
    oracles["repeat_epochs"] = (
        _repeat_sql(
            "SELECT * FROM documents", "lang",
            {"en": 2.4, "de": 0.5, "fr": 0.0},
            id_col="doc_id", select_cols="doc_id, lang",
        )
        + " ORDER BY doc_id, epoch"
    )

    from verde_spark.functions.vocab import (
        build_vocab_sql as _vocab_sql,
        encode_tokens_sql as _encode_sql,
    )

    oracles["vocab_topk"] = _vocab_sql(size=100) + " ORDER BY id"
    _enc = _encode_sql("SELECT * FROM documents", _vocab_sql(size=100))
    oracles["encode_tokens"] = f"""
        SELECT doc_id,
               array_to_string(token_ids, ',') AS ids_csv
        FROM ({_enc}) ORDER BY doc_id
    """

    from verde_spark.functions.bpe import EXAMPLE_BPE as _BPE

    oracles["bpe_encode"] = f"""
        SELECT doc_id,
               array_to_string({_BPE.encode_sql('text')}, ' ') AS toks_s
        FROM documents WHERE text IS NOT NULL ORDER BY doc_id
    """

    from verde_spark.operators.mixing import (
        _hash_sql as _mixh,
        perplexity_buckets_sql as _ppl_sql,
    )

    oracles["perplexity_buckets"] = (
        _ppl_sql(
            "SELECT doc_id, lang, text FROM documents",
            lang_col="lang",
            id_col="doc_id",
        )
        + " ORDER BY doc_id"
    )

    from verde_spark.operators.crawl import crawl_schedule_sql as _sched_sql

    oracles["crawl_schedule"] = (
        _sched_sql(
            "SELECT 'https://site' || CAST(doc_id % 7 AS VARCHAR)"
            " || '.com/d' || CAST(doc_id AS VARCHAR) AS url,"
            " CAST(doc_id % 5 AS DOUBLE) AS priority, doc_id"
            " FROM documents",
            "SELECT 'site0.com' AS host, CAST('2.0' AS DOUBLE) AS crawl_delay"
            " UNION ALL SELECT 'site1.com', CAST('0.5' AS DOUBLE)"
            " UNION ALL SELECT 'site2.com', CAST('10.0' AS DOUBLE)",
            priority_col="priority",
            default_delay=1.0,
            hash_sql=_mixh("doc_id"),
        )
        + " ORDER BY url"
    )

    from verde_spark.operators.dsir import dsir_bucket_ids_sql as _ids_sql
    from verde_spark.operators.quality import EXAMPLE_QUALITY as _QLR

    _q_ids = _ids_sql("text", _QLR.num_buckets)
    oracles["quality_lr"] = f"""
        SELECT doc_id,
               len({_q_ids})::INT AS n_grams,
               {_QLR.score_sql("text")} AS lr_score
        FROM documents WHERE text IS NOT NULL ORDER BY doc_id
    """

    oracles["quality_auc"] = f"""
        WITH scored AS (
          SELECT {_QLR.score_sql("text")} AS s,
                 CASE WHEN length(text) > 200 THEN 1 ELSE 0 END AS y
          FROM documents WHERE text IS NOT NULL
        ),
        g AS (
          SELECT s, sum(y)::BIGINT AS pos,
                 (count(*) - sum(y))::BIGINT AS neg
          FROM scored GROUP BY s
        ),
        p AS (
          SELECT pos, neg,
                 coalesce(sum(neg) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0)::BIGINT AS below
          FROM g
        )
        SELECT sum(pos * (2 * below + neg))::BIGINT AS num2,
               sum(pos)::BIGINT AS n_pos,
               sum(neg)::BIGINT AS n_neg,
               sum(pos * (2 * below + neg))::DOUBLE
                 / (2.0 * sum(pos)::DOUBLE * sum(neg)::DOUBLE) AS auc
        FROM p
    """

    _sd_dot = (
        "list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 65), "
        "j -> a.e[j] * b.e[j])), (x, y) -> x + y)"
    )
    _sd_nrm = (
        "sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform("
        "range(1, 65), j -> {s}.e[j] * {s}.e[j])), (x, y) -> x + y))"
    )
    _sd_cos = f"{_sd_dot} / ({_sd_nrm.format(s='a')} * {_sd_nrm.format(s='b')})"
    oracles["semdedup_pairs"] = f"""
        WITH cent AS (
          SELECT list(list_transform(embedding, x -> x::DOUBLE)
                      ORDER BY vec_id) AS cs
          FROM embeddings WHERE vec_id < 4
        ),
        allv AS (
          SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
          FROM embeddings
          UNION ALL
          SELECT vec_id + 1000000, list_transform(embedding, x -> x::DOUBLE)
          FROM embeddings WHERE vec_id < 10
        ),
        assigned AS (
          SELECT vec_id, e,
                 (list_position(dists, list_aggregate(dists, 'min')) - 1)::INT
                   AS cluster
          FROM (
            SELECT vec_id, e,
                   list_transform((SELECT cs FROM cent), cv ->
                     list_reduce(list_prepend(0.0::DOUBLE,
                       list_transform(range(1, 65),
                         j -> (e[j] - cv[j]) * (e[j] - cv[j]))),
                       (p, q) -> p + q)) AS dists
            FROM allv
          )
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cluster,
               round({_sd_cos}, 6) + 0.0 AS cosine
        FROM assigned a JOIN assigned b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE {_sd_cos} >= 0.99 AND b.vec_id = a.vec_id + 1000000
        ORDER BY id_a
    """

    oracles["novel_docs"] = """
        SELECT n.doc_id FROM documents n
        WHERE n.doc_id >= 250 AND n.text IS NOT NULL
          AND NOT EXISTS (
            SELECT 1 FROM documents o
            WHERE o.doc_id < 250 AND o.text IS NOT NULL
              AND o.text = n.text
          )
        ORDER BY n.doc_id
    """

    return oracles


def oracle_sql() -> dict[str, str]:
    oracles = _oracles()
    return {name: oracles[name] for name in queries()}


def corpus_oracle_sql() -> dict[str, str]:
    """DuckDB twins for :func:`corpus_queries`."""
    oracles = _oracles(corpus=True)
    # pagerank_hosts has no SQL twin (power iteration); its checks are
    # in tests/test_linkgraph.py
    return {name: oracles[name] for name in corpus_queries() if name in oracles}
