"""spark-submit entrypoint for the flagship pipeline (north rule: "run via
spark-submit --py-files on a multi-executor cluster").

Usage:
    spark-submit --py-files verde_spark.zip -m verde_spark ... # or
    spark-submit --py-files verde_spark.zip path/to/repo/verde_spark/__main__.py \\
        --input /data/pages_parquet        # or --synthesize N
        --output /data/grid_out            \\
        --spacing 0.05 --tile 1.0 --halo 0.5 --shape 400x400 \\
        --checkpoint /data/ckpt            # optional: resumable per-tile run

Reads the Common-Crawl-style page table (url, warc_ts, html, text, lang),
geotags from ``text`` (the column itself passes through byte-identically),
block-mean decimates per cell, solves the tiled biharmonic spline, writes
the regular grid as parquet, and prints one JSON metrics line.

The session is created with ``verde_spark.session.RECOMMENDED_CONF``
applied on top of whatever spark-submit provides (existing conf wins for
cluster-level settings; the AQE minPartitionSize fix is always set — see
PLANS.md §7).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="verde_spark")
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet dir of the page table")
    src.add_argument("--synthesize", type=int, help="generate N deterministic pages instead")
    ap.add_argument("--output", required=True, help="parquet dir for the output grid")
    ap.add_argument("--region", default=None, help="W,E,S,N (default: data bbox)")
    ap.add_argument("--spacing", type=float, default=0.05, help="block-mean decimation spacing")
    ap.add_argument("--tile", type=float, default=1.0, help="spline tile spacing")
    ap.add_argument("--halo", type=float, default=0.5, help="halo pad distance")
    ap.add_argument("--damping", type=float, default=1e-6)
    ap.add_argument("--shape", default="400x400", help="grid shape ROWSxCOLS")
    ap.add_argument("--checkpoint", default=None, help="per-tile checkpoint dir (resumable)")
    ap.add_argument(
        "--from-html", action="store_true",
        help="geotag from extract_text(html) instead of the stored text "
             "column (the north star's full extracted-text chain; both are "
             "pure projections and byte-equivalent on well-formed tables)",
    )
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from verde_spark import block_mean
    from verde_spark.geometry import get_region
    from verde_spark.session import RECOMMENDED_CONF
    from verde_spark.sources.pages import geotagged, synthesize_pages

    builder = SparkSession.builder.appName("verde_spark-flagship")
    for k, v in RECOMMENDED_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()

    t0 = time.time()
    if args.input:
        pages = spark.read.parquet(args.input)
    else:
        pages = synthesize_pages(spark, args.synthesize)

    pts = geotagged(pages, from_html=args.from_html).select(
        F.col("lon").alias("easting"), F.col("lat").alias("northing")
    )
    # flagship field: checkerboard of the geotag (deterministic, verifiable)
    pts = pts.withColumn(
        "scalars",
        F.lit(1000.0)
        * F.sin(F.lit(2 * 3.141592653589793 / 2.5) * F.col("easting"))
        * F.cos(F.lit(2 * 3.141592653589793 / 2.5) * F.col("northing")),
    )
    region = (
        tuple(float(x) for x in args.region.split(","))
        if args.region
        else get_region(pts)
    )
    shape = tuple(int(x) for x in args.shape.lower().split("x"))
    dec, _ = block_mean(pts, spacing=args.spacing, region=region, sort=False)

    if args.checkpoint:
        from verde_spark.operators.spline import spline_solve_grid_resumable

        grid = spline_solve_grid_resumable(
            dec, region=region, shape=shape, tile_spacing=args.tile,
            checkpoint_path=args.checkpoint,
            halo=args.halo, damping=args.damping,
            weight_col="weight_scalars", output_col="prediction",
        )
    else:
        from verde_spark.operators.spline import spline_solve_grid

        grid = spline_solve_grid(
            dec, region=region, shape=shape, tile_spacing=args.tile,
            halo=args.halo, damping=args.damping,
            weight_col="weight_scalars", output_col="prediction",
        )
    grid.write.mode("overwrite").parquet(args.output)
    n_nodes = spark.read.parquet(args.output).count()
    dt = time.time() - t0
    print(json.dumps({
        "grid_nodes": n_nodes,
        "region": list(region),
        "shape": list(shape),
        "sec": round(dt, 3),
        "executors": spark.sparkContext.defaultParallelism,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
