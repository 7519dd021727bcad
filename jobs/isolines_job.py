#!/usr/bin/env python
"""Cluster entry point for the isoline vector-export pipeline.

Run on a cluster (the package ships as a zip via --py-files):

    cd /root/repo && python -m zipfile -c /tmp/demeton_spark.zip demeton_spark
    spark-submit --master <cluster> \
        --py-files /tmp/demeton_spark.zip \
        jobs/isolines_job.py \
        --input  s3://…/dem_tiles_parquet \
        --output s3://…/isolines_geojson \
        --tile-size 3600 --levels 200,500,1000,2000

Reads a (tile_x, tile_y, heights) DEM tile table, runs marching
squares + chaining per tile at the requested height levels, and writes
newline-delimited GeoJSON LineString features partitioned by tile row
(bbox consumers prune whole directories).  Prints a JSON summary with
per-level chain counts.

Locally (no cluster in this sandbox) the same file runs under
``python jobs/isolines_job.py --synthetic sf0.001 --output /tmp/iso``
using the deterministic synthetic world.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="DEM tile parquet path "
                                    "(tile_x int, tile_y int, heights binary)")
    ap.add_argument("--output", required=True, help="GeoJSON sink path")
    ap.add_argument("--tile-size", type=int, default=3600)
    ap.add_argument("--levels", default="560,610,650",
                    help="comma-separated height levels")
    ap.add_argument("--synthetic", metavar="SF",
                    help="generate a synthetic world instead of --input "
                         "(local testing): sf0.001|sf0.01|sf0.1")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from demeton_spark.session import build_session
    from demeton_spark.vector_sink import (
        read_geojson_lines,
        tile_isolines_features,
        write_geojson_lines,
    )

    spark = build_session(app_name="isolines", master=args.master)
    t0 = time.time()
    tile_size = args.tile_size
    if args.synthetic:
        from demeton_spark.engine import assemble_tiles, parse_caption
        from demeton_spark.synth import WorldSpec, images_df

        side = {"sf0.001": 2, "sf0.01": 6, "sf0.1": 20}.get(args.synthetic, 2)
        spec = WorldSpec(
            lon0=13, lat0=45, n_tiles_x=side, n_tiles_y=side,
            tile_size=60, block_size=20,
        )
        tile_size = spec.tile_size
        tiles = assemble_tiles(
            parse_caption(images_df(spark, spec)), spec.tile_size
        ).select("tile_x", "tile_y", "heights")
    else:
        tiles = spark.read.parquet(args.input).select(
            "tile_x", "tile_y", "heights"
        )

    levels = [float(x) for x in args.levels.split(",") if x]
    feats = tile_isolines_features(tiles, tile_size, levels)
    write_geojson_lines(feats, args.output)

    back = read_geojson_lines(spark, args.output)
    per_level = {
        str(r["level"]): r["n"]
        for r in back.groupBy("level").agg(F.count("*").alias("n")).collect()
    }
    print(json.dumps({
        "output": args.output,
        "levels": levels,
        "chains_per_level": per_level,
        "n_features": int(sum(per_level.values())),
        "sec": round(time.time() - t0, 3),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
