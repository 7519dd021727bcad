#!/usr/bin/env python
"""Cluster entry point for the hillshade pipeline.

Run on a cluster (the package ships as a zip via --py-files):

    cd /root/repo && python -m zipfile -c /tmp/demeton_spark.zip demeton_spark
    spark-submit --master <cluster> \
        --py-files /tmp/demeton_spark.zip \
        jobs/hillshade_job.py \
        --input  s3://…/images_parquet \
        --output s3://…/shaded_tiles \
        --tile-size 3600 --script 'elecolor|+igor'

The job is idempotent/resumable: completed tile keys in --output are
anti-joined out on restart (per-tile checkpoint manifest), and the run
summary prints per-partition lineage metrics (tiles, blocks consumed,
shaded/total pixels).  Duplicate-heavy (skewed) tiles need no flag:
each tile's group decodes only the winning block per position, and the
tiles are dealt over one shade task per core by grid position, so a
run of neighbouring heavy tiles spreads over all tasks.

Locally (no cluster in this sandbox) the same file runs under
``python jobs/hillshade_job.py --synthetic sf0.01`` using the
deterministic synthetic world.
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
    ap.add_argument("--input", help="images parquet path")
    ap.add_argument("--output", required=True, help="shaded-tile sink path")
    ap.add_argument("--tile-size", type=int, default=3600)
    ap.add_argument("--script", default="elecolor|+igor")
    ap.add_argument("--clip-polygon", default=None,
                    help="lon1,lat1;lon2,lat2;... — clip the raster to "
                         "this polygon (bbox tile pruning + per-pixel PIP)")
    ap.add_argument("--prefilter", default=None,
                    help="height prefilter script, e.g. 'blur' or "
                         "'sharpen(amount=1.5)' (widens the halo)")
    ap.add_argument("--shade-partitions", type=int, default=0,
                    help="reduce tasks the tiles are dealt over "
                         "(default one per core)")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--synthetic", metavar="SF",
                    help="generate a synthetic world instead of --input "
                         "(local testing): sf0.001|sf0.01|sf0.1")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from demeton_spark.engine import run_hillshade
    from demeton_spark.session import build_session

    spark = build_session(
        app_name="hillshade-job", master=args.master,
        # the hillshade pipeline's UDF inputs are block-granular (~KB
        # rows): larger Arrow batches amortize per-batch overhead
        extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "512"},
    )
    t0 = time.time()
    if args.synthetic:
        from demeton_spark.synth import WorldSpec, images_df

        n = {"sf0.001": 2, "sf0.01": 5, "sf0.1": 14}.get(args.synthetic, 2)
        spec = WorldSpec(lon0=0, lat0=40, n_tiles_x=n, n_tiles_y=n,
                         tile_size=600, block_size=100)
        images = images_df(spark, spec)
        tile_size = spec.tile_size
    else:
        if not args.input:
            ap.error("--input or --synthetic is required")
        images = spark.read.parquet(args.input)
        tile_size = args.tile_size

    clip = None
    if args.clip_polygon:
        clip = [
            tuple(float(c) for c in pt.split(","))
            for pt in args.clip_polygon.split(";") if pt
        ]
    shaded = run_hillshade(
        spark,
        images,
        tile_size,
        script=args.script,
        output_dir=args.output,
        resume=not args.no_resume,
        clip_polygon=clip,
        prefilter=args.prefilter,
        shade_partitions=args.shade_partitions or None,
    )
    summary = shaded.agg(
        F.count("*").alias("tiles"),
        F.sum("n_blocks").alias("blocks_consumed"),
        F.sum("shaded_px").alias("shaded_px"),
        F.sum("total_px").alias("total_px"),
    ).collect()[0]
    print(json.dumps({
        "tiles": summary["tiles"],
        "blocks_consumed": int(summary["blocks_consumed"] or 0),
        "shaded_px": int(summary["shaded_px"]),
        "total_px": int(summary["total_px"]),
        "megapixels": round(summary["total_px"] / 1e6, 2),
        "wall_sec": round(time.time() - t0, 2),
        "output": args.output,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
