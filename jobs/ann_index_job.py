#!/usr/bin/env python
"""Cluster entry point: build the trained-IVF ANN index tables.

Run on a cluster (the package ships as a zip via --py-files):

    cd /root/repo && python -m zipfile -c /tmp/demeton_spark.zip demeton_spark
    spark-submit --master <cluster> \
        --py-files /tmp/demeton_spark.zip \
        jobs/ann_index_job.py \
        --input  s3://…/embeddings_parquet \
        --output s3://…/ann_index

Fits the deterministic quantized-Lloyd k-means model
(queries._km_fit) and writes the two tables SCALE.md's recipe names:

  <output>/kmeans_model/   — (cluster int, dim int, c double): the K·D
                             model, broadcast by every consumer
  <output>/ivf_lists/      — (cluster int, vec_id bigint, v array<double>),
                             PARTITIONED BY cluster: nprobe search reads
                             only the probed cluster directories

then demonstrates the probe path: reassigns every vector by reading
the WRITTEN model (not the in-memory fit) and verifies the partitioned
lists round-trip, printing a JSON summary with per-cluster sizes.

Locally: ``python jobs/ann_index_job.py --sf-dir /root/testdata/sf0.01
--output /tmp/ann``.
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
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                    help="directory holding embeddings.parquet")
    ap.add_argument("--output", required=True, help="index root path")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from demeton_spark.queries import _km_assign_col, _km_fit
    from demeton_spark.session import build_session

    spark = build_session(app_name="ann-index", master=args.master)
    t0 = time.time()
    centroids, emb = _km_fit(spark, args.sf_dir)

    model_rows = [
        (cluster, dim, float(c))
        for cluster, cent in enumerate(centroids)
        for dim, c in enumerate(cent)
    ]
    model_path = os.path.join(args.output, "kmeans_model")
    spark.createDataFrame(
        model_rows, "cluster int, dim int, c double"
    ).coalesce(1).write.mode("overwrite").parquet(model_path)

    lists_path = os.path.join(args.output, "ivf_lists")
    assigned = emb.select(
        _km_assign_col(F.col("v"), centroids).alias("cluster"), "vec_id", "v"
    )
    (
        assigned.repartition("cluster")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(lists_path)
    )

    # probe path: rebuild the model FROM THE WRITTEN TABLE and verify
    # the partitioned lists agree with a fresh assignment
    model = spark.read.parquet(model_path).collect()
    k = max(r["cluster"] for r in model) + 1
    d = max(r["dim"] for r in model) + 1
    rebuilt = [[0.0] * d for _ in range(k)]
    for r in model:
        rebuilt[r["cluster"]][r["dim"]] = r["c"]
    lists = spark.read.parquet(lists_path)
    mismatches = (
        lists.select(
            "cluster",
            _km_assign_col(F.col("v"), rebuilt).alias("re"),
        )
        .where(F.col("cluster") != F.col("re"))
        .count()
    )
    sizes = {
        str(r["cluster"]): r["n"]
        for r in lists.groupBy("cluster").agg(F.count("*").alias("n")).collect()
    }
    print(json.dumps({
        "output": args.output,
        "k": k,
        "dims": d,
        "n_vectors": int(sum(sizes.values())),
        "cluster_sizes": sizes,
        "reassignment_mismatches": int(mismatches),
        "sec": round(time.time() - t0, 3),
    }))
    spark.stop()
    if mismatches:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
