#!/usr/bin/env python
"""Cluster entry point for the training-data dedup pipeline.

Run on a cluster (the package ships as a zip via --py-files):

    cd /root/repo && python -m zipfile -c /tmp/demeton_spark.zip demeton_spark
    spark-submit --master <cluster> \
        --py-files /tmp/demeton_spark.zip \
        jobs/dedup_job.py \
        --input  s3://.../documents_parquet \
        --output s3://.../dedup_out

Pipeline (all stages are the oracle-checked contract operators):
  1. multi-band MinHash LSH near-dup pairs (8 bands x 2 rows,
     exact-Jaccard verified) -> <output>/pairs
  2. connected-component cluster assignment (min-label propagation,
     finishing with alternating-star when the graph's diameter is
     large) -> <output>/clusters
  3. canonical keep list (best quality per cluster) -> <output>/keep
  4. optional candidate-recall audit vs exact Jaccard on a bounded
     doc_id slice (--with-recall) -> printed in the JSON summary

Prints ONE JSON summary line: row counts per stage, duplicate ratio,
and recall buckets when requested.

Locally (no cluster in this sandbox): point --input at
/root/testdata/sf0.01 (the documents.parquet directory's parent) or any
directory containing documents.parquet.
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
    ap.add_argument("--input", required=True,
                    help="directory containing documents.parquet")
    ap.add_argument("--output", default=None,
                    help="optional parquet sink root (pairs/, clusters/, "
                         "keep/ subdirs); omit for a dry-run summary")
    ap.add_argument("--with-recall", action="store_true",
                    help="also compute the per-bucket LSH candidate "
                         "recall audit on a bounded doc slice")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from demeton_spark import queries as Q
    from demeton_spark.graph import connected_components
    from demeton_spark.session import build_session

    spark = build_session(app_name="dedup-job", master=args.master)
    t0 = time.time()

    n_docs = spark.read.parquet(f"{args.input}/documents.parquet").count()
    pairs = Q.q_doc_near_dup_pairs(spark, args.input)
    if args.output:
        pairs.write.mode("overwrite").parquet(f"{args.output}/pairs")
        pairs = spark.read.parquet(f"{args.output}/pairs")
    n_pairs = pairs.count()

    docs = spark.read.parquet(f"{args.input}/documents.parquet").select(
        F.col("doc_id").cast("bigint").alias("doc")
    )
    labels = connected_components(
        docs, pairs.select("doc_a", "doc_b"), "doc", ("doc_a", "doc_b")
    )
    clusters = labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    if args.output:
        clusters.write.mode("overwrite").parquet(f"{args.output}/clusters")
        clusters = spark.read.parquet(f"{args.output}/clusters")
    n_clusters = clusters.select("cluster_id").distinct().count()

    quality = Q.q_doc_lang_quality(spark, args.input).select(
        "doc_id", "quality"
    )
    best = F.struct(F.col("quality"), (-F.col("doc_id")).alias("neg_id"))
    keep = (
        clusters.join(quality, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.max_by("doc_id", best).alias("keep_id"),
            F.count("*").cast("bigint").alias("n_docs"),
        )
    )
    if args.output:
        keep.write.mode("overwrite").parquet(f"{args.output}/keep")
        keep = spark.read.parquet(f"{args.output}/keep")
    n_keep = keep.count()

    summary = {
        "metric": "dedup pipeline (LSH pairs -> clusters -> keep list)",
        "n_docs": n_docs,
        "n_near_dup_pairs": n_pairs,
        "n_clusters": n_clusters,
        "n_keep": n_keep,
        "duplicate_ratio": round(n_docs / max(n_keep, 1), 4),
        "sec": round(time.time() - t0, 2),
    }
    if args.with_recall:
        summary["recall_buckets"] = {
            r["jaccard_bucket"]: {
                "n_exact": r["n_exact"],
                "n_candidates": r["n_candidates"],
                "recall": r["recall"],
            }
            for r in Q.q_doc_near_dup_recall(spark, args.input).collect()
        }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
