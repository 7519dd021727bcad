#!/usr/bin/env python
"""Attribute streaming_hillshade wall time: per-micro-batch breakdown
from StreamingQueryProgress (addBatch/getBatch/commit + state-store
metrics), so the batch-vs-stream overhead (VERDICT r4 item 3) is a
measured number per phase, not a total.

Usage: python tools/stream_profile.py [--rocksdb] [--partitions N]
                                      [--triggers N]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rocksdb", action="store_true")
    ap.add_argument("--partitions", type=int, default=None,
                    help="spark.sql.shuffle.partitions for the stream")
    ap.add_argument("--triggers", type=int, default=4)
    ap.add_argument("--cpus", type=int, default=None,
                    help="local[N] width (default: the host's cores)")
    args = ap.parse_args()

    from bench import WORLD_BY_SF, completed_stages, ensure_synth_table
    from demeton_spark import codec, streaming
    from demeton_spark.session import build_session

    extra = {"spark.ui.enabled": "true"}
    if args.rocksdb:
        extra["spark.sql.streaming.stateStore.providerClass"] = (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
    spark = build_session(
        app_name="stream-profile",
        master=f"local[{args.cpus}]" if args.cpus else None,
        extra_conf=extra)
    if args.partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(args.partitions))
    spec = WORLD_BY_SF[0.01]
    images_path = ensure_synth_table(spark, spec, 0.01)
    nfiles = len(glob.glob(os.path.join(images_path, "part-*")))
    per_trigger = max(1, nfiles // args.triggers)
    bounds = (spec.lon0, spec.lat0,
              spec.lon0 + spec.n_tiles_x - 1, spec.lat0 + spec.n_tiles_y - 1)
    ckpt = tempfile.mkdtemp(prefix="stream_prof_ckpt_")
    # stages already done (a first run's synthetic-table write) are not
    # the stream's
    before = {(st["stageId"], st["attemptId"])
              for st in completed_stages(spark)}
    try:
        t0 = time.time()
        stream_in = streaming.read_images_stream(
            spark, images_path, max_files_per_trigger=per_trigger)
        shaded = streaming.streaming_hillshade(
            stream_in, spec.tile_size, bounds,
            png_level=codec.RGBA_PNG_LEVEL_FAST)
        q = (shaded.writeStream.format("memory").queryName("prof")
             .outputMode("append").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        wall = time.time() - t0
        n = spark.table("prof").count()
        batches = []
        for p in q.recentProgress:
            d = p.get("durationMs", {})
            so = (p.get("stateOperators") or [{}])[0]
            batches.append({
                "batchId": p.get("batchId"),
                "rows": p.get("numInputRows"),
                "addBatch_ms": d.get("addBatch"),
                "getBatch_ms": d.get("getBatch"),
                "latestOffset_ms": d.get("latestOffset"),
                "queryPlanning_ms": d.get("queryPlanning"),
                "walCommit_ms": d.get("walCommit"),
                "commitOffsets_ms": d.get("commitOffsets"),
                "triggerExecution_ms": d.get("triggerExecution"),
                "stateCommit_ms": so.get("commitTimeMs"),
                "stateRowsTotal": so.get("numRowsTotal"),
                "stateMemUsedBytes": so.get("memoryUsedBytes"),
            })
        stages = [{
            "stage": st["stageId"],
            "name": st["name"].split("\n")[0][:60],
            "tasks": st["numCompleteTasks"],
            "run_s": round(st.get("executorRunTime", 0) / 1e3, 2),
            "cpu_s": round(st.get("executorCpuTime", 0) / 1e9, 2),
        } for st in completed_stages(spark)
            if (st["stageId"], st["attemptId"]) not in before]
        out = {
            "wall_sec": round(wall, 3),
            "stages": sorted(stages, key=lambda s: -s["run_s"])[:10],
            "tiles": n,
            "rocksdb": args.rocksdb,
            "partitions": args.partitions
            or int(spark.conf.get("spark.sql.shuffle.partitions")),
            "triggers": len(batches),
            "sum_triggerExecution_s": round(
                sum(b["triggerExecution_ms"] or 0 for b in batches) / 1e3, 3),
            "batches": batches,
        }
        print(json.dumps(out, indent=1))
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
