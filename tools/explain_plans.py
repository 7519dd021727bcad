"""Dump ``explain('formatted')`` for the headline queries to PLANS.md.

Plan-quality evidence (SURVEY.md §4): parquet scans must show pushed
filters / pruned schemas, small dimension joins must broadcast, and the
relational queries should sit inside WholeStageCodegen spans.  Driver-
only (no job execution).

    PYTHONPATH=/root/repo python tools/explain_plans.py
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PLAN_QUERIES = [
    "tile_assign_events",
    "tile_metadata_join",
    "polygon_clip",
    "pricing_summary",
    "top_revenue_orders",
    "doc_near_dup_pairs",
    "doc_near_dup_recall",
    "doc_dedup_keep_best",
    "doc_simhash_recall",
    "image_phash_near_dup",
    "image_phash_dedup",
    "pair_dedup_clusters",
    "image_dhash",
    "doc_fingerprint",
    "knn_ivf_bucketed",
    "emb_near_dup_pairs",
    "geocell_assign",
    "geocell_rollup",
    "knn_ivf_kmeans",
    "geo_knn_cells",
    "geo_points_in_polygons",
    "geo_zonal_stats",
    "geo_point_elevation",
    "geo_polygon_overlaps",
    "doc_repetition",
    "doc_decontaminate",
    "doc_filter_pipeline",
    "doc_stratified_sample",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    from demeton_spark.queries import _CQ, QUERIES
    from demeton_spark.session import build_session

    spark = build_session(app_name="explain", master="local[2]")
    out = ["# Physical plans (explain 'formatted') — headline queries\n"]
    out.append(
        "Generated by tools/explain_plans.py. Checkpoints: `PushedFilters`"
        " / `ReadSchema` on scans (pushdown + pruning), `BroadcastHashJoin`"
        " on dimension joins, `WholeStageCodegen` spans around the"
        " relational operators.\n"
    )
    for name in PLAN_QUERIES:
        df = QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"## {name}\n\n```\n{buf.getvalue().strip()}\n```\n")

    # the hillshade pipeline as run_hillshade builds it: the plan must
    # show exactly ONE full-data Exchange (the tile deal of
    # engine.reduce_tiles) feeding FlatMapGroupsInArrow — assembled
    # tiles never re-shuffle
    from demeton_spark.engine import run_hillshade
    from demeton_spark.synth import images_df

    shaded = run_hillshade(spark, images_df(spark, _CQ), _CQ.tile_size,
                           script="elecolor|+igor")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        shaded.explain("formatted")
    plan = buf.getvalue().strip()
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    out.append(
        "## hillshade pipeline (fused single-shuffle topology)\n\n"
        f"Exchange count: **{n_exchanges}** — the block/strip union "
        "reaches one `shufflepartitionidpassthrough` exchange that deals "
        "each destination tile to its reduce task by grid position; "
        "assembly, halo padding, shading and PNG encode run inside the "
        "single FlatMapGroupsInArrow that follows.\n\n"
        f"```\n{plan}\n```\n"
    )
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
