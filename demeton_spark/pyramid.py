"""DEM pyramid construction: level L tiles from 2×2 level L-1 children.

The reference builds higher levels recursively per tile on demand
(/root/reference/Demeton/Srtm/Fetch.fs:194-253); at scale this becomes
one batch job per level — an equi-join of children onto their parent key
(floor(x/2), floor(y/2); Downsampling.fs:37-61) and a 2×2-average kernel
(Downsampling.fs:67-130) — each level checkpointable before the next.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .engine import tile_heights
from .kernels import downsample_average_2x2
from .tiles import DEM_HEIGHT_NONE

PYRAMID_SCHEMA = (
    "level int, tile_x int, tile_y int, heights binary, "
    "missing_px long, height_sum long"
)


def build_pyramid_level(child_tiles: DataFrame, tile_size: int, level: int) -> DataFrame:
    """One pyramid step: child tiles (level-1) → parent tiles at ``level``.

    ``child_tiles`` needs columns (tile_x, tile_y, heights); heights are
    int16 LE south-up ``tile_size``² blocks.  The groupBy key is the
    parent tile; each group merges ≤4 children positioned by coordinate
    parity, then 2×2-average-downsamples (missing-aware, half-to-even).
    """

    def downsample(pdf: pd.DataFrame) -> pd.DataFrame:
        ts = tile_size
        merged = np.full((2 * ts, 2 * ts), DEM_HEIGHT_NONE, dtype=np.int16)
        px = int(pdf["parent_x"].iloc[0])
        py = int(pdf["parent_y"].iloc[0])
        for cx, cy, buf in zip(pdf["tile_x"], pdf["tile_y"], pdf["heights"]):
            ox = (int(cx) - px * 2) * ts
            oy = (int(cy) - py * 2) * ts
            merged[oy : oy + ts, ox : ox + ts] = tile_heights(buf, ts)
        parent = downsample_average_2x2(merged)
        ok = parent != DEM_HEIGHT_NONE
        return pd.DataFrame(
            {
                "level": [level],
                "tile_x": [px],
                "tile_y": [py],
                "heights": [parent.tobytes()],
                "missing_px": [int(np.count_nonzero(~ok))],
                "height_sum": [int(parent[ok].astype(np.int64).sum())],
            }
        )

    with_parent = child_tiles.withColumn(
        "parent_x", F.floor(F.col("tile_x") / 2.0).cast("int")
    ).withColumn("parent_y", F.floor(F.col("tile_y") / 2.0).cast("int"))
    return with_parent.groupBy("parent_x", "parent_y").applyInPandas(
        downsample, schema=PYRAMID_SCHEMA
    )


def build_full_pyramid(
    tiles0: DataFrame, tile_size: int, max_level: int, checkpoint_dir: str | None = None
) -> dict[int, DataFrame]:
    """Levels 1..max_level, optionally checkpointing each level to parquet
    (resumability: each level is a narrow function of the previous one)."""
    spark = tiles0.sparkSession
    levels = {0: tiles0}
    current = tiles0
    for level in range(1, max_level + 1):
        nxt = build_pyramid_level(current, tile_size, level)
        if checkpoint_dir is not None:
            path = f"{checkpoint_dir}/level={level}"
            nxt.write.mode("overwrite").parquet(path)
            nxt = spark.read.parquet(path)
        levels[level] = nxt
        current = nxt
    return levels
