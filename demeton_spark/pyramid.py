"""DEM pyramid construction: level L tiles from 2×2 level L-1 children.

The reference builds higher levels recursively per tile on demand
(/root/reference/Demeton/Srtm/Fetch.fs:194-253); at scale this becomes
one batch job per level — an equi-join of children onto their parent key
(floor(x/2), floor(y/2); Downsampling.fs:37-61) and a 2×2-average kernel
(Downsampling.fs:67-130) — each level checkpointable before the next.
The join is the engine's own tile reduce: each child is a raw "B" part
of its parent, the parents are dealt like every other tile
(``engine.reduce_tiles``), and ``engine.compose_padded`` stitches the
children before the kernel runs.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from .engine import _schema, compose_padded, reduce_tiles
from .kernels import downsample_average_2x2
from .tiles import DEM_HEIGHT_NONE

PYRAMID_SCHEMA = (
    "level int, tile_x int, tile_y int, heights binary, "
    "missing_px long, height_sum long"
)
_PYRAMID_SPARK = _schema(PYRAMID_SCHEMA)
_PYRAMID_ARROW = to_arrow_schema(_PYRAMID_SPARK)


def build_pyramid_level(child_tiles: DataFrame, tile_size: int, level: int) -> DataFrame:
    """One pyramid step: child tiles (level-1) → parent tiles at ``level``.

    ``child_tiles`` needs columns (tile_x, tile_y, heights); heights are
    int16 LE south-up ``tile_size``² blocks.  Each child becomes a raw
    "B" part of its parent at block ``(x − 2·parent_x, y − 2·parent_y)``;
    a parent's ≤4 children stitch into its 2·ts mosaic (missing
    children stay DEM_HEIGHT_NONE), which is 2×2-average-downsampled
    (missing-aware, half-to-even).
    """
    ts = tile_size
    parent_x = F.floor(F.col("tile_x") / 2).cast("int")
    parent_y = F.floor(F.col("tile_y") / 2).cast("int")
    parts = child_tiles.select(
        parent_x.alias("tile_x"), parent_y.alias("tile_y"),
        F.lit("B").alias("part"),
        (F.col("tile_x") - 2 * parent_x).alias("bx"),
        (F.col("tile_y") - 2 * parent_y).alias("by"),
        F.lit("").alias("image_id"), F.lit(ts).alias("w"),
        F.lit(ts).alias("h"), F.lit("raw").alias("fmt"),
        F.col("heights").alias("data"),
    )

    def downsample(tile_x: int, tile_y: int, children) -> pa.Table:
        parent = downsample_average_2x2(compose_padded(children, 2 * ts, 0)[0])
        ok = parent != DEM_HEIGHT_NONE
        return pa.Table.from_pydict({
            "level": [level],
            "tile_x": [tile_x],
            "tile_y": [tile_y],
            "heights": [parent.tobytes()],
            "missing_px": [int(np.count_nonzero(~ok))],
            "height_sum": [int(parent[ok].astype(np.int64).sum())],
        }, schema=_PYRAMID_ARROW)

    return reduce_tiles(parts, downsample, _PYRAMID_SPARK)


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
