"""Deterministic synthetic Iceberg-shaped image+caption table.

Shape is governed by BASELINE.json ``input_hint``:
``(image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
caption:string, phash:int64)``.

One row = one ``block_size``² pixel block of a synthetic 16-bit terrain,
PNG-encoded (a small deterministic subset ships as raw HGT to exercise
the HGT reader).  Blocks tile a test world of 1° SRTM tiles; the block's
geographic anchor is carried in the caption (``tile N46E013 block
(bx,by)``), which the engine parses back with pure Column expressions.

Terrain: ``h(gx,gy) = 500 + 400·sin(2π·gx/1200)·cos(2π·gy/1200)``
rounded to int16 on the global DEM cell grid, with ~1/16 of blocks
carrying DEM_HEIGHT_NONE holes (sentinel semantics per
/root/reference/Demeton/Dem/Types.fs:18-19).  Everything derives from
the block index alone, so generation is embarrassingly parallel and
reproducible at any partitioning.

A skew knob duplicates rows of designated "land" tiles (identical pixel
content, distinct image_id) — the land/ocean shuffle-skew surrogate from
FIXTURES.md §1.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

from . import codec
from .tiles import DEM_HEIGHT_NONE, tile_min_cell, tile_name

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)


@dataclass(frozen=True)
class WorldSpec:
    """Deterministic synthetic world layout.

    ``lon0/lat0`` — south-west corner tile; ``n_tiles_x/y`` — extent in 1°
    tiles; ``tile_size`` — cells per tile side; ``block_size`` — pixels
    per image-row block side; ``hgt_every`` — every n-th block ships as
    raw HGT instead of PNG; ``skew_factor`` — duplicate-row multiplier
    for skewed tiles; ``skew_every`` — every n-th tile is "land" (skewed).
    """

    lon0: int = 13
    lat0: int = 45
    n_tiles_x: int = 2
    n_tiles_y: int = 2
    tile_size: int = 120
    block_size: int = 30
    hgt_every: int = 17
    skew_factor: int = 1
    skew_every: int = 3
    seed: int = 42

    @property
    def blocks_per_tile_side(self) -> int:
        assert self.tile_size % self.block_size == 0
        return self.tile_size // self.block_size

    @property
    def blocks_per_tile(self) -> int:
        return self.blocks_per_tile_side**2

    @property
    def n_tiles(self) -> int:
        return self.n_tiles_x * self.n_tiles_y

    @property
    def n_base_blocks(self) -> int:
        return self.n_tiles * self.blocks_per_tile

    def tile_is_skewed(self, tile_index: int) -> bool:
        return self.skew_factor > 1 and tile_index % self.skew_every == 0

    @property
    def n_rows(self) -> int:
        """Total row count including skew duplicates."""
        total = 0
        for t in range(self.n_tiles):
            mult = self.skew_factor if self.tile_is_skewed(t) else 1
            total += self.blocks_per_tile * mult
        return total

    @property
    def total_megapixels(self) -> float:
        """Unique terrain megapixels (excludes skew duplicates)."""
        return self.n_tiles * self.tile_size**2 / 1e6


def terrain_heights(spec: WorldSpec, gx0: int, gy0: int, h: int, w: int) -> np.ndarray:
    """int16 terrain block at global cell origin (gx0, gy0), south-up."""
    gx = gx0 + np.arange(w)
    gy = gy0 + np.arange(h)
    gxx, gyy = np.meshgrid(gx, gy)
    z = 500.0 + 400.0 * np.sin(2 * np.pi * gxx / 1200.0) * np.cos(
        2 * np.pi * gyy / 1200.0
    )
    return np.round(z).astype(np.int16)


def _block_row(spec: WorldSpec, row_index: int) -> tuple:
    """Fully deterministic row for a global row index (incl. skew dups)."""
    # map row index → (base block index, duplicate ordinal)
    bpt = spec.blocks_per_tile
    if spec.skew_factor <= 1:
        tile_index, block_in_tile = divmod(row_index, bpt)
        return _block_payload(spec, row_index, tile_index, block_in_tile)
    remaining = row_index
    tile_index = 0
    dup = 0
    for t in range(spec.n_tiles):
        mult = spec.skew_factor if spec.tile_is_skewed(t) else 1
        span = bpt * mult
        if remaining < span:
            tile_index = t
            dup, block_in_tile = divmod(remaining, bpt)
            break
        remaining -= span
    else:  # pragma: no cover
        raise IndexError(row_index)

    return _block_payload(spec, row_index, tile_index, block_in_tile)


def _block_payload(
    spec: WorldSpec, row_index: int, tile_index: int, block_in_tile: int
) -> tuple:
    ty_i, tx_i = divmod(tile_index, spec.n_tiles_x)
    tx = spec.lon0 + tx_i
    ty = spec.lat0 + ty_i
    by, bx = divmod(block_in_tile, spec.blocks_per_tile_side)
    min_cx, min_cy = tile_min_cell(spec.tile_size, tx, ty)
    gx0 = min_cx + bx * spec.block_size
    gy0 = min_cy + by * spec.block_size
    heights = terrain_heights(spec, gx0, gy0, spec.block_size, spec.block_size)

    base_index = tile_index * spec.blocks_per_tile + block_in_tile
    if base_index % 16 == 5:  # deterministic missing-data holes
        hole = np.zeros(heights.shape, dtype=bool)
        hole[:: 7, :: 5] = True
        heights = heights.copy()
        heights[hole] = DEM_HEIGHT_NONE

    if base_index % spec.hgt_every == 0:
        fmt = "hgt"
        payload = codec.encode_hgt(heights)
    else:
        fmt = "png16"
        payload = codec.encode_heights_png(heights)

    name = tile_name(0, tx, ty)
    caption = f"tile {name} block ({bx},{by})"
    phash = int.from_bytes(
        hashlib.sha256(heights.tobytes()).digest()[:8], "big", signed=True
    )
    return (
        f"img{row_index:08d}",
        bytearray(payload),
        spec.block_size,
        spec.block_size,
        fmt,
        caption,
        phash,
    )


def generate_images_pdf(spec: WorldSpec, indices: np.ndarray) -> pd.DataFrame:
    rows = [_block_row(spec, int(i)) for i in indices]
    return pd.DataFrame(
        rows, columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    )


def images_df(spark, spec: WorldSpec, num_partitions: int | None = None):
    """Distributed generation: ``spark.range`` → one :func:`_block_row`
    per row index (``engine.map_rows``)."""
    from .engine import map_rows  # engine imports WorldSpec from here

    parts = num_partitions or max(8, spark.sparkContext.defaultParallelism)
    return map_rows(
        spark.range(0, spec.n_rows, numPartitions=parts), ("id",),
        lambda i: (_block_row(spec, i),), IMAGES_SCHEMA,
    )


def contract_spec_for_sf(sf: float) -> WorldSpec:
    """The sf-scaled synthetic-images world used by the image contract
    queries: side grows with sqrt(sf) so row counts track the scale
    factor like the parquet tables (2×2 tiles at sf0.001 → 20×20 at
    sf0.1), with the land-tile skew knob on (duplicate rows under fresh
    image_ids — the dedup workload)."""
    import math

    side = max(2, int(round(2 * math.sqrt(sf / 0.001))))
    return WorldSpec(
        lon0=13, lat0=45, n_tiles_x=side, n_tiles_y=side, tile_size=60,
        block_size=20, skew_factor=3,
    )


def ensure_contract_images(spark, sf: float) -> str:
    """Materialize (once) the sf-scaled contract images table as parquet
    and return its path.  Both the Spark contract queries and their
    DuckDB oracles read THIS file, so the dedup aggregation is checked
    over identical rows; the generator itself stays pinned by the
    codec round-trip tests.  The sf0.01 fixture is committed to the
    repo (deterministic), other SFs materialize on first use."""
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, "data", "synth_images", f"sf{sf}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        spec = contract_spec_for_sf(sf)
        images_df(spark, spec).write.mode("overwrite").parquet(path)
    return path


def expected_tile_heights(spec: WorldSpec, tx: int, ty: int) -> np.ndarray:
    """Oracle: the fully assembled tile, computed single-node in numpy."""
    min_cx, min_cy = tile_min_cell(spec.tile_size, tx, ty)
    heights = terrain_heights(spec, min_cx, min_cy, spec.tile_size, spec.tile_size)
    ty_i = ty - spec.lat0
    tx_i = tx - spec.lon0
    tile_index = ty_i * spec.n_tiles_x + tx_i
    bpt_side = spec.blocks_per_tile_side
    for block_in_tile in range(spec.blocks_per_tile):
        base_index = tile_index * spec.blocks_per_tile + block_in_tile
        if base_index % 16 == 5:
            by, bx = divmod(block_in_tile, bpt_side)
            hole = np.zeros((spec.block_size, spec.block_size), dtype=bool)
            hole[::7, ::5] = True
            sl = heights[
                by * spec.block_size : (by + 1) * spec.block_size,
                bx * spec.block_size : (bx + 1) * spec.block_size,
            ]
            sl[hole] = DEM_HEIGHT_NONE
    return heights


def expected_world_heights(spec: WorldSpec) -> np.ndarray:
    """Oracle: the whole world as one (n_ty·ts, n_tx·ts) south-up array."""
    ts = spec.tile_size
    world = np.empty((spec.n_tiles_y * ts, spec.n_tiles_x * ts), dtype=np.int16)
    for ty_i in range(spec.n_tiles_y):
        for tx_i in range(spec.n_tiles_x):
            world[ty_i * ts : (ty_i + 1) * ts, tx_i * ts : (tx_i + 1) * ts] = (
                expected_tile_heights(spec, spec.lon0 + tx_i, spec.lat0 + ty_i)
            )
    return world
