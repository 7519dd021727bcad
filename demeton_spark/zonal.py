"""Zonal statistics: aggregate raster pixels per vector polygon.

The classic raster↔vector join the north rule asks for: every polygon
collects elevation statistics (pixel count, valid count, sum, min, max)
over the DEM pixels it contains.  The reference composes the same two
primitives — crossing-number point-in-polygon tests over raster cells
(Demeton/Geometry/Funcs.fs:9-33, the basis of its raster clipping) and
per-raster pixel aggregation (Demeton/Dem/Funcs.fs summarizes cell
grids) — but never joins them across tiles; this operator is the
distributed generalization.

Spark-first topology (scales to a 10^12-pixel DEM):

  1. polygon → tile cover (``floor(min)..floor(max)`` of the bbox on
     each axis): a tiny driver-side table, broadcast.
  2. tile table ⨝ broadcast(cover) — the only join; the raster side
     never shuffles, each tile row is touched once per covering polygon
     (polygons are dimension-sized, rasters are fact-sized).
  3. one Arrow pass (``engine.map_tiles``) over the joined rows: per
     row, a vectorized crossing-number mask over the cell lattice
     (geometry.points_in_polygon) of the int16 tile, emitting PARTIAL
     aggregates — six ints per (polygon, tile), never pixels.
  4. hash-aggregate partials per polygon (map-side combine; the shuffle
     carries O(polygons × covered tiles) rows).

Polygon vertices travel as plain Python floats (inlined literals on the
SQL-oracle side), so both engines evaluate term-for-term identical IEEE
arithmetic — no trig re-derivation inside either engine.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from demeton_spark.engine import map_tiles
from demeton_spark.geometry import points_in_polygon

Polygon = tuple[int, Sequence[tuple[float, float]]]

_PARTIAL_SCHEMA = (
    "poly_id int, n_px bigint, n_valid bigint, sum_h bigint, "
    "min_h int, max_h int"
)


def zonal_demo_polygons() -> list[Polygon]:
    """Deterministic demo polygon family over the contract world
    (lon ∈ [13, 15), lat ∈ [45, 47)): six k-gon approximations of
    rotated ellipses, k = 3..8.  Vertices are computed HERE (plain Python
    floats) so Spark and the DuckDB oracle consume identical literals.
    """
    out: list[Polygon] = []
    for p in range(6):
        k = 3 + p
        cx = 13.25 + (p * 37 % 150) / 100.0
        cy = 45.25 + (p * 53 % 150) / 100.0
        r = 0.15 + (p % 4) * 0.1
        verts = [
            (
                cx + r * math.cos(2.0 * math.pi * i / k + p),
                cy + 0.7 * r * math.sin(2.0 * math.pi * i / k + p),
            )
            for i in range(k)
        ]
        out.append((p, verts))
    return out


def _poly_tile_cover(polys: Sequence[Polygon]) -> list[tuple[int, int, int]]:
    """(poly_id, tile_x, tile_y) for every 1° tile from ``floor(min)`` to
    ``floor(max)`` of the polygon's MBR on each axis.  Unlike the
    ceil−1 rule of ``tiles.bounds_to_tiles``, an MBR edge lying exactly
    on a tile boundary also covers the tile beyond it.  The DuckDB
    twins in ``queries`` reuse these rows, so both engines see the same
    cover."""
    rows = []
    for poly_id, verts in polys:
        xs = [v[0] for v in verts]
        ys = [v[1] for v in verts]
        for tx in range(math.floor(min(xs)), math.floor(max(xs)) + 1):
            for ty in range(math.floor(min(ys)), math.floor(max(ys)) + 1):
                rows.append((poly_id, tx, ty))
    return rows


def zonal_stats(
    tiles: DataFrame,
    tile_size: int,
    polys: Sequence[Polygon],
) -> DataFrame:
    """Per-polygon elevation statistics over a tiled int16 DEM.

    ``tiles``: (tile_x int, tile_y int, heights binary) — ``heights`` is
    the south-up row-major int16 tile, ``tile_size`` cells per side;
    cell (lx, ly) of tile (tx, ty) sits at lon = tx + lx/ts,
    lat = ty + ly/ts (the kernel's cell-corner convention, the same
    lattice ``run_hillshade(clip_polygon=…)`` masks against).

    Returns one row per polygon: n_px (cells inside the polygon AND the
    raster), n_valid (of those, non-missing), sum_h / min_h / max_h
    over valid cells (null min/max iff n_valid = 0).
    """
    spark = tiles.sparkSession
    verts_by_id = {pid: vs for pid, vs in polys}
    ts = tile_size

    cover = spark.createDataFrame(
        _poly_tile_cover(polys), "poly_id int, tile_x int, tile_y int"
    )
    joined = tiles.join(F.broadcast(cover), ["tile_x", "tile_y"])

    lattice = np.arange(ts, dtype=np.float64) / ts

    def partials(tx, ty, h, pid):
        vx, vy = zip(*verts_by_id[pid])
        lon = tx + lattice  # cell-corner lattice, exact doubles
        lat = ty + lattice
        mask = points_in_polygon(
            np.broadcast_to(lon, (ts, ts)).ravel(),
            np.repeat(lat, ts),
            np.asarray(vx), np.asarray(vy),
        ).reshape(ts, ts)
        inside = h[mask]
        valid = inside[inside != -32768].astype(np.int64)
        if valid.size:
            yield (pid, int(mask.sum()), valid.size, int(valid.sum()),
                   int(valid.min()), int(valid.max()))
        else:
            yield pid, int(mask.sum()), 0, 0, None, None

    agg = (
        map_tiles(joined, ts, partials, _PARTIAL_SCHEMA, extra=("poly_id",))
        .groupBy("poly_id")
        .agg(
            F.sum("n_px").alias("n_px"),
            F.sum("n_valid").alias("n_valid"),
            F.sum("sum_h").alias("sum_h"),
            F.min("min_h").alias("min_h"),
            F.max("max_h").alias("max_h"),
        )
    )
    polys_df = spark.createDataFrame(
        [(pid, len(vs)) for pid, vs in polys], "poly_id int, n_vertices int"
    )
    return polys_df.join(agg, "poly_id", "left").select(
        "poly_id",
        "n_vertices",
        F.coalesce(F.col("n_px"), F.lit(0)).cast("bigint").alias("n_px"),
        F.coalesce(F.col("n_valid"), F.lit(0)).cast("bigint").alias("n_valid"),
        F.coalesce(F.col("sum_h"), F.lit(0)).cast("bigint").alias("sum_h"),
        F.col("min_h").cast("int").alias("min_h"),
        F.col("max_h").cast("int").alias("max_h"),
    )


def zonal_stats_numpy(
    world: np.ndarray,
    lon0: int,
    lat0: int,
    tile_size: int,
    polys: Sequence[Polygon],
) -> dict[int, tuple[int, int, int, int | None, int | None]]:
    """Single-node oracle over the assembled world array (south-up)."""
    ny, nx = world.shape
    ts = tile_size
    # per-tile lattice (tx + lx/ts), bit-identical to the operator and
    # the SQL oracle — NOT lon0 + i/ts, which differs by an ulp at
    # tile boundaries and can flip a knife-edge PIP pixel
    gi = np.arange(nx, dtype=np.int64)
    gj = np.arange(ny, dtype=np.int64)
    lon = (lon0 + gi // ts).astype(np.float64) + (gi % ts).astype(np.float64) / ts
    lat = (lat0 + gj // ts).astype(np.float64) + (gj % ts).astype(np.float64) / ts
    px = np.broadcast_to(lon, (ny, nx)).ravel()
    py = np.repeat(lat, nx)
    out = {}
    for pid, verts in polys:
        vx, vy = zip(*verts)
        mask = points_in_polygon(px, py, np.asarray(vx), np.asarray(vy))
        inside = world.ravel()[mask]
        valid = inside[inside != -32768].astype(np.int64)
        out[pid] = (
            int(mask.sum()),
            int(valid.size),
            int(valid.sum()) if valid.size else 0,
            int(valid.min()) if valid.size else None,
            int(valid.max()) if valid.size else None,
        )
    return out
