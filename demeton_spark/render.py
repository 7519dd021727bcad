"""Projected-raster rendering — the reference ``shade`` command's
pipeline as a Spark job: bbox + map scale → projected raster MBR →
raster tiles → per-tile inverse projection into the DEM tile mosaic →
shading → PNG tiles.

Reference lifecycle reproduced (SURVEY.md §3.1):
  - raster MBR from projected coverage points, rounded outward
    (/root/reference/Demeton/Commands/ShadeCommand.fs:336-353)
  - split into raster tiles (:371-400, default 1000 px)
  - per tile: invert corners + 1 px buffer → lon/lat bounds → covering
    DEM tiles (:457-471 + Dem/Funcs.fs:262-308) — this becomes the
    assignment JOIN: a small broadcast relation (raster tile × DEM tile
    key) against the big DEM tile table, reduced per raster tile
  - per pixel: inverse-project the 3×3 pixel neighborhood, bilinear
    heights (Dem/Types.fs:143-155), Horn p/q with per-pixel geodesic
    grid sizes (Shaders/Hillshading.fs:30-60,81-157), shade, Y-flip

Where the reference walks pixels in a Parallel.For, every raster tile
is one Spark task and all per-pixel math is vectorized numpy over row
bands (9 inverse projections per band; coords stay float64 — cell
indices reach 6.5e5 where float32 resolution would corrupt bilinear
fractions).

At scale: raster tiles are the parallelism unit (millions of tasks for
a world render); the assignment relation stays tiny (tens of DEM keys
per raster tile) and broadcasts, so the only wide operation is the
engine's one tile reduce (``engine.reduce_tiles``, the raster tile as
its tile key): one grid-position exchange co-locates each raster
tile's covering DEM tiles.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from . import codec, kernels, pipeline
from .engine import (
    SHADE_BAND_ROWS, _schema, reduce_tiles, render_setup, tile_heights,
)
from .geometry import MapScale, Mercator
from .tiles import DEM_HEIGHT_NONE, bounds_to_tiles, cells_per_degree

RENDERED_SCHEMA = _schema(
    "rt_x int, rt_y int, min_x long, min_y long, width int, height int, "
    "png binary, shaded_px long, total_px long, n_dem_tiles int"
)
_RENDERED_ARROW = to_arrow_schema(RENDERED_SCHEMA)


def raster_mbr(proj, coverage_points_deg) -> tuple[int, int, int, int]:
    """Projected MBR of coverage points, rounded outward
    (ShadeCommand.fs:336-353).  Returns (min_x, min_y, max_x, max_y)."""
    xs, ys = [], []
    for lon_deg, lat_deg in coverage_points_deg:
        x, y, valid = proj.project(
            math.radians(lon_deg), math.radians(lat_deg)
        )
        if np.all(valid):
            xs.append(float(x))
            ys.append(float(y))
    if not xs:
        raise ValueError("no projectable coverage points")
    return (
        int(math.floor(min(xs))),
        int(math.floor(min(ys))),
        int(math.ceil(max(xs))),
        int(math.ceil(max(ys))),
    )


def split_into_tiles(mbr, tile_px: int):
    """Raster MBR → [(xi, yi, min_x, min_y, w, h)] (ShadeCommand
    splitIntoIntervals semantics, :315-328)."""
    min_x, min_y, max_x, max_y = mbr
    tiles = []
    yi = 0
    y = min_y
    while y < max_y:
        h = min(tile_px, max_y - y)
        xi = 0
        x = min_x
        while x < max_x:
            w = min(tile_px, max_x - x)
            tiles.append((xi, yi, x, y, w, h))
            xi += 1
            x += w
        yi += 1
        y += h
    return tiles


def covering_dem_tiles(proj, rect, tile_size: int):
    """Invert the raster rect corners (+1 px buffer) → lon/lat bounds →
    covering level-0 DEM tile keys (ShadeCommand.fs:457-471)."""
    xi, yi, min_x, min_y, w, h = rect
    x0, y0, x1, y1 = min_x - 1, min_y - 1, min_x + w + 1, min_y + h + 1
    xs = np.array([x0, x0, x1, x1], dtype=np.float64)
    ys = np.array([y0, y1, y0, y1], dtype=np.float64)
    lon, lat = _invert(proj, xs, ys)
    lon_deg, lat_deg = np.degrees(lon), np.degrees(lat)
    return bounds_to_tiles(
        tile_size, 0,
        float(lon_deg.min()), float(lat_deg.min()),
        float(lon_deg.max()), float(lat_deg.max()),
    )


def _invert(proj, x, y):
    """Uniform (lon, lat) radians from a projection's invert (Mercator
    returns 2-tuple, LCC a 3-tuple with validity)."""
    out = proj.invert(x, y)
    return out[0], out[1]


def render_shaded_raster(
    spark: SparkSession,
    dem_tiles: DataFrame,
    coverage_points_deg,
    map_scale: MapScale,
    script: str = pipeline.DEFAULT_SCRIPT,
    tile_size: int = 3600,
    raster_tile_px: int = 1000,
    projection=None,
) -> DataFrame:
    """The ``shade`` command: DEM tile table + bbox + scale → projected
    shaded raster tiles.

    ``dem_tiles`` rows: (tile_x, tile_y, heights binary) at level 0 with
    ``tile_size`` cells per degree.  Returns one row per raster tile.
    """
    proj = projection or Mercator(map_scale)
    steps, registry, lvl, _ = render_setup(script)
    rects = {
        (rect[0], rect[1]): rect
        for rect in split_into_tiles(raster_mbr(proj, coverage_points_deg),
                                     raster_tile_px)
    }

    # assignment relation: raster tile (as the reduce's tile key) ×
    # covering DEM tile key (driver-side: |raster tiles| × ~4 rows —
    # broadcast against the DEM table)
    assign = spark.createDataFrame(
        [(xi, yi, tx, ty) for (xi, yi), rect in rects.items()
         for tx, ty in covering_dem_tiles(proj, rect, tile_size)],
        "tile_x int, tile_y int, dem_x int, dem_y int",
    )
    dem = dem_tiles.select(
        F.col("tile_x").alias("dem_x"), F.col("tile_y").alias("dem_y"),
        "heights",
    )
    parts = F.broadcast(assign).join(dem, on=["dem_x", "dem_y"], how="inner")

    cpd = cells_per_degree(tile_size, 0)

    def render(rt_x: int, rt_y: int, group: pa.Table) -> pa.Table:
        _, _, min_x, min_y, w, h = rects[rt_x, rt_y]
        # mosaic the group's DEM tiles into one array (J2 merge)
        txs, tys, bufs = (group.column(c).to_pylist()
                          for c in ("dem_x", "dem_y", "heights"))
        cell_x0 = min(txs) * tile_size
        cell_y0 = min(tys) * tile_size
        merged = np.full(
            ((max(tys) - min(tys) + 1) * tile_size,
             (max(txs) - min(txs) + 1) * tile_size),
            DEM_HEIGHT_NONE, dtype=np.int16,
        )
        for tx, ty, buf in zip(txs, tys, bufs):
            oy = ty * tile_size - cell_y0
            ox = tx * tile_size - cell_x0
            merged[oy : oy + tile_size, ox : ox + tile_size] = tile_heights(
                buf, tile_size
            )
        merged_f = kernels.heights_to_float(merged)

        scan, out = codec.rgba_scanlines(h, w)
        shaded = 0
        xs = np.arange(min_x, min_x + w, dtype=np.float64)
        for r0 in range(0, h, SHADE_BAND_ROWS):
            r1 = min(r0 + SHADE_BAND_ROWS, h)
            ys = np.arange(min_y + r0, min_y + r1, dtype=np.float64)
            gx, gy = np.meshgrid(xs, ys)
            # 3×3 neighborhood: inverse-project, bilinear heights
            hgt = {}
            coords = {}
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    lon, lat = _invert(proj, gx + dx, gy + dy)
                    coords[(dx, dy)] = (lon, lat)
                    cell_x = np.degrees(lon) * cpd - cell_x0
                    cell_y = np.degrees(lat) * cpd - cell_y0
                    hgt[(dx, dy)] = kernels.bilinear_interpolate(
                        merged_f, cell_x, cell_y
                    )
            # per-pixel geodesic grid size (Hillshading.fs:30-38):
            # width = dist(NW, N), height = dist(NW, W); DEM row order has
            # y-1 = south — the reference's coords[0],[1],[3] map to
            # (x-1,y-1), (x,y-1), (x-1,y)
            lon0, lat0 = coords[(-1, -1)]
            lon1, lat1 = coords[(0, -1)]
            lon3, lat3 = coords[(-1, 0)]
            from .geometry import geodetic_distance_approx

            grid_w = geodetic_distance_approx(lon0, lat0, lon1, lat1)
            grid_h = geodetic_distance_approx(lon0, lat0, lon3, lat3)
            # Horn p/q exactly as calculatePQ (Hillshading.fs:40-60)
            p = (
                (hgt[(1, 1)] + 2.0 * hgt[(1, 0)] + hgt[(1, -1)])
                - (hgt[(-1, 1)] + 2.0 * hgt[(-1, 0)] + hgt[(-1, -1)])
            ) / (8.0 * grid_w)
            q = (
                (hgt[(1, 1)] + 2.0 * hgt[(0, 1)] + hgt[(-1, 1)])
                - (hgt[(1, -1)] + 2.0 * hgt[(0, -1)] + hgt[(-1, -1)])
            ) / (8.0 * grid_h)
            slope, aspect = kernels.slope_and_aspect(p, q)
            ctx = pipeline.ShadeContext(
                heights=hgt[(0, 0)], slope=slope, aspect=aspect
            )
            rgba = pipeline.evaluate_steps(steps, ctx, registry=registry)
            shaded += int(np.count_nonzero(rgba[..., 3]))
            out[h - r1 : h - r0] = rgba[::-1]  # Y-flip to bitmap rows
        return pa.Table.from_pydict({
            "rt_x": [rt_x],
            "rt_y": [rt_y],
            "min_x": [min_x],
            "min_y": [min_y],
            "width": [w],
            "height": [h],
            "png": [codec.encode_rgba_scanlines(scan, lvl)],
            "shaded_px": [shaded],
            "total_px": [w * h],
            "n_dem_tiles": [group.num_rows],
        }, schema=_RENDERED_ARROW)

    return reduce_tiles(parts, render, RENDERED_SCHEMA)


def georef_sidecars(rendered: DataFrame, scale: MapScale) -> DataFrame:
    """World-file georeferencing sidecar per rendered raster tile.

    The reference roadmap's "Georeferencing metadata" item
    (/root/reference/docs/Roadmap.md): each PNG tile gets the six-line
    ESRI world-file affine (meters in the projection plane, y up):

        A (m/px east), D (0), B (0), E (−m/px north),
        C (x of top-left pixel CENTER), F (y of top-left pixel center)

    Projected pixel coords are ``x_px = x_unit · projection_scale_factor``
    on the unit sphere, so ground meters per pixel =
    ``EARTH_RADIUS / projection_scale_factor`` = map_scale/(inches/m ·
    dpi).  Pure column expressions — no Python in the plan.
    """
    from .geometry import EARTH_RADIUS_M

    m_per_px = EARTH_RADIUS_M / scale.projection_scale_factor
    c = (F.col("min_x") + F.lit(0.5)) * m_per_px
    f = (F.col("min_y") + F.col("height") - F.lit(0.5)) * m_per_px
    nl = F.lit("\n")
    world_file = F.concat(
        F.lit(f"{m_per_px!r}"), nl, F.lit("0.0"), nl, F.lit("0.0"), nl,
        F.lit(f"{-m_per_px!r}"), nl,
        c.cast("string"), nl, f.cast("string"), nl,
    )
    return rendered.select(
        "rt_x", "rt_y", world_file.alias("world_file"),
        F.lit(m_per_px).alias("meters_per_px"),
        c.alias("origin_x_m"), f.alias("origin_y_m"),
    )
