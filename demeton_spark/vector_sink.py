"""Vector export: isoline chains and water-body outlines as GeoJSON.

The raster→vector finish of the marching-squares family: chains become
GeoJSON LineString features in lon/lat (newline-delimited, RFC 7946
features on RFC 8142-style lines — the streaming-friendly layout big
pipelines exchange), written with Spark's text sink so the vector
output scales like any other DataFrame write.  The reference reads
GeoJSON (WorldCover/Fetch.fs:43-61 parses a tile-index
FeatureCollection); this module is the write side it never needed —
but a Spark engine does, because at 10^12 pixels the isolines of a
continent do not fit one file.

Feature JSON is rendered with fixed key order and fixed coordinate
rounding inside the Arrow pass, so output is byte-deterministic and
diffable across runs.
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import DataFrame

from demeton_spark import kernels
from demeton_spark.engine import map_tiles
from demeton_spark.isolines import chain_closed, chain_segments, isoline_segments

FEATURE_SCHEMA = (
    "tile_x int, tile_y int, level double, closed boolean, "
    "n_points int, feature string"
)


def _chain_to_feature(
    chain: np.ndarray, tx: int, ty: int, ts: int, level: float, closed: bool
) -> str:
    # cell (x, y) → lon/lat via the kernel's cell-corner convention
    coords = [
        [round(tx + float(x) / ts, 9), round(ty + float(y) / ts, 9)]
        for x, y in chain
    ]
    return json.dumps(
        {
            "type": "Feature",
            "geometry": {"type": "LineString", "coordinates": coords},
            "properties": {
                "level": level,
                "tile": f"{tx},{ty}",
                "closed": closed,
            },
        },
        separators=(",", ":"),
        sort_keys=False,
    )


def tile_isolines_features(
    tiles: DataFrame, tile_size: int, levels: list[float]
) -> DataFrame:
    """One row per isoline chain: tile key, level, closure flag, vertex
    count, and the rendered GeoJSON Feature string.  Same marching-
    squares + chaining pass as ``tile_isolines`` — the stats query and
    this export share one code path, so the oracle-checked counts pin
    the geometry exported here."""

    def features(tx, ty, heights):
        grid = kernels.heights_to_float(heights)
        for level in map(float, levels):
            for chain in chain_segments(isoline_segments(grid, level)):
                closed = chain_closed(chain)
                yield (tx, ty, level, closed, len(chain),
                       _chain_to_feature(chain, tx, ty, tile_size, level, closed))

    return map_tiles(tiles, tile_size, features, FEATURE_SCHEMA)


def write_geojson_lines(features: DataFrame, output_dir: str) -> None:
    """Newline-delimited GeoJSON sink, partitioned by tile row so a
    bbox consumer prunes files by directory.  Each output line is one
    RFC 7946 Feature."""
    (
        features.select("tile_y", "feature")
        .repartition("tile_y")
        .write.mode("overwrite")
        .partitionBy("tile_y")
        .text(output_dir, lineSep="\n")
    )


def read_geojson_lines(spark, path: str) -> DataFrame:
    """Read the sink back: one Feature JSON object per row, parsed with
    pure Catalyst (from_json; no Python in the scan)."""
    from pyspark.sql import functions as F

    schema = (
        "type string, "
        "geometry struct<type: string, coordinates: array<array<double>>>, "
        "properties struct<level: double, tile: string, closed: boolean>"
    )
    raw = spark.read.text(path)
    return raw.select(F.from_json("value", schema).alias("f")).select(
        F.col("f.geometry.type").alias("geom_type"),
        F.col("f.geometry.coordinates").alias("coordinates"),
        F.col("f.properties.level").alias("level"),
        F.col("f.properties.tile").alias("tile"),
        F.col("f.properties.closed").alias("closed"),
    )
