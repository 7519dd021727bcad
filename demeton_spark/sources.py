"""Table sources/sinks: the engine's storage-format boundary.

The production posture (BASELINE.json north_rule) is an Iceberg table
of image+caption rows at 10^12-image scale; without an Iceberg runtime
the tables here are plain parquet (identical DataFrame downstream).
What actually matters for scale is encoded here and tested: the tile
table is PARTITIONED BY ``tile_x`` so bbox queries prune files before
any IO (the Spark twin of the reference's "fetch only covering tiles",
Dem/Funcs.fs:262-308 + ShadeCommand.fs:457-480 — SURVEY.md §4 row 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tiles import in_tiles, tile_cover, tile_xy_cols


def write_tile_table(tiles: DataFrame, path: str) -> None:
    """Persist assembled tiles partitioned by ``tile_x``.

    Partitioning by ``tile_x`` (1° longitude bands — at most 360
    directories per level, each holding one column of tiles) keeps the
    directory fan-out bounded while letting bbox reads prune whole
    bands; ``tile_y`` pruning inside a band comes from parquet row-group
    min-max stats on the sorted column.
    """
    (
        tiles.repartition("tile_x")
        .sortWithinPartitions("tile_x", "tile_y")
        .write.mode("overwrite")
        .partitionBy("tile_x")
        .parquet(path)
    )


def read_tiles_for_bbox(
    spark: SparkSession,
    path: str,
    bbox: tuple[float, float, float, float],
) -> DataFrame:
    """Scan only the tiles covering ``(min_lon, min_lat, max_lon,
    max_lat)`` — the filter lands on the partition column (directory
    pruning, visible as PartitionFilters in the plan) and on the
    row-group stats for tile_y.

    Tile cover uses the reference's floor/ceil−1 rule
    (:func:`tiles.tile_cover`): an exact-boundary bbox must not
    over-cover.
    """
    return spark.read.parquet(path).where(in_tiles(*tile_cover(*bbox)))


# ---------------------------------------------------------------------------
# GeoJSON tile index (SURVEY.md §2.7 json row): the reference parses the
# WorldCover grid GeoJSON to learn which tiles exist
# (/root/reference/Demeton/WorldCover/Fetch.fs:43-61 reads
# features[*].properties.ll_tile) and uses set membership to skip absent
# tiles (Commands/DemWithWaterBodiesCommand.fs:216-221, §2.6).  Here the
# parse is pure Catalyst — from_json + explode + array aggregates — and
# the membership test is a broadcast left-semi join.
# ---------------------------------------------------------------------------

TILE_INDEX_JSON_SCHEMA = (
    "struct<type:string, features:array<struct<"
    "properties:struct<ll_tile:string>, "
    "geometry:struct<type:string, "
    "coordinates:array<array<array<double>>>>>>>"
)


def parse_tile_index_geojson(raw: DataFrame) -> DataFrame:
    """GeoJSON FeatureCollection strings (column ``value``) →
    available-tile dimension.

    One row per feature: ``(tile_name, tile_x, tile_y, min_lon, min_lat,
    max_lon, max_lat)`` — the name comes from ``properties.ll_tile``
    (HGT style, parsed by :func:`tiles.tile_xy_cols`), the bbox from the polygon
    ring.  All column expressions; no JSON touches Python.
    """
    feat = raw.select(
        F.explode(
            F.from_json(F.col("value"), TILE_INDEX_JSON_SCHEMA)["features"]
        ).alias("f")
    )
    name = F.col("f.properties.ll_tile")
    tile_x, tile_y = tile_xy_cols(name)
    ring = F.flatten(F.col("f.geometry.coordinates"))
    lons = F.transform(ring, lambda p: p[0])
    lats = F.transform(ring, lambda p: p[1])
    return feat.select(
        name.alias("tile_name"),
        tile_x.alias("tile_x"),
        tile_y.alias("tile_y"),
        F.array_min(lons).alias("min_lon"),
        F.array_min(lats).alias("min_lat"),
        F.array_max(lons).alias("max_lon"),
        F.array_max(lats).alias("max_lat"),
    )


def filter_to_available_tiles(
    tiles: DataFrame, index: DataFrame
) -> DataFrame:
    """Keep only tiles present in the (broadcast) tile index — the
    reference's available-set membership as a left-semi join (§2.6)."""
    return tiles.join(
        F.broadcast(index.select("tile_x", "tile_y")),
        on=["tile_x", "tile_y"],
        how="left_semi",
    )
