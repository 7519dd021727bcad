"""Storage boundary: partition pruning on the tile table must be
visible in the physical plan — at 100 TB it is the difference between
reading covering tiles and reading the world (SURVEY.md §4 row 1)."""

import numpy as np
import pytest

from demeton_spark import engine, sources, synth
from demeton_spark.synth import WorldSpec

SPEC = WorldSpec(
    lon0=13, lat0=45, n_tiles_x=4, n_tiles_y=2, tile_size=30, block_size=10
)


@pytest.fixture(scope="module")
def tile_table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("tiles") / "tiles")
    tiles = engine.assemble_tiles(
        engine.parse_caption(synth.images_df(spark, SPEC)), SPEC.tile_size
    )
    sources.write_tile_table(tiles, path)
    return path


def test_bbox_scan_prunes_partitions(spark, tile_table):
    # bbox covering one tile column out of four
    got = sources.read_tiles_for_bbox(
        spark, tile_table, (13.2, 45.1, 13.8, 45.9)
    )
    rows = got.select("tile_x", "tile_y").collect()
    assert sorted((r["tile_x"], r["tile_y"]) for r in rows) == [(13, 45)]
    plan = got._jdf.queryExecution().executedPlan().toString()
    # the tile_x predicate must land on the partition directory level,
    # not as a post-scan filter over all files
    assert "PartitionFilters: [" in plan
    assert "tile_x" in plan.split("PartitionFilters")[1][:200]


def test_bbox_exact_boundary_does_not_overcover(spark, tile_table):
    # ceil-1 rule: bbox ending exactly on a tile edge must not pull the
    # next tile (Dem/Funcs.fs:284-298 semantics)
    got = sources.read_tiles_for_bbox(
        spark, tile_table, (13.0, 45.0, 14.0, 46.0)
    )
    rows = got.select("tile_x", "tile_y").collect()
    assert sorted((r["tile_x"], r["tile_y"]) for r in rows) == [(13, 45)]


def test_tile_table_round_trips_heights(spark, tile_table):
    got = sources.read_tiles_for_bbox(
        spark, tile_table, (13.0, 45.0, 17.0, 47.0)
    )
    assert got.count() == 8
    r = got.where("tile_x = 14 and tile_y = 45").collect()[0]
    world = synth.expected_world_heights(SPEC)
    ts = SPEC.tile_size
    block = np.frombuffer(bytes(r["heights"]), dtype="<i2").reshape(ts, ts)
    assert np.array_equal(block, world[0:ts, ts : 2 * ts])


def test_geojson_tile_index_parse_and_semi_join(spark):
    """GeoJSON FeatureCollection → available-tile dimension via
    from_json (no Python in the parse), then the reference's set
    membership as a broadcast left-semi join."""
    import json

    def feature(name, lon, lat):
        return {
            "type": "Feature",
            "properties": {"ll_tile": name},
            "geometry": {
                "type": "Polygon",
                "coordinates": [[
                    [lon, lat], [lon + 1, lat], [lon + 1, lat + 1],
                    [lon, lat + 1], [lon, lat],
                ]],
            },
        }

    doc = json.dumps({
        "type": "FeatureCollection",
        "features": [
            feature("N45E013", 13, 45),
            feature("N46E014", 14, 46),
            feature("S02W071", -71, -2),
        ],
    })
    raw = spark.createDataFrame([(doc,)], "value string")
    idx = sources.parse_tile_index_geojson(raw)
    rows = {r["tile_name"]: r for r in idx.collect()}
    assert set(rows) == {"N45E013", "N46E014", "S02W071"}
    assert (rows["N45E013"]["tile_x"], rows["N45E013"]["tile_y"]) == (13, 45)
    assert (rows["S02W071"]["tile_x"], rows["S02W071"]["tile_y"]) == (-71, -2)
    assert rows["N46E014"]["min_lon"] == 14.0
    assert rows["N46E014"]["max_lat"] == 47.0

    tiles = spark.createDataFrame(
        [(13, 45, b"x"), (14, 46, b"y"), (15, 45, b"z")],
        "tile_x int, tile_y int, heights binary",
    )
    kept = sources.filter_to_available_tiles(tiles, idx)
    assert sorted((r["tile_x"], r["tile_y"]) for r in kept.collect()) == [
        (13, 45), (14, 46),
    ]
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
