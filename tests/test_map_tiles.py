"""``engine.map_rows``, the one Arrow loop of the per-row operators,
and ``engine.map_tiles``, its per-tile form: their rows and schema equal
``fn`` applied row by row in plain Python, with extra input columns, a
nullable output column, rows that yield no rows, and a whole batch that
yields none."""

import numpy as np

from demeton_spark.engine import map_rows, map_tiles, tile_heights
from demeton_spark.tiles import DEM_HEIGHT_NONE

TS = 8
SCHEMA = (
    "tile_x int, tile_y int, tag string, mean_h double, n_high bigint, "
    "has_missing boolean"
)


def _make_fn():
    """Tiles with tile_x % 3 == 0 yield nothing; tagged tiles yield a
    second row with a null mean.  (A nested function, so Spark ships it
    by value to workers that cannot import this test module.)"""

    def fn(tx, ty, heights, tag):
        if tx % 3 == 0:
            return
        valid = heights[heights != DEM_HEIGHT_NONE]
        yield (tx, ty, tag, float(valid.mean()) if valid.size else None,
               int((heights > 500).sum()), bool(valid.size < heights.size))
        if tag is not None:
            yield tx, ty, tag + "!", None, 0, False

    return fn


def _tiles():
    rng = np.random.default_rng(7)
    rows = []
    # parallelize() slices the list in order, two tiles per partition:
    # the first partition holds only tiles that yield no rows, the
    # second mixes one such tile with one that yields rows
    for i, tx in enumerate((0, 3, 6, 1, 2, 4, 5, 7)):
        h = rng.integers(0, 1000, (TS, TS)).astype(np.int16)
        if i % 2:
            h[:2, :3] = DEM_HEIGHT_NONE
        if tx == 5:
            h[:] = DEM_HEIGHT_NONE
        rows.append((tx, 40 + i, h.tobytes(), None if i % 3 else f"t{i}"))
    return rows


def test_map_tiles_matches_plain_python(spark):
    rows = _tiles()
    tiles = spark.sparkContext.parallelize(rows, 4).toDF(
        "tile_x int, tile_y int, heights binary, tag string"
    )
    fn = _make_fn()
    got = map_tiles(tiles, TS, fn, SCHEMA, extra=("tag",))

    want = [
        out
        for tx, ty, buf, tag in rows
        for out in fn(tx, ty, tile_heights(buf, TS), tag)
    ]
    assert any(r[3] is None for r in want)  # the nullable column is hit
    assert got.schema == spark.createDataFrame([], SCHEMA).schema
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(want, key=repr)


def test_map_tiles_batch_without_output_rows(spark):
    rows = [r for r in _tiles() if r[0] % 3 == 0]
    tiles = spark.sparkContext.parallelize(rows, 2).toDF(
        "tile_x int, tile_y int, heights binary, tag string"
    )
    got = map_tiles(tiles, TS, _make_fn(), SCHEMA, extra=("tag",))
    assert got.collect() == []
    assert got.schema == spark.createDataFrame([], SCHEMA).schema


def _make_row_fn():
    """Ids below 4 (all of the first partition) and ids ≡ 2 (mod 3)
    yield nothing; ids ≡ 0 (mod 3) yield a second row whose half is
    null."""

    def fn(tag, i):
        if i < 4 or i % 3 == 2:
            return
        yield i, tag, i / 2
        if i % 3 == 0:
            yield -i, tag + "!", None

    return fn


def test_map_rows_matches_plain_python(spark):
    df = spark.range(0, 12, numPartitions=3).selectExpr(
        "id", "cast(id % 4 as string) as tag"
    )
    schema = "id bigint, tag string, half double"
    fn = _make_row_fn()
    got = map_rows(df, ("tag", "id"), fn, schema)

    want = [out for i in range(12) for out in fn(str(i % 4), i)]
    assert {len(list(fn(str(i % 4), i))) for i in range(12)} == {0, 1, 2}
    assert any(r[2] is None for r in want)  # the nullable column is hit
    assert got.schema == spark.createDataFrame([], schema).schema
    assert sorted(map(tuple, got.collect())) == sorted(want)


def test_tile_heights_round_trips_the_tile_bytes():
    h = np.arange(TS * TS, dtype=np.int16).reshape(TS, TS) - 300
    assert np.array_equal(tile_heights(h.tobytes(), TS), h)
