"""End-to-end Spark engine tests on the deterministic synthetic world.

The key property (SURVEY.md §7.2 step 3): the tiled pipeline with halo
exchange produces byte-identical pixels to shading the whole world as a
single merged array (the reference's merged-HeightsArray path,
/root/reference/Demeton/Commands/ShadeCommand.fs:450-497).
"""

import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from demeton_spark import codec, engine, pyramid, render, synth
from demeton_spark.geometry import MapScale
from demeton_spark.synth import WorldSpec
from demeton_spark.tiles import DEM_HEIGHT_NONE, tile_name

SPEC = WorldSpec(
    lon0=13, lat0=45, n_tiles_x=2, n_tiles_y=2, tile_size=30, block_size=10
)


@pytest.fixture(scope="module")
def images(spark):
    df = synth.images_df(spark, SPEC, num_partitions=4).cache()
    df.count()
    return df


def test_synth_row_count_and_schema(images):
    assert images.count() == SPEC.n_rows == 4 * 9
    assert [f.name for f in images.schema.fields] == [
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
    ]


def test_parse_caption_assignment(images):
    assigned = engine.parse_caption(images)
    rows = assigned.groupBy("tile_name", "tile_x", "tile_y").count().collect()
    names = {r["tile_name"]: (r["tile_x"], r["tile_y"], r["count"]) for r in rows}
    assert set(names) == {"N45E013", "N45E014", "N46E013", "N46E014"}
    for name, (tx, ty, count) in names.items():
        assert tile_name(0, tx, ty) == name
        assert count == SPEC.blocks_per_tile


def test_assembled_tiles_match_numpy_oracle(spark, images):
    tiles = engine.assemble_tiles(engine.parse_caption(images), SPEC.tile_size)
    got = {(r["tile_x"], r["tile_y"]): r for r in tiles.collect()}
    assert len(got) == 4
    for (tx, ty), row in got.items():
        expected = synth.expected_tile_heights(SPEC, tx, ty)
        actual = np.frombuffer(row["heights"], dtype="<i2").reshape(
            SPEC.tile_size, SPEC.tile_size
        )
        assert np.array_equal(actual, expected), (tx, ty)
        assert row["n_blocks"] == SPEC.blocks_per_tile
        assert row["missing_px"] == int(
            np.count_nonzero(expected == DEM_HEIGHT_NONE)
        )


def test_contract_tiles_match_numpy_oracle(spark):
    """The tile table every raster contract query reads is the contract
    world's 4 tiles, byte-equal to the numpy oracle."""
    from demeton_spark.queries import _CQ, contract_tiles

    tiles = contract_tiles(spark)
    assert tiles.columns == ["tile_x", "tile_y", "heights"]
    got = {(r["tile_x"], r["tile_y"]): bytes(r["heights"])
           for r in tiles.collect()}
    assert set(got) == {(_CQ.lon0 + i, _CQ.lat0 + j)
                        for i in range(_CQ.n_tiles_x)
                        for j in range(_CQ.n_tiles_y)} and len(got) == 4
    for (tx, ty), heights in got.items():
        expected = synth.expected_tile_heights(_CQ, tx, ty)
        assert heights == expected.astype("<i2").tobytes(), (tx, ty)


def _world_blocks_batch(spec: WorldSpec, large: bool = False):
    """Every block of ``spec``'s world as a raw int16 "B" part, in one
    Arrow batch of the PART_SCHEMA columns (large string/binary types
    when ``large``)."""
    world = synth.expected_world_heights(spec)
    ts, bs = spec.tile_size, spec.block_size
    rows = []
    for ty in range(spec.n_tiles_y):
        for tx in range(spec.n_tiles_x):
            for by in range(ts // bs):
                for bx in range(ts // bs):
                    y0, x0 = ty * ts + by * bs, tx * ts + bx * bs
                    rows.append({
                        "tile_x": spec.lon0 + tx, "tile_y": spec.lat0 + ty,
                        "part": "B", "bx": bx, "by": by,
                        "image_id": f"img{len(rows):04d}",
                        "w": bs, "h": bs, "fmt": "raw",
                        "data": world[y0 : y0 + bs, x0 : x0 + bs].tobytes(),
                    })
    schema = pa.schema([
        (f.name, {pa.string(): pa.large_string(),
                  pa.binary(): pa.large_binary()}.get(f.type, f.type)
         if large else f.type)
        for f in to_arrow_schema(engine.PART_SCHEMA)
    ])
    return pa.RecordBatch.from_pylist(rows, schema=schema)


def _world_parts(spec: WorldSpec, k: int) -> pa.Table:
    """The world's "B" parts plus the k-px strips the engine's map-side
    emitter cuts from them, as one Arrow table."""
    return pa.Table.from_batches(
        engine.emit_parts(_world_blocks_batch(spec), spec.tile_size, k))


@pytest.mark.parametrize(
    "k,fill", [(1, DEM_HEIGHT_NONE), (2, DEM_HEIGHT_NONE), (1, 0)],
    ids=["halo1", "halo2", "halo1-fill0"],
)
def test_compose_padded_pads_with_neighbors(k, fill):
    """Blocks + neighbor strips compose into the (ts+2k)² padded tile:
    halo from the neighbors where they exist, ``fill`` past the world
    edge.  Spark-free: the strips come from the engine's own emitter."""
    parts = _world_parts(SPEC, k)
    ts = SPEC.tile_size
    world = synth.expected_world_heights(SPEC)
    # tile (13,45) is the SW tile: its north pad rows must equal the
    # south edge rows of tile (13,46); its west pad must be fill.
    sw = parts.filter((pc.field("tile_x") == 13) & (pc.field("tile_y") == 45))
    p, n_blocks = engine.compose_padded(sw, ts, k, fill)
    assert p.shape == (ts + 2 * k, ts + 2 * k)
    assert n_blocks == SPEC.blocks_per_tile
    assert np.array_equal(p[k:-k, k:-k], world[:ts, :ts])
    assert np.array_equal(p[-k:, k:-k], world[ts : ts + k, :ts])  # north halo
    assert np.array_equal(p[k:-k, -k:], world[:ts, ts : ts + k])  # east halo
    assert np.all(p[:k, :] == fill)  # world edge: south
    assert np.all(p[:, :k] == fill)  # world edge: west
    # NE corner from the diagonal neighbor
    assert np.array_equal(p[-k:, -k:], world[ts : ts + k, ts : ts + k])
    # a losing duplicate (earlier image_id) is never visible, whether it
    # arrives before or after the winner
    block = sw.filter(pc.field("part") == "B").slice(0, 1).to_pylist()[0]
    loser = pa.Table.from_pylist([block | {
        "image_id": "img",
        "data": np.full((SPEC.block_size,) * 2, 7, "<i2").tobytes(),
    }], schema=sw.schema)
    for both in ([sw, loser], [loser, sw]):
        p2, n2 = engine.compose_padded(pa.concat_tables(both), ts, k, fill)
        assert np.array_equal(p2, p) and n2 == n_blocks + 1
    # strips sent past the world edge compose to nothing
    west = parts.filter(pc.field("tile_x") == 12)
    assert west.num_rows > 0
    assert engine.compose_padded(west, ts, k, fill) == (None, 0)


def test_tiled_shading_equals_untiled_oracle(spark, images):
    """The flagship parity property: tiling + halo == one merged array."""
    shaded = engine.run_hillshade(
        spark, images, SPEC.tile_size, script="elecolor|+igor"
    ).collect()
    assert len(shaded) == 4
    ts = SPEC.tile_size
    world = synth.expected_world_heights(SPEC)
    oracle = engine.shade_world_oracle(world, SPEC, script="elecolor|+igor")
    for row in shaded:
        tx_i = row["tile_x"] - SPEC.lon0
        ty_i = row["tile_y"] - SPEC.lat0
        rgba = codec.decode_rgba_png(bytes(row["png"]))
        # oracle is bitmap-oriented (row 0 = north): tile (tx_i, ty_i)
        # occupies rows [(n_ty-1-ty_i)*ts, ...)
        y0 = (SPEC.n_tiles_y - 1 - ty_i) * ts
        x0 = tx_i * ts
        expected = oracle[y0 : y0 + ts, x0 : x0 + ts]
        assert np.array_equal(rgba, expected), (row["tile_x"], row["tile_y"])
        assert row["total_px"] == ts * ts
        assert 0 < row["shaded_px"] <= ts * ts


def test_tiff_blocks_shade_like_png16_hgt(spark, images):
    """GeoTIFF (the reference's AW3D input) is an engine block format:
    the same world re-encoded as TIFF blocks, alternating uncompressed
    and deflate + predictor 2, hole blocks included, shades to the same
    PNG bytes tile for tile as the png16/hgt world."""
    tiff_rows, holes = [], 0
    for i, r in enumerate(images.orderBy("image_id").collect()):
        block = codec.decode_block(r["fmt"], r["bytes"], r["w"])
        holes += bool((block == DEM_HEIGHT_NONE).any())
        compression, predictor = (1, 1) if i % 2 == 0 else (8, 2)
        payload = codec.encode_tiff_gray16(
            block, compression=compression, predictor=predictor
        )
        tiff_rows.append(
            (r["image_id"], bytearray(payload), r["w"], r["h"], "tiff",
             r["caption"], r["phash"])
        )
    assert holes > 0
    tiffs = spark.createDataFrame(tiff_rows, images.schema)

    def pngs(df):
        return {
            (r["tile_x"], r["tile_y"]): bytes(r["png"])
            for r in engine.run_hillshade(
                spark, df, SPEC.tile_size, script="elecolor|+igor"
            ).collect()
        }

    want = pngs(images)
    assert len(want) == 4
    assert pngs(tiffs) == want


def test_shading_psnr_through_png_path(spark, images):
    """Decoded-pixel invariant: PNG encode/decode is lossless (PSNR=inf ≥ 40dB)."""
    shaded = engine.run_hillshade(spark, images, SPEC.tile_size).collect()
    for row in shaded:
        rgba = codec.decode_rgba_png(bytes(row["png"]))
        assert codec.psnr(rgba, rgba, peak=255.0) == float("inf")


def test_skew_duplicates_do_not_change_results(spark):
    skew_spec = WorldSpec(
        lon0=13, lat0=45, n_tiles_x=2, n_tiles_y=1,
        tile_size=30, block_size=10, skew_factor=4, skew_every=2,
    )
    base_spec = WorldSpec(
        lon0=13, lat0=45, n_tiles_x=2, n_tiles_y=1, tile_size=30, block_size=10
    )
    skew_imgs = synth.images_df(spark, skew_spec, num_partitions=4)
    assert skew_imgs.count() == 9 * 4 + 9  # tile 0 skewed ×4, tile 1 not
    tiles = engine.assemble_tiles(
        engine.parse_caption(skew_imgs), skew_spec.tile_size
    ).collect()
    for row in tiles:
        expected = synth.expected_tile_heights(base_spec, row["tile_x"], row["tile_y"])
        actual = np.frombuffer(row["heights"], dtype="<i2").reshape(30, 30)
        assert np.array_equal(actual, expected)


def test_resume_skips_completed_tiles(spark, images, tmp_path):
    out = str(tmp_path / "shaded")
    first = engine.run_hillshade(spark, images, SPEC.tile_size, output_dir=out)
    assert first.count() == 4
    # second run appends nothing: all tiles already in the manifest
    second = engine.run_hillshade(spark, images, SPEC.tile_size, output_dir=out)
    assert second.count() == 4


def test_malformed_caption_rows_are_quarantined_not_fatal(spark, images):
    bad = spark.createDataFrame(
        [("imgBAD", bytearray(b"xx"), 10, 10, "png16", "not a tile caption", 0)],
        "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long",
    )
    mixed = images.unionByName(bad)
    assert engine.invalid_caption_rows(mixed).count() == 1
    tiles = engine.assemble_tiles(engine.parse_caption(mixed), SPEC.tile_size)
    assert tiles.count() == 4  # bad row dropped, job completes


def test_resume_preserves_halo_correctness(spark, images, tmp_path):
    """Tiles shaded on resume must still see completed neighbors' strips."""
    out = str(tmp_path / "resume_halo")
    # first pass: shade ONLY tile (13,45) by filtering input blocks
    sw_only = images.where(images.caption.contains("N45E013"))
    engine.run_hillshade(spark, sw_only, SPEC.tile_size, output_dir=out)
    # resume with the full input: remaining 3 tiles get shaded
    result = engine.run_hillshade(spark, images, SPEC.tile_size, output_dir=out)
    rows = {(r["tile_x"], r["tile_y"]): r for r in result.collect()}
    assert len(rows) == 4
    world = synth.expected_world_heights(SPEC)
    oracle = engine.shade_world_oracle(world, SPEC)
    ts = SPEC.tile_size
    # tile (14,45) borders the pre-completed (13,45); its west-edge pixels
    # must match the untiled oracle (i.e. the halo strip arrived)
    r = rows[(14, 45)]
    rgba = codec.decode_rgba_png(bytes(r["png"]))
    y0 = (SPEC.n_tiles_y - 1 - 0) * ts
    assert np.array_equal(rgba, oracle[y0 : y0 + ts, ts : 2 * ts])


def test_resume_sink_fails_loudly_when_unreadable(spark, images, tmp_path):
    """Only an absent or empty sink reads as "nothing shaded yet".  A
    sink holding a non-parquet part file must fail the job instead of
    reshading every tile and appending duplicates."""
    absent = str(tmp_path / "absent")
    assert engine.run_hillshade(
        spark, images, SPEC.tile_size, output_dir=absent
    ).count() == 4
    empty = tmp_path / "empty"
    empty.mkdir()
    assert engine.run_hillshade(
        spark, images, SPEC.tile_size, output_dir=str(empty)
    ).count() == 4
    corrupt = tmp_path / "corrupt"
    corrupt.mkdir()
    (corrupt / "part-0.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="not a Parquet file"):
        engine.run_hillshade(
            spark, images, SPEC.tile_size, output_dir=str(corrupt)
        )
    assert [f.name for f in corrupt.iterdir()] == ["part-0.parquet"]


def _exchanges(df) -> list[str]:
    """The Exchange operators of ``df``'s executed plan (under AQE, the
    final plan of an actual run), without expression ids."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return [re.sub(r"#\d+", "", m) for m in
            re.findall(r"\bExchange (\w+(?:\([^)]*\))?)", plan.toString())]


def test_tile_paths_run_one_exchange(spark):
    """The engine's defining property: blocks and halo strips reach
    their tile through ONE exchange, which deals each destination tile
    to its task by grid position (``reduce_tiles``), in the default
    run_hillshade, run_tile_shade, assemble_tiles, the pyramid step and
    the projected render (raster tiles as the tile key) alike."""
    images = synth.images_df(spark, SPEC)
    shaded = engine.run_hillshade(spark, images, SPEC.tile_size)
    ts = 20
    xth = spark.createDataFrame(
        [(tx, ty, bytearray(codec.encode_xth(
            np.full((ts, ts), 100, np.int16), np.zeros((ts, ts), bool))))
         for tx in range(2) for ty in range(2)],
        "tile_x int, tile_y int, xth binary",
    )
    assembled = engine.assemble_tiles(
        engine.parse_caption(images), SPEC.tile_size
    )
    tiles = spark.createDataFrame(
        [(tx, ty, bytearray(np.zeros((ts, ts), "<i2").tobytes()))
         for tx in range(2) for ty in range(2)],
        "tile_x int, tile_y int, heights binary",
    )
    parents = pyramid.build_pyramid_level(tiles, ts, level=1)
    rendered = render.render_shaded_raster(
        spark, tiles, [(0.2, 0.2), (1.8, 0.2), (0.2, 1.8), (1.8, 1.8)],
        MapScale(5_000_000, 96), tile_size=ts, raster_tile_px=64,
    )
    for df in (shaded, engine.run_tile_shade(spark, xth, ts), assembled,
               parents, rendered):
        (exchange,) = _exchanges(df)
        assert exchange.startswith(
            "shufflepartitionidpassthrough(direct_shuffle_partition_id("
        )


def _busiest_task(n: int, w: int, h: int, x0: int, y0: int) -> int:
    """Tiles on the busiest of ``n`` tasks when the W×H grid at origin
    (x0, y0) is dealt by ``engine._DEAL_STRIDE``."""
    xs, ys = np.meshgrid(np.arange(x0, x0 + w), np.arange(y0, y0 + h))
    return np.bincount(
        ((xs + engine._DEAL_STRIDE * ys) % n).ravel(), minlength=n
    ).max()


@pytest.mark.parametrize("n", [2, 3, 4, 5, 6, 7, 8, 10, 12, 16, 24, 32, 48, 64])
def test_tile_deal_balances_every_small_grid(n):
    """Spark-free: for every W×H grid with W, H ≤ 12, at origins on
    both sides of the equator and meridian, no task gets more than
    twice its fair share of tiles; the bench grids (4×2, 4×4) at n = 4
    come out exact."""
    for w in range(1, 13):
        for h in range(1, 13):
            fair = -(-w * h // n)
            for x0, y0 in [(0, 0), (13, 45), (-7, -3), (179, -89)]:
                busiest = _busiest_task(n, w, h, x0, y0)
                assert busiest <= 2 * fair, (w, h, x0, y0, busiest)
                if n == 4 and (w, h) in [(4, 2), (4, 4)]:
                    assert busiest == fair, (w, h, x0, y0, busiest)


@pytest.mark.parametrize("n", [1000, 8000, 16000, 64800])
def test_tile_deal_balances_the_whole_world(n):
    """Spark-free: the 360×180 tiles of the whole world over a
    cluster's worth of tasks — no task gets more than twice its fair
    share."""
    assert _busiest_task(n, 360, 180, -180, -90) <= 2 * -(-64800 // n)


def test_run_hillshade_deals_tiles_evenly(spark):
    """A 4×2 world at shade_partitions=4 runs as 4 reduce tasks of 2
    tiles each.  A hash of the tile key puts 1/2/2/3 tiles on the tasks
    at this origin."""
    spec = WorldSpec(
        lon0=13, lat0=45, n_tiles_x=4, n_tiles_y=2, tile_size=30,
        block_size=10,
    )
    shaded = engine.run_hillshade(
        spark, synth.images_df(spark, spec), spec.tile_size,
        shade_partitions=4,
    )
    tasks = [r["task"] for r in shaded.select(
        F.spark_partition_id().alias("task")).collect()]
    assert sorted(np.bincount(tasks)) == [2, 2, 2, 2]


def test_fused_lineage_counts_duplicate_blocks(spark):
    """The shaded output's ``n_blocks`` counts every input row of its
    tile, duplicates included: skewed tiles carry their 8x duplicate
    rows in the lineage count although only the winners are decoded."""
    skewed = synth.WorldSpec(
        lon0=13, lat0=45, n_tiles_x=2, n_tiles_y=2,
        tile_size=30, block_size=10, skew_factor=8, skew_every=2,
    )
    images_sk = synth.images_df(spark, skewed, num_partitions=4)
    n_blocks = {
        (r["tile_x"], r["tile_y"]): r["n_blocks"]
        for r in engine.run_hillshade(
            spark, images_sk, skewed.tile_size
        ).collect()
    }
    assert len(n_blocks) == 4
    assert max(n_blocks.values()) == 8 * skewed.blocks_per_tile
    assert min(n_blocks.values()) == skewed.blocks_per_tile


def test_tile_shade_xth_water_pipeline(spark):
    """XTH tiles (heights + water bit) through the tile-shade pipeline:
    water pixels get the water color, land gets hillshade, and the
    heights decode survives the packed halo exchange."""
    ts = 40
    world = np.full((2 * ts, 2 * ts), 300, dtype=np.int16)
    world[10:30, ts - 6 : ts + 6] = -20      # lake across the tile boundary
    world[5, 5] = DEM_HEIGHT_NONE
    water = (world <= 0) & (world != DEM_HEIGHT_NONE)
    rows = []
    for by in range(2):
        for bx in range(2):
            sl = np.s_[by * ts : (by + 1) * ts, bx * ts : (bx + 1) * ts]
            rows.append(
                (bx, by, bytearray(codec.encode_xth(world[sl], water[sl])))
            )
    df = spark.createDataFrame(rows, "tile_x int, tile_y int, xth binary")
    # outline-free script so lake pixels carry the pure water color
    script = ("solid(color=#ffffff)|+lambert|+slope(compose=darken)"
              "|+igor(compose=darken)|+water")
    out = {
        (r["tile_x"], r["tile_y"]): r
        for r in engine.run_tile_shade(spark, df, ts, script=script).collect()
    }
    # default pipeline (with wateroutline) smoke: same tile set, opaque
    full = engine.run_tile_shade(spark, df, ts).collect()
    assert len(full) == 4 and all(r["shaded_px"] == ts * ts for r in full)
    assert len(out) == 4
    water_rgba = [73, 126, 173, 255]
    for (tx, ty), r in out.items():
        rgba = codec.decode_rgba_png(bytes(r["png"]))
        assert rgba.shape == (ts, ts, 4)
        # bitmap row 0 = north; world row y maps to bitmap row ts-1-y
        for y in range(ts):
            for x in (0, ts // 2, ts - 1):
                wy, wx = ty * ts + y, tx * ts + x
                if water[wy, wx]:
                    assert rgba[ts - 1 - y, x].tolist() == water_rgba, (tx, ty, x, y)
        # land pixels are opaque (solid background composited)
        land_bitmap = ~water[ty * ts : (ty + 1) * ts, tx * ts : (tx + 1) * ts][::-1]
        assert (rgba[..., 3][land_bitmap] == 255).all()
    # the full 240-cell lake is colored across the boundary
    colored = sum(
        int(
            (codec.decode_rgba_png(bytes(r["png"])) == water_rgba).all(axis=-1).sum()
        )
        for r in out.values()
    )
    assert colored == int(water.sum()) == 20 * 12


def test_image_phash_dedup_invariants(spark):
    """Exact image dedup by the input-hint phash column: every input row
    lands in exactly one group, keep_id is the lexicographic min, and
    duplicate blocks (the synthetic land-tile skew) collapse."""
    from demeton_spark.queries import q_image_phash_dedup
    from demeton_spark.synth import WorldSpec, images_df

    out = q_image_phash_dedup(spark, "/root/testdata/sf0.001").toPandas()
    spec = WorldSpec(
        lon0=13, lat0=45, n_tiles_x=2, n_tiles_y=2, tile_size=60,
        block_size=20, skew_factor=3,
    )
    src = images_df(spark, spec).select("image_id", "phash").toPandas()
    assert out["copies"].sum() == len(src)          # partition of the input
    assert out["phash"].is_unique
    expected_keep = src.groupby("phash")["image_id"].min()
    got_keep = out.set_index("phash")["keep_id"]
    assert got_keep.sort_index().equals(expected_keep.sort_index())
    assert (out["copies"] >= 1).all() and (out["copies"] > 1).any()


def test_polygon_clip_tiled_equals_untiled_oracle(spark, images):
    """Raster clipped to a polygon through the distributed pipeline must
    be pixel-identical to clipping the untiled oracle; tiles fully
    outside the polygon bbox are pruned before the shuffle."""
    # triangle covering parts of the west tiles only (lon 13..14)
    poly = [(13.1, 45.2), (13.9, 45.4), (13.3, 46.7)]
    shaded = engine.run_hillshade(
        spark, images, SPEC.tile_size, script="elecolor|+igor",
        clip_polygon=poly,
    ).collect()
    # bbox cover: tile_x in {13}, tile_y in {45, 46} → east tiles pruned
    assert sorted((r["tile_x"], r["tile_y"]) for r in shaded) == [
        (13, 45), (13, 46),
    ]
    world = synth.expected_world_heights(SPEC)
    oracle = engine.shade_world_oracle(
        world, SPEC, script="elecolor|+igor",
        clip_poly=np.asarray(poly, dtype=np.float64),
    )
    ts = SPEC.tile_size
    total_visible = 0
    for r in shaded:
        rgba = codec.decode_rgba_png(bytes(r["png"]))
        tx_i = r["tile_x"] - SPEC.lon0
        ty_i = r["tile_y"] - SPEC.lat0
        y0 = (SPEC.n_tiles_y - 1 - ty_i) * ts
        x0 = tx_i * ts
        assert np.array_equal(rgba, oracle[y0 : y0 + ts, x0 : x0 + ts])
        assert r["shaded_px"] == int(
            np.count_nonzero(rgba[..., 3] > 0)
        )
        total_visible += r["shaded_px"]
    assert 0 < total_visible < 2 * ts * ts  # genuinely clipped


def test_blur_prefilter_tiled_equals_untiled(spark, images):
    """Low-pass prefilter (2-px halo exchange): tiled result must be
    pixel-identical to blurring + shading the untiled world."""
    shaded = engine.run_hillshade(
        spark, images, SPEC.tile_size, script="elecolor|+igor",
        prefilter="blur",
    ).collect()
    world = synth.expected_world_heights(SPEC)
    oracle = engine.shade_world_oracle(
        world, SPEC, script="elecolor|+igor", prefilter="blur"
    )
    ts = SPEC.tile_size
    assert len(shaded) == 4
    for r in shaded:
        rgba = codec.decode_rgba_png(bytes(r["png"]))
        tx_i = r["tile_x"] - SPEC.lon0
        ty_i = r["tile_y"] - SPEC.lat0
        y0 = (SPEC.n_tiles_y - 1 - ty_i) * ts
        x0 = tx_i * ts
        assert np.array_equal(rgba, oracle[y0 : y0 + ts, x0 : x0 + ts])


def test_sharpen_prefilter_changes_output_but_not_holes(spark, images):
    plain = {
        (r["tile_x"], r["tile_y"]): (bytes(r["png"]), r["shaded_px"])
        for r in engine.run_hillshade(
            spark, images, SPEC.tile_size, script="elecolor|+igor"
        ).collect()
    }
    sharp = {
        (r["tile_x"], r["tile_y"]): (bytes(r["png"]), r["shaded_px"])
        for r in engine.run_hillshade(
            spark, images, SPEC.tile_size, script="elecolor|+igor",
            prefilter="sharpen(amount=2.0)",
        ).collect()
    }
    assert set(plain) == set(sharp)
    assert any(plain[k][0] != sharp[k][0] for k in plain)
    # hole pixels stay transparent: sharpening never invents data
    for k in plain:
        assert sharp[k][1] <= plain[k][1] + 0  # no new shaded pixels


def test_custom_shader_registry_reaches_executors(spark, images):
    """The §2.10 UDF extension surface: a shader registered at runtime
    on the driver must run inside executor tasks (the engine snapshots
    the registry into the UDF closure — a worker's freshly imported
    module never sees driver-side mutations).  Unknown step names are
    rejected like the reference's factory (Pipeline/Common.fs:35-36)."""
    from demeton_spark import pipeline as P

    def redtint(ctx, params):
        out = np.zeros((*ctx.heights.shape, 4), dtype=np.uint8)
        out[..., 0] = 200
        out[..., 3] = np.where(np.isnan(ctx.heights), 0, 60).astype(np.uint8)
        return out

    P.register_shader("redtint", redtint)
    try:
        tinted = {
            (r["tile_x"], r["tile_y"]): bytes(r["png"])
            for r in engine.run_hillshade(
                spark, images, SPEC.tile_size, script="elecolor|+redtint"
            ).collect()
        }
    finally:
        del P.SHADER_REGISTRY["redtint"]
    plain = {
        (r["tile_x"], r["tile_y"]): bytes(r["png"])
        for r in engine.run_hillshade(
            spark, images, SPEC.tile_size, script="elecolor"
        ).collect()
    }
    assert set(tinted) == set(plain)
    k = next(iter(tinted))
    a = codec.decode_rgba_png(tinted[k]).astype(np.int64)
    b = codec.decode_rgba_png(plain[k]).astype(np.int64)
    # the custom layer is (200, 0, 0, 60) over the opaque elecolor base:
    # out = rint((src*60 + base*195)/255) exactly, channel-wise
    visible = b[..., 3] == 255
    for ch, src in ((0, 200), (1, 0), (2, 0)):
        expected = np.rint(
            (src * 60 + b[..., ch] * 195) / 255.0
        ).astype(np.int64)
        assert (a[..., ch][visible] == expected[visible]).all()
    assert (a != b).any()  # tint visibly applied

    with pytest.raises(Exception, match="Unrecognized|nosuchshader"):
        engine.run_hillshade(
            spark, images, SPEC.tile_size, script="nosuchshader"
        ).collect()


@pytest.mark.parametrize(
    "spec",
    [
        # single-block tiles: each block is simultaneously on every
        # tile edge and donates strips in all 8 directions
        WorldSpec(lon0=13, lat0=45, n_tiles_x=2, n_tiles_y=2,
                  tile_size=24, block_size=24),
        # fine block grid
        WorldSpec(lon0=13, lat0=45, n_tiles_x=2, n_tiles_y=2,
                  tile_size=40, block_size=8),
        # non-square world: a 3x1 strip exercises east-west halos only
        WorldSpec(lon0=10, lat0=50, n_tiles_x=3, n_tiles_y=1,
                  tile_size=30, block_size=10),
        # skewed duplicates + fine grid
        WorldSpec(lon0=13, lat0=45, n_tiles_x=2, n_tiles_y=2,
                  tile_size=30, block_size=10, skew_factor=4),
    ],
    ids=["single-block-tiles", "fine-grid", "nonsquare-world", "skewed"],
)
def test_tiled_parity_across_world_shapes(spark, spec):
    """Fused single-shuffle pipeline == untiled oracle for every world
    shape (block==tile, fine grids, non-square, duplicate-heavy)."""
    shaded = engine.run_hillshade(
        spark, synth.images_df(spark, spec), spec.tile_size,
        script="elecolor|+igor",
    ).collect()
    assert len(shaded) == spec.n_tiles_x * spec.n_tiles_y
    world = synth.expected_world_heights(spec)
    oracle = engine.shade_world_oracle(world, spec, script="elecolor|+igor")
    ts = spec.tile_size
    for r in shaded:
        rgba = codec.decode_rgba_png(bytes(r["png"]))
        tx_i = r["tile_x"] - spec.lon0
        ty_i = r["tile_y"] - spec.lat0
        y0 = (spec.n_tiles_y - 1 - ty_i) * ts
        x0 = tx_i * ts
        assert np.array_equal(rgba, oracle[y0 : y0 + ts, x0 : x0 + ts]), (
            f"tile ({r['tile_x']},{r['tile_y']}) mismatch for {spec}"
        )


def test_parse_caption_southern_western_hemispheres(spark):
    rows = [
        ("i1", bytearray(b""), 10, 10, "png16",
         "tile S02W071 block (1,2)", 0),
        ("i2", bytearray(b""), 10, 10, "png16",
         "tile N00E000 block (0,0)", 0),
        ("i3", bytearray(b""), 10, 10, "png16",
         "tile S46W180 block (2,1)", 0),
    ]
    df = spark.createDataFrame(
        rows,
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long",
    )
    got = {
        r["image_id"]: (r["tile_x"], r["tile_y"], r["bx"], r["by"])
        for r in engine.parse_caption(df).collect()
    }
    assert got == {
        "i1": (-71, -2, 1, 2),
        "i2": (0, 0, 0, 0),
        "i3": (-180, -46, 2, 1),
    }
    # round-trip through the shared tile-name formatter
    assert tile_name(0, -71, -2) == "S02W071"
    assert tile_name(0, -180, -46) == "S46W180"


def test_empty_input_produces_no_tiles(spark):
    empty = spark.createDataFrame(
        [],
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long",
    )
    assert engine.run_hillshade(spark, empty, 30).count() == 0


@pytest.mark.parametrize("large", [False, True], ids=["string", "large"])
@pytest.mark.parametrize("k", [1, 2])
def test_emit_parts_passes_blocks_through_and_cuts_strips(k, large):
    """Spark-free: the map-side emitter returns its input batch as the
    "B" parts, byte for byte, then the strips its border blocks donate,
    in a batch of the input's own Arrow schema."""
    spec = WorldSpec(lon0=13, lat0=45, n_tiles_x=2, n_tiles_y=1,
                     tile_size=30, block_size=10)
    batch = _world_blocks_batch(spec, large)
    out = list(engine.emit_parts(batch, spec.tile_size, k))
    assert len(out) == 2 and out[0].equals(batch)
    strips = out[1]
    assert strips.schema == batch.schema
    # each tile's interior block (1, 1) donates nothing
    assert strips.num_rows and not any(
        (bx, by) == (1, 1) for bx, by in zip(
            strips.column("bx").to_pylist(), strips.column("by").to_pylist()))


def _file_scans(df) -> int:
    """FileScan operators in ``df``'s final executed plan."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return len(re.findall(r"\bFileScan\b", plan.toString()))


def test_run_hillshade_scans_its_input_once(spark, images, tmp_path):
    """Blocks and halo strips come out of one pass over the images
    table: the final plan holds a single FileScan of it."""
    path = str(tmp_path / "images")
    images.write.parquet(path)
    shaded = engine.run_hillshade(
        spark, spark.read.parquet(path), SPEC.tile_size)
    assert _file_scans(shaded) == 1


def test_large_var_types_shade_the_same_bytes(spark, images):
    """With Arrow's large string/binary types the emitter's strip
    batches keep the input's types and the tiles come out the same."""
    key = "spark.sql.execution.arrow.useLargeVarTypes"
    want = {(r["tile_x"], r["tile_y"]): bytes(r["png"]) for r in
            engine.run_hillshade(spark, images, SPEC.tile_size).collect()}
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        got = {(r["tile_x"], r["tile_y"]): bytes(r["png"]) for r in
               engine.run_hillshade(spark, images, SPEC.tile_size).collect()}
    finally:
        spark.conf.set(key, prev)
    assert got == want and len(got) == 4
