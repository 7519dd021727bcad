"""Structured Streaming: availableNow backfill over a parquet events
dir must agree with the identical batch plan (the geocell and polygon
windowed counts share one code path)."""

import datetime as dt

import pytest

from demeton_spark import streaming


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    for user in (1, 2):
        # two sessions per user: a burst, a >1h gap, another burst
        for minutes in (0, 10, 20, 200, 210):
            rows.append(
                (
                    eid,
                    user,
                    "click" if eid % 2 == 0 else "view",
                    base + dt.timedelta(minutes=minutes + user),
                    float(eid),
                )
            )
            eid += 1
    path = str(tmp_path_factory.mktemp("events_stream") / "events")
    spark.createDataFrame(rows, streaming.EVENTS_SCHEMA).coalesce(1).write.parquet(path)
    return path


def test_streaming_tile_assembly_spans_micro_batches(spark, tmp_path):
    """Blocks of every tile are deliberately split across two parquet
    files (two micro-batches with maxFilesPerTrigger=1): no tile can
    assemble within one batch, so the state store must buffer partial
    tiles across batches.  The emitted heights must be byte-identical
    to the batch assemble_tiles path."""
    from demeton_spark import engine, synth
    from demeton_spark.synth import WorldSpec

    spec = WorldSpec(
        lon0=13, lat0=45, n_tiles_x=2, n_tiles_y=2, tile_size=30,
        block_size=10, skew_factor=3,
    )
    images = synth.images_df(spark, spec)
    pdf = images.toPandas()
    # split by block-position parity: every tile has blocks in both halves
    import re as _re

    def parity(caption):
        m = _re.search(r"block \((\d+),(\d+)\)", caption)
        return (int(m.group(1)) + int(m.group(2))) % 2

    mask = pdf["caption"].map(parity) == 0
    src = str(tmp_path / "img_stream")
    schema = streaming.IMAGES_SCHEMA
    spark.createDataFrame(pdf[mask], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(pdf[~mask], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream_in = streaming.read_images_stream(spark, src, max_files_per_trigger=1)
    got = streaming.run_to_memory(
        streaming.streaming_assemble_tiles(stream_in, spec.tile_size),
        "stream_tiles",
        str(tmp_path / "ckpt_tiles"),
        output_mode="append",
    ).collect()

    batch = {
        (r["tile_x"], r["tile_y"]): r
        for r in engine.assemble_tiles(
            engine.parse_caption(images), spec.tile_size
        ).collect()
    }
    assert len(got) == len(batch) == 4
    for r in got:
        b = batch[(r["tile_x"], r["tile_y"])]
        assert bytes(r["heights"]) == bytes(b["heights"])
        assert r["n_blocks"] == b["n_blocks"]


def test_streaming_hillshade_matches_batch(spark, tmp_path):
    """Incremental hillshade with cross-batch halo exchange: blocks
    split across two micro-batches so no tile can shade in batch one;
    final PNGs must be byte-identical to the batch pipeline's."""
    from demeton_spark import engine, synth
    from demeton_spark.synth import WorldSpec

    spec = WorldSpec(
        lon0=13, lat0=45, n_tiles_x=2, n_tiles_y=2, tile_size=30,
        block_size=10, skew_factor=3,
    )
    images = synth.images_df(spark, spec)
    pdf = images.toPandas()
    import re as _re

    def parity(caption):
        m = _re.search(r"block \((\d+),(\d+)\)", caption)
        return (int(m.group(1)) + int(m.group(2))) % 2

    mask = pdf["caption"].map(parity) == 0
    src = str(tmp_path / "img_stream2")
    schema = streaming.IMAGES_SCHEMA
    spark.createDataFrame(pdf[mask], schema).coalesce(1).write.mode(
        "append").parquet(src)
    spark.createDataFrame(pdf[~mask], schema).coalesce(1).write.mode(
        "append").parquet(src)

    bounds = (spec.lon0, spec.lat0,
              spec.lon0 + spec.n_tiles_x - 1, spec.lat0 + spec.n_tiles_y - 1)
    stream_in = streaming.read_images_stream(spark, src, max_files_per_trigger=1)
    got = {
        (r["tile_x"], r["tile_y"]): r
        for r in streaming.run_to_memory(
            streaming.streaming_hillshade(stream_in, spec.tile_size, bounds),
            "stream_shaded",
            str(tmp_path / "ckpt_shade"),
            output_mode="append",
        ).collect()
    }
    batch = {
        (r["tile_x"], r["tile_y"]): r
        for r in engine.run_hillshade(
            spark, images, spec.tile_size, script="elecolor|+igor"
        ).collect()
    }
    assert set(got) == set(batch) == {(13, 45), (14, 45), (13, 46), (14, 46)}
    from demeton_spark import codec

    for k in got:
        assert codec.decode_rgba_png(bytes(got[k]["png"])).tobytes() == \
            codec.decode_rgba_png(bytes(batch[k]["png"])).tobytes()
        assert got[k]["shaded_px"] == batch[k]["shaded_px"]
        assert got[k]["n_blocks"] == batch[k]["n_blocks"]


def test_streaming_hillshade_clip_and_prefilter_match_batch(spark, tmp_path):
    """Streaming hillshade with a clip polygon AND a blur prefilter
    (2-px buffered halo) must match the batch pipeline byte-for-byte,
    including the pruned tile set."""
    from demeton_spark import codec, engine, synth
    from demeton_spark.synth import WorldSpec

    spec = WorldSpec(
        lon0=13, lat0=45, n_tiles_x=2, n_tiles_y=2, tile_size=30,
        block_size=10,
    )
    images = synth.images_df(spark, spec)
    pdf = images.toPandas()
    import re as _re

    def parity(caption):
        m = _re.search(r"block \((\d+),(\d+)\)", caption)
        return (int(m.group(1)) + int(m.group(2))) % 2

    mask = pdf["caption"].map(parity) == 0
    src = str(tmp_path / "img_stream3")
    schema = streaming.IMAGES_SCHEMA
    spark.createDataFrame(pdf[mask], schema).coalesce(1).write.mode(
        "append").parquet(src)
    spark.createDataFrame(pdf[~mask], schema).coalesce(1).write.mode(
        "append").parquet(src)

    # max lon 13.98: the east tiles prune (ceil-1 = 13) but the kept
    # tiles' last pixel column (lon 13.9667) is INSIDE the polygon, so
    # its Horn window needs halo strips donated by the clipped-out
    # (14, y) tiles — completeness must wait for them (sender universe
    # is the world bounds, not the clip cover)
    poly = [(13.1, 45.2), (13.98, 45.4), (13.3, 46.7)]
    bounds = (13, 45, 14, 46)
    stream_in = streaming.read_images_stream(spark, src, max_files_per_trigger=1)
    got = {
        (r["tile_x"], r["tile_y"]): r
        for r in streaming.run_to_memory(
            streaming.streaming_hillshade(
                stream_in, spec.tile_size, bounds,
                clip_polygon=poly, prefilter="blur",
            ),
            "stream_shaded_clip",
            str(tmp_path / "ckpt_shade_clip"),
            output_mode="append",
        ).collect()
    }
    batch = {
        (r["tile_x"], r["tile_y"]): r
        for r in engine.run_hillshade(
            spark, images, spec.tile_size, script="elecolor|+igor",
            clip_polygon=poly, prefilter="blur",
        ).collect()
    }
    # bbox cover prunes the east tiles in both modes
    assert set(got) == set(batch) == {(13, 45), (13, 46)}
    for k in got:
        assert codec.decode_rgba_png(bytes(got[k]["png"])).tobytes() == \
            codec.decode_rgba_png(bytes(batch[k]["png"])).tobytes()
        assert got[k]["shaded_px"] == batch[k]["shaded_px"]


@pytest.mark.parametrize("op", ["assemble", "hillshade"])
def test_late_duplicate_after_emit_drops(spark, tmp_path, op):
    """Both tile operators emit a tile once: a third micro-batch that
    re-sends a corner block of an already emitted tile (its strips go to
    three emitted neighbours), under a larger
    image_id (so it would win the block position) and with another
    block's pixels, adds no row and changes no emitted byte."""
    import re as _re

    from demeton_spark import engine, synth
    from demeton_spark.synth import WorldSpec

    spec = WorldSpec(
        lon0=13, lat0=45, n_tiles_x=2, n_tiles_y=2, tile_size=30,
        block_size=10,
    )
    images = synth.images_df(spark, spec)
    pdf = images.toPandas()

    def parity(caption):
        m = _re.search(r"block \((\d+),(\d+)\)", caption)
        return (int(m.group(1)) + int(m.group(2))) % 2

    mask = pdf["caption"].map(parity) == 0
    late = pdf[pdf["caption"] == "tile N45E013 block (2,2)"].head(1).copy()
    other = pdf[pdf["caption"] == "tile N45E013 block (1,1)"].iloc[0]
    late["image_id"] = "zzz-late"
    late["bytes"] = [other["bytes"]]
    late["fmt"] = other["fmt"]
    src = str(tmp_path / f"img_late_{op}")
    for part in (pdf[mask], pdf[~mask], late):
        spark.createDataFrame(part, streaming.IMAGES_SCHEMA).coalesce(1).write.mode(
            "append").parquet(src)

    stream_in = streaming.read_images_stream(spark, src, max_files_per_trigger=1)
    if op == "assemble":
        stream = streaming.streaming_assemble_tiles(stream_in, spec.tile_size)
        batch = engine.assemble_tiles(engine.parse_caption(images), spec.tile_size)
        col = "heights"
    else:
        bounds = (13, 45, 14, 46)
        stream = streaming.streaming_hillshade(stream_in, spec.tile_size, bounds)
        batch = engine.run_hillshade(
            spark, images, spec.tile_size, script="elecolor|+igor")
        col = "png"
    got = streaming.run_to_memory(
        stream, f"stream_late_{op}", str(tmp_path / f"ckpt_late_{op}")
    ).collect()
    want = {(r["tile_x"], r["tile_y"]): r for r in batch.collect()}
    assert len(got) == len(want) == 4
    for r in got:
        b = want[(r["tile_x"], r["tile_y"])]
        assert bytes(r[col]) == bytes(b[col])
        assert r["n_blocks"] == b["n_blocks"]


def test_streaming_exact_dedup_matches_batch_keep_list(spark, tmp_path):
    """streaming_exact_dedup must emit exactly the batch keep list (min
    image_id per phash) when winners arrive in the first micro-batch,
    and must drop every later duplicate across batch boundaries."""
    import pandas as pd

    from demeton_spark.synth import WorldSpec, generate_images_pdf
    import numpy as np

    spec = WorldSpec(
        lon0=13, lat0=45, n_tiles_x=2, n_tiles_y=2, tile_size=60,
        block_size=20, skew_factor=3, skew_every=2,
    )
    pdf = generate_images_pdf(spec, np.arange(spec.n_rows))
    keep_ids = set(pdf.groupby("phash")["image_id"].min())
    src = str(tmp_path / "dedup_stream")
    winners = pdf[pdf["image_id"].isin(keep_ids)]
    losers = pdf[~pdf["image_id"].isin(keep_ids)]
    assert len(losers) > 0  # the skew knob actually made duplicates
    schema = streaming.IMAGES_SCHEMA
    spark.createDataFrame(winners, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(losers, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream_in = streaming.read_images_stream(spark, src, max_files_per_trigger=1)
    got = streaming.run_to_memory(
        streaming.streaming_exact_dedup(stream_in),
        "stream_dedup",
        str(tmp_path / "ckpt_dedup"),
        output_mode="append",
    ).collect()
    assert {r["image_id"] for r in got} == keep_ids
    assert len(got) == len(keep_ids)  # one emission per phash, ever


def test_geocell_counts_stream_equals_batch(spark, events_dir, tmp_path):
    """The Catalyst geocell encode is stateless projections, so the
    same plan runs under Structured Streaming: windowed per-cell counts
    from the stream equal the batch run, and cells are valid level-8
    compact ids."""
    stream_in = streaming.read_events_stream(
        spark, events_dir, max_files_per_trigger=1
    )
    got = streaming.run_to_memory(
        streaming.geocell_event_counts(stream_in),
        "cell_counts",
        str(tmp_path / "ckpt_cells"),
        output_mode="complete",
    ).collect()

    batch = streaming.geocell_event_counts(
        spark.read.schema(streaming.EVENTS_SCHEMA).parquet(events_dir)
    ).collect()

    canon = lambda rows: sorted(  # noqa: E731
        (r["window_start"], r["cell_id"], r["n_events"], r["sum_value"])
        for r in rows
    )
    assert canon(got) == canon(batch)
    assert len(batch) > 0
    assert all(0 <= r["cell_id"] < 6 * 4**8 for r in batch)


def test_polygon_counts_stream_equals_batch(spark, events_dir, tmp_path):
    """The unrolled crossing-number parity is a stateless projection,
    so streaming points-in-polygons equals the batch run; a numpy PIP
    over the same derived points pins the geometry."""
    import numpy as np

    from demeton_spark.geometry import points_in_polygon
    from demeton_spark.zonal import zonal_demo_polygons

    # a polygon covering most of the world (all fixture points), one
    # small triangle (exactly one point), one empty
    polys = [
        (0, [(13.0, 45.0), (14.9, 45.0), (14.9, 46.9), (13.0, 46.9)]),
        (1, [(13.2, 45.7), (13.4, 45.7), (13.3, 45.95)]),
        (2, [(13.01, 45.01), (13.02, 45.01), (13.015, 45.02)]),
    ]
    stream_in = streaming.read_events_stream(
        spark, events_dir, max_files_per_trigger=1
    )
    got = streaming.run_to_memory(
        streaming.polygon_event_counts(stream_in, polys=polys),
        "poly_counts",
        str(tmp_path / "ckpt_polys"),
        output_mode="complete",
    ).collect()

    batch_df = spark.read.schema(streaming.EVENTS_SCHEMA).parquet(events_dir)
    batch = streaming.polygon_event_counts(batch_df, polys=polys).collect()

    canon = lambda rows: sorted(  # noqa: E731
        (r["window_start"], r["poly_id"], r["n_events"], r["sum_value"])
        for r in rows
    )
    assert canon(got) == canon(batch)
    # points span multiple windows AND multiple polygons
    assert len({r["window_start"] for r in batch}) > 1
    assert len({r["poly_id"] for r in batch}) == 2  # poly 2 is empty

    # numpy oracle: total hits per polygon across all windows
    ev = batch_df.select("event_id", "user_id").toPandas()
    lon = (ev["event_id"] * 48271 % 1999).astype(float) / 1999.0 * 2.0 + 13.0
    lat = (ev["user_id"] * 16807 % 1997).astype(float) / 1997.0 * 2.0 + 45.0
    want = {}
    for pid, verts in polys:
        vx, vy = zip(*verts)
        n = int(points_in_polygon(
            lon.to_numpy(), lat.to_numpy(), np.asarray(vx), np.asarray(vy)
        ).sum())
        if n:
            want[pid] = n
    assert want[0] == len(ev)  # the big quad contains every point
    got_totals = {}
    for r in batch:
        got_totals[r["poly_id"]] = got_totals.get(r["poly_id"], 0) + r["n_events"]
    assert got_totals == want

    # the default polygon family also runs (smoke: at least parses/plans)
    assert streaming.polygon_event_counts(batch_df).columns == [
        "window_start", "poly_id", "n_events", "sum_value",
    ]
    assert zonal_demo_polygons()  # referenced default family exists
