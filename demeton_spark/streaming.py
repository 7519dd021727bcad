"""Structured Streaming operators (engine extras — SURVEY.md §2.11).

The reference is batch-only; its incremental behaviors (negative cache,
resumable import) map to the checkpoint manifest in ``engine.py``.  For
true stream processing the engine exposes watermarked tumbling-window
counts per geocell and per polygon over an events stream, plus a
file-source factory so the same parquet layout works batch or
streaming.  The window counts keep their state Spark-native
(``window`` + watermark).  Two operators keep Python state through
``applyInPandasWithState``: ``buffered_tiles`` (a tile's parts until
``engine.needed_parts`` are in, then a tombstone) and
``streaming_exact_dedup`` (seen hashes).  The tile operator carries no
tile logic of its own: ``streaming_assemble_tiles`` feeds it the
engine's blocks and finishes with the engine's assemble function,
``engine.tile_assembler`` — the batch ``assemble_tiles``'s own — and
``streaming_hillshade`` feeds it ``engine.hillshade_parts`` (pruned to
the world ∩ clip cover) and finishes with the engine's shade function,
``engine.tile_shader`` — the batch ``run_hillshade``'s own.

At scale: the file source incrementally lists new files per
micro-batch; watermarks bound the state store; ``availableNow`` gives
exactly-once backfill over existing data with the same code path as the
live stream.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: schema of the events table (TESTDATA.md) for the streaming source —
#: streaming file sources cannot infer schemas
EVENTS_SCHEMA = (
    "event_id long, user_id long, event_type string, ts timestamp_ntz, "
    "value double"
)


def read_events_stream(
    spark: SparkSession, events_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming scan of an events parquet directory."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(events_dir)


#: the event aggregates' time key: 1-hour tumbling windows, with late
#: data accepted for 2 hours
WINDOW = "1 hour"
WATERMARK_DELAY = "2 hours"

#: cell level of :func:`geocell_event_counts`
EVENT_CELL_LEVEL = 8


def _window_counts(rows: DataFrame, key: str, sum_value) -> DataFrame:
    """The tail of every windowed count: watermark ``ts``, then per
    (tumbling window, ``key``) the event count and ``sum_value`` (an
    aggregate Column), keyed by ``window_start``."""
    return (
        rows.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.window("ts", WINDOW).alias("win"), key)
        .agg(F.count("*").alias("n_events"), sum_value.alias("sum_value"))
        .select(F.col("win.start").alias("window_start"), key, "n_events",
                "sum_value")
    )


def geocell_event_counts(events: DataFrame) -> DataFrame:
    """Windowed per-geocell event counts: the streaming face of the
    S2-style cell index (queries.geocell_assign) — each event row is
    cell-encoded by the same Catalyst-only Hilbert chain (stateless
    projections, so it runs unchanged under Structured Streaming) and
    aggregated per (tumbling window, cell).  This is the live-ingest
    shape of the north rule's "assign every row via the cell index":
    watermark bounds the state store, and the (window, cell) key is
    what a 10^12-row firehose shards its state on."""
    from .queries import _with_geocell, event_lonlat_cols

    lon, lat = event_lonlat_cols()
    pts = events.withColumn("ts", F.col("ts").cast("timestamp")).select(
        "ts", "value", lon.alias("lon"), lat.alias("lat")
    )
    cells = _with_geocell(pts, EVENT_CELL_LEVEL, keep=["ts", "value"])
    return _window_counts(cells, "cell_id", F.round(F.sum("value"), 6))


def polygon_event_counts(events: DataFrame, polys: list | None = None) -> DataFrame:
    """Windowed per-polygon event counts: streaming points-in-polygons.

    Each event row evaluates the crossing-number test against every
    (static, broadcast-literal) polygon as a stateless projection —
    vertices are plain Python floats unrolled into the expression, the
    streaming twin of ``queries.q_geo_points_in_polygons``'s edge-join
    parity.  The ONLY stateful operator is the final watermarked
    (window, polygon) count, so state is bounded by polygons × open
    windows regardless of stream volume.  Points derive in-world the
    way ``geo_point_elevation`` derives them.
    """
    if polys is None:
        from .zonal import zonal_demo_polygons

        polys = zonal_demo_polygons()
    from .queries import _pip_parity_col, pelev_lonlat_cols

    ts = F.col("ts").cast("timestamp")
    lon, lat = pelev_lonlat_cols()
    pts = events.select(
        ts.alias("ts"), "value", lon.alias("lon"), lat.alias("lat")
    )
    hit_cols = [
        F.when(
            _pip_parity_col(F.col("lon"), F.col("lat"), verts), F.lit(pid)
        ).cast("int")
        for pid, verts in polys
    ]
    hits = pts.select(
        "ts", "value", F.explode(F.array(*hit_cols)).alias("poly_id")
    ).where(F.col("poly_id").isNotNull())
    return _window_counts(hits, "poly_id", F.round(F.sum("value"), 6))


#: input schema of the images table (BASELINE.json input_hint) for the
#: streaming file source
IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)

#: a tile's buffered parts (engine.PART_SCHEMA columns as arrays, in
#: _BUFFER_COLUMNS order) plus the tombstone set once it was emitted
_PARTS_STATE_SCHEMA = (
    "done boolean, parts array<string>, bxs array<int>, bys array<int>, "
    "ids array<string>, ws array<int>, hs array<int>, fmts array<string>, "
    "blobs array<binary>"
)
_BUFFER_COLUMNS = ("part", "bx", "by", "image_id", "w", "h", "fmt", "data")
_TOMBSTONE = (True, *([] for _ in _BUFFER_COLUMNS))


def read_images_stream(
    spark: SparkSession, images_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming scan of an images parquet directory (incremental ingest
    of the input-hint table — the streaming twin of the reference's bulk
    ``import`` command, ImportSrtmTilesCommand.fs:103-130)."""
    reader = spark.readStream.schema(IMAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(images_dir)


def buffered_tiles(
    parts: DataFrame, tile_size: int, finish, schema, world=None
) -> DataFrame:
    """The one stateful tile operator: ``parts`` (engine.PART_SCHEMA,
    keyed by destination tile) buffer in the state store across
    micro-batches until the tile holds every part
    :func:`engine.needed_parts` names for it (``world`` is the inclusive
    world box whose tiles send it halo strips; None for plain mosaics),
    then ``finish(tile_x, tile_y, parts)`` makes its row (an Arrow table
    in ``schema``) from the parts as an Arrow table, exactly once.  The
    state then clears to a tombstone, so late duplicates drop (the
    reference's negative-cache/idempotent import, §2.11); until then,
    per-tile state is a few compressed blocks, bounded by tile size."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from .engine import needed_parts

    def update(key, pdfs, state):
        frames = [pdf[list(_BUFFER_COLUMNS)] for pdf in pdfs]
        if state.exists:
            done, *cols = state.get
            if done:
                return
            frames.insert(0, pd.DataFrame(dict(zip(_BUFFER_COLUMNS, cols))))
        frames = [f for f in frames if len(f)]
        if not frames:
            return
        buffered = pd.concat(frames, ignore_index=True)
        tx, ty = int(key[0]), int(key[1])
        nx = tile_size // int(buffered["w"].iloc[0])
        ny = tile_size // int(buffered["h"].iloc[0])
        have = set(zip(buffered["part"], buffered["bx"], buffered["by"]))
        if not needed_parts(tx, ty, nx, ny, world) <= have:
            state.update((False, *(buffered[c].tolist()
                                   for c in _BUFFER_COLUMNS)))
            return
        state.update(_TOMBSTONE)
        table = pa.Table.from_pandas(buffered, preserve_index=False)
        yield finish(tx, ty, table).to_pandas()

    return parts.groupBy("tile_x", "tile_y").applyInPandasWithState(
        update,
        outputStructType=schema,
        stateStructType=_PARTS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_assemble_tiles(images: DataFrame, tile_size: int) -> DataFrame:
    """Blocks stream in (in any order, across any number of
    micro-batches) and each tile is emitted exactly once, the moment
    every block position is covered (:func:`buffered_tiles`).

    This is the streaming re-expression of the mosaic join (SURVEY.md
    §2.3 J2) — the batch engine's ``assemble_tiles`` needs all blocks
    of a tile in one task; here Spark's state store provides the
    cross-batch buffer, checkpointed and exactly-once.  The assembled
    tile comes from the batch path's own finish
    (``engine.tile_assembler``), so heights are byte-identical.
    """
    from .engine import (
        ASSEMBLED_SCHEMA, _block_parts, parse_caption, tile_assembler,
    )

    return buffered_tiles(_block_parts(parse_caption(images)), tile_size,
                          tile_assembler(tile_size), ASSEMBLED_SCHEMA)


def streaming_hillshade(
    images: DataFrame,
    tile_size: int,
    world_bounds: tuple[int, int, int, int],
    script: str = "elecolor|+igor",
    clip_polygon=None,
    prefilter: str | None = None,
    png_level: int | None = None,
) -> DataFrame:
    """Streaming twin of the batch tile path: incremental hillshade with
    cross-batch halo exchange, one stateful operator.

    Each micro-batch of image rows goes through the batch
    :func:`demeton_spark.engine.hillshade_parts` (raw blocks + k-px
    strips cut from border blocks, keyed by destination tile), and
    :func:`buffered_tiles` shades each tile EXACTLY ONCE, through the
    batch shade function (``engine.tile_shader``), when both its own
    block grid and every halo strip an existing neighbor will ever send
    are present — ``world_bounds`` (min tile_x, min tile_y, max tile_x,
    max tile_y, inclusive) makes completeness decidable without
    timeouts, the streaming analogue of the reference's known tile list
    (ShadeCommand.fs:371-400).  Output rows (engine.SHADED_SCHEMA) are
    byte-identical to the batch pipeline (tested); late duplicates
    after emission drop (idempotent-import semantics, §2.11).
    ``clip_polygon`` and ``prefilter`` behave as in the batch
    run_hillshade: the parts are pruned to the world ∩ the clip cover
    before the emitter (state never accumulates for clipped-out tiles),
    while completeness still waits for strips from every in-world
    neighbor, and prefilters widen the buffered strips to k px.
    """
    from .engine import (
        SHADED_SCHEMA,
        clip_cover,
        hillshade_parts,
        parse_caption,
        tile_shader,
    )

    clip_poly, cover = clip_cover(clip_polygon)
    halo, shade = tile_shader(tile_size, script, clip_poly, prefilter, png_level)
    keep = world_bounds
    if cover is not None:  # the world ∩ the clip cover
        keep = (max(keep[0], cover[0]), max(keep[1], cover[1]),
                min(keep[2], cover[2]), min(keep[3], cover[3]))
    parts = hillshade_parts(parse_caption(images), tile_size, halo, keep=keep)
    return buffered_tiles(parts, tile_size, shade, SHADED_SCHEMA,
                          world=world_bounds)


def run_to_memory(
    stream_df: DataFrame,
    query_name: str,
    checkpoint_dir: str,
    output_mode: str = "append",
) -> DataFrame:
    """Drain the stream with ``availableNow`` into an in-memory table and
    return it as a DataFrame (backfill/testing harness; production sinks
    swap ``format``)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(query_name)


def streaming_exact_dedup(images: DataFrame) -> DataFrame:
    """Streaming exact image dedup by the input-hint ``phash`` column:
    the first-seen row per phash passes through, every later duplicate
    drops — across micro-batch boundaries, exactly once, resumable.

    The streaming twin of ``image_phash_dedup``'s keep side (and the
    §2.11 idempotent-import semantics): per-phash state is a single
    tombstone boolean in the state store, so a 10^12-image incremental
    ingest pays O(distinct phashes) state and never re-admits a
    duplicate after restart.  Within one micro-batch the min image_id
    wins (deterministic), so when arrival order respects image_id the
    emitted set equals the batch keep list bit-for-bit.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def dedup(key, pdfs, state: GroupState):
        if state.exists:
            return
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if pdf.empty:
            return
        state.update((True,))
        yield pdf.loc[[pdf["image_id"].idxmin()]]

    return images.groupBy("phash").applyInPandasWithState(
        dedup,
        outputStructType=IMAGES_SCHEMA,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
