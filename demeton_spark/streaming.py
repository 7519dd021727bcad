"""Structured Streaming operators (engine extras — SURVEY.md §2.11).

The reference is batch-only; its incremental behaviors (negative cache,
resumable import) map to the checkpoint manifest in ``engine.py``.  For
true stream processing the engine exposes watermarked tumbling-window
aggregation and gap-based session windows over an events stream, plus a
file-source factory so the same parquet layout works batch or
streaming.  The window, session and per-user aggregates keep their
state Spark-native (``window`` / ``session_window`` + watermark, or a
plain update-mode aggregate); ``streaming_assemble_tiles``,
``streaming_hillshade`` and ``streaming_exact_dedup`` keep Python state
through ``applyInPandasWithState`` (buffered tile parts, emitted-tile
tombstones, seen hashes).

At scale: the file source incrementally lists new files per
micro-batch; watermarks bound the state store; ``availableNow`` gives
exactly-once backfill over existing data with the same code path as the
live stream.
"""

from __future__ import annotations

import pandas as pd
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


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Tumbling-window counts per event type with late-data watermark.

    Works on both batch and streaming DataFrames (same plan; streaming
    adds state eviction at the watermark).
    """
    ts = F.col("ts").cast("timestamp")
    return (
        events.withColumn("ts", ts)
        .withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_duration).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def geocell_event_counts(
    events: DataFrame,
    level: int = 8,
    window_duration: str = "1 hour",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Windowed per-geocell event counts: the streaming face of the
    S2-style cell index (queries.geocell_assign) — each event row is
    cell-encoded by the same Catalyst-only Hilbert chain (stateless
    projections, so it runs unchanged under Structured Streaming) and
    aggregated per (tumbling window, cell).  This is the live-ingest
    shape of the north rule's "assign every row via the cell index":
    watermark bounds the state store, and the (window, cell) key is
    what a 10^12-row firehose shards its state on."""
    from .queries import _with_geocell

    ts = F.col("ts").cast("timestamp")
    pts = events.withColumn("ts", ts).select(
        "ts",
        "value",
        (F.lit(-179.5) + (F.col("event_id") % 359)).alias("lon"),
        (F.lit(-89.5) + (F.col("user_id") % 179)).alias("lat"),
    )
    cells = _with_geocell(pts, level, keep=["ts", "value"])
    return (
        cells.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_duration).alias("win"), "cell_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "cell_id",
            "n_events",
            "sum_value",
        )
    )


def _pip_parity_col(lon, lat, verts):
    """Crossing-number parity as ONE stateless Catalyst expression (the
    same arithmetic as geometry.points_in_polygon, unrolled over the
    polygon's literal vertices) — no join, no aggregation, so it runs
    unchanged under Structured Streaming."""
    total = F.lit(0)
    j = len(verts) - 1
    for i in range(len(verts)):
        xi, yi = verts[i]
        xj, yj = verts[j]
        j = i
        if yj == yi:
            # horizontal edge: the straddle conjunct is identically
            # false, and emitting the term would plant a literal
            # divide-by-zero in the plan whose safety depended on
            # And's evaluation order under ANSI mode — skip it at
            # plan-build time instead (vertices are Python literals)
            continue
        crosses = ((F.lit(yi) > lat) != (F.lit(yj) > lat)) & (
            lon
            < (F.lit(xj) - F.lit(xi)) * (lat - F.lit(yi))
            / (F.lit(yj) - F.lit(yi))
            + F.lit(xi)
        )
        total = total + F.when(crosses, 1).otherwise(0)
    return total % 2 == 1


def polygon_event_counts(
    events: DataFrame,
    polys: list | None = None,
    window_duration: str = "1 hour",
    watermark_delay: str = "2 hours",
) -> DataFrame:
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
    from .queries import pelev_lonlat_cols

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
    return (
        hits.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_duration).alias("win"), "poly_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "poly_id",
            "n_events",
            "sum_value",
        )
    )


def session_counts(
    events: DataFrame,
    gap: str = "1 hour",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Gap-based session windows per user (the streaming twin of the
    batch ``events_sessionize`` contract query)."""
    ts = F.col("ts").cast("timestamp")
    return (
        events.withColumn("ts", ts)
        .withWatermark("ts", watermark_delay)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def running_user_stats(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum, max) over ``value``: one built-in
    aggregate, which a stream in update mode re-emits for every user a
    micro-batch touches (state is one small row per user in Spark's
    checkpointed state store)."""
    return events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("sum_value"),
        F.max("value").alias("max_value"),
    )


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


def _buffered_parts(pdfs, state) -> pd.DataFrame | None:
    """One tile's parts so far: those buffered in its state plus this
    micro-batch's.  None once the tile was emitted (late duplicates
    drop — the reference's negative-cache/idempotent import, §2.11)."""
    frames = [pdf[list(_BUFFER_COLUMNS)] for pdf in pdfs]
    if state.exists:
        done, *cols = state.get
        if done:
            return None
        frames.insert(0, pd.DataFrame(dict(zip(_BUFFER_COLUMNS, cols))))
    frames = [f for f in frames if len(f)]
    return pd.concat(frames, ignore_index=True) if frames else None


def _keep_buffering(state, parts: pd.DataFrame) -> None:
    state.update((False, *(parts[c].tolist() for c in _BUFFER_COLUMNS)))


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


def streaming_assemble_tiles(images: DataFrame, tile_size: int) -> DataFrame:
    """Custom stateful streaming operator: blocks stream in (in any
    order, across any number of micro-batches), each tile's blocks
    buffer in the state store, and the tile is emitted exactly once the
    moment every block position is covered.

    This is the streaming re-expression of the mosaic join (SURVEY.md
    §2.3 J2) — the batch engine's ``assemble_tiles`` needs all blocks
    of a tile in one task; here Spark's state store provides the
    cross-batch buffer, checkpointed and exactly-once.  The assembled
    tile comes from the same ``engine.compose_padded`` as the batch
    path, so heights are byte-identical.  Late duplicates arriving
    after completion are dropped; per-tile state is a few compressed
    blocks, bounded by tile size, and clears to a tombstone on emit.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from .engine import (
        ASSEMBLED_SCHEMA,
        _block_parts,
        assembled_row,
        compose_padded,
        parse_caption,
    )

    def update(key, pdfs, state):
        parts = _buffered_parts(pdfs, state)
        if parts is None:
            return
        nx = tile_size // int(parts["w"].iloc[0])
        ny = tile_size // int(parts["h"].iloc[0])
        if len(set(zip(parts["bx"], parts["by"]))) < nx * ny:
            _keep_buffering(state, parts)  # still incomplete
            return
        tile, n_blocks = compose_padded(parts, tile_size, 0)
        state.update(_TOMBSTONE)
        yield assembled_row(int(key[0]), int(key[1]), tile, n_blocks).to_pandas()

    blocks = _block_parts(parse_caption(images))
    return blocks.groupBy("tile_x", "tile_y").applyInPandasWithState(
        update,
        outputStructType=ASSEMBLED_SCHEMA,
        stateStructType=_PARTS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


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
    strips cut from border blocks, keyed by destination tile).  One
    ``applyInPandasWithState`` keyed by destination tile buffers parts
    across micro-batches and shades the tile EXACTLY ONCE, through the
    batch ``compose_padded`` and ``render_tile``, when both its own
    block grid and every halo strip an existing neighbor will ever send
    are present — ``world_bounds`` (min tile_x, min tile_y, max tile_x,
    max tile_y, inclusive) makes completeness decidable without
    timeouts, the streaming analogue of the reference's known tile list
    (ShadeCommand.fs:371-400).  Output rows (engine.SHADED_SCHEMA) are
    byte-identical to the batch pipeline (tested); late duplicates
    after emission drop (idempotent-import semantics, §2.11).
    ``clip_polygon`` and ``prefilter`` behave as in the batch
    run_hillshade: clipped-out destination tiles are filtered from the
    parts stream (state never accumulates for them) and prefilters
    widen the buffered strips to k px.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from .engine import (
        _HALO_PARTS,
        SHADED_SCHEMA,
        _on_edge,
        clip_cover,
        compose_padded,
        hillshade_parts,
        in_tiles,
        parse_caption,
        render_setup,
        render_tile,
    )

    steps, registry, lvl, pre_steps = render_setup(script, png_level, prefilter)
    halo = 1 + len(pre_steps)
    clip_poly, cover = clip_cover(clip_polygon)
    wx0, wy0, wx1, wy1 = world_bounds  # sender existence universe
    tx0, ty0, tx1, ty1 = world_bounds  # destination (kept-tile) universe
    if cover is not None:
        # destinations shrink to the polygon's bbox cover (state never
        # accumulates for clipped-out tiles) but SENDERS keep the full
        # world bounds: a tile just outside the clip cover still donates
        # halo strips to kept boundary tiles, exactly like the batch
        # path's destination-only filter — completeness must wait for
        # those strips or boundary pixels would shade nondeterministically
        tx0, ty0 = max(tx0, cover[0]), max(ty0, cover[1])
        tx1, ty1 = min(tx1, cover[2]), min(ty1, cover[3])
    parts = hillshade_parts(parse_caption(images), tile_size, halo).where(
        in_tiles(tx0, ty0, tx1, ty1)
    )

    def expected_strips(tx: int, ty: int, nx: int, ny: int) -> set:
        """(part, bx, by) triples this tile will eventually receive:
        the sender at (tx-dx, ty-dy) exists inside the WORLD bounds
        (not the clip cover), and its block faces this tile."""
        return {
            (part, bx, by)
            for part, (dx, dy) in _HALO_PARTS.items()
            if wx0 <= tx - dx <= wx1 and wy0 <= ty - dy <= wy1
            for by in range(ny) if _on_edge(dy, by, ny)
            for bx in range(nx) if _on_edge(dx, bx, nx)
        }

    def update(key, pdfs, state):
        parts = _buffered_parts(pdfs, state)
        if parts is None:
            return
        tx, ty = int(key[0]), int(key[1])
        nx = tile_size // int(parts["w"].iloc[0])
        ny = tile_size // int(parts["h"].iloc[0])
        is_block = parts["part"] == "B"
        blocks, strips = parts[is_block], parts[~is_block]
        have_blocks = set(zip(blocks["bx"], blocks["by"]))
        have_strips = set(zip(strips["part"], strips["bx"], strips["by"]))
        if (len(have_blocks) < nx * ny
                or not expected_strips(tx, ty, nx, ny) <= have_strips):
            _keep_buffering(state, parts)
            return
        padded, n_blocks = compose_padded(parts, tile_size, halo)
        state.update(_TOMBSTONE)
        yield render_tile(
            padded, tx, ty, tile_size, steps, registry, lvl,
            pre_steps=pre_steps, clip_poly=clip_poly, n_blocks=n_blocks,
        ).to_pandas()

    return parts.groupBy("tile_x", "tile_y").applyInPandasWithState(
        update,
        outputStructType=SHADED_SCHEMA,
        stateStructType=_PARTS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


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
