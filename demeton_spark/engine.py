"""The Spark dataflow: image rows → tile assignment → one exchange keyed
by destination tile → assembly + halo padding + vectorized shading →
PNG tile sink.

This is the idiomatic-Spark re-expression of Demeton's ``shade``
lifecycle (Demeton/Commands/ShadeCommand.fs:555-614), with the
reference's sequential per-tile fold replaced by per-tile groups and
its implicit 1-px over-fetch replaced by explicit halo strips keyed by
the tile that needs them (SURVEY.md §2.3 J3).  There is one tile path,
with ONE full-data shuffle (see SCALE.md):

  1. ``parse_caption``      — pure Column expressions recover the
                              block's tile + block coords from the
                              caption (equi-join key construction, J1).
  2. ``hillshade_parts``    — the only parts emitter: one scan, one
                              ``mapInArrow`` pass that forwards the raw
                              (still-compressed) blocks and appends the
                              k-px halo strips cut from border blocks
                              (k = 1 + prefilter steps), all keyed by
                              DESTINATION tile; an optional ``keep`` box
                              prunes senders to it ± 1 before the pass
                              and destinations to it after.
                              ``needed_parts`` is the same strip rule
                              seen from the receiver: what a tile is
                              complete with.
  3. ``compose_padded``     — the only stitch, of mosaics (k = 0),
                              shaded tiles and pyramid parents alike:
                              winner-only decode (J2, §4.3) plus strip
                              placement into the (ts+2k)² array,
                              DEM_HEIGHT_NONE at world edges
                              (extract-fill, Dem/Funcs.fs:395-416).
  4. ``render_tile``        — the only maker of output rows: optional
                              blur/sharpen prefilters, Horn p/q,
                              shading-script evaluation,
                              point-in-polygon clip, Y-flip, RGBA PNG
                              encode (Hillshading.fs:81-157 vectorized).
                              ``tile_shader`` sets 3 + 4 up once per job
                              as one ``shade(tile_x, tile_y, parts)``.
  5. ``run_hillshade``      — end-to-end: ``reduce_tiles`` runs the
                              shade function once per tile, with
                              resumable checkpointing (anti-join against
                              a per-tile manifest — Srtm/Fetch.fs
                              negative-cache semantics), the clip
                              polygon's bbox cover as ``keep``, and
                              pixel-count metrics.

Every row and tile operator is one of three, one Arrow boundary per
kind: ``map_rows``, the per-row map (image decode and checks, audio
features, the synthetic generators), with ``map_tiles`` its per-tile
form over assembled tiles (the only reader of the ``heights`` bytes
``assembled_row`` writes); ``reduce_tiles``, the batch reduce
(hillshade, XTH tile-shade, mosaics, the pyramid step, the projected
render); and ``streaming.buffered_tiles``, the stream reduce.  Both
reduces make a tile's rows with a ``finish(tile_x, tile_y, parts)``,
and batch and stream twins share theirs (``tile_assembler``,
``tile_shader``), so they write the same bytes.

Scale notes: the single wide operation carries source-compressed
blocks plus ~0.1%-sized strips; assembled tiles never re-shuffle.
Skewed (land-heavy) tiles are handled by winner-only decode and the
grid-position deal, which spreads neighbouring heavy tiles over all
reduce tasks.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BinaryType, BooleanType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from . import codec, kernels, pipeline
from .synth import WorldSpec
from .tiles import (
    DEM_HEIGHT_NONE,
    cells_per_degree,
    in_tiles,
    tile_cover,
    tile_name as _tile_name,
    tile_xy_cols,
)

# ---------------------------------------------------------------------------
# 1. caption → tile assignment (pure Column expressions, J1)
# ---------------------------------------------------------------------------

_CAPTION_PATTERN = r"tile ([NS]\d{2}[EW]\d{3}) block \((\d+),(\d+)\)"


def invalid_caption_rows(images: DataFrame) -> DataFrame:
    """Rows whose caption carries no parseable geo anchor (quarantine).

    At ingest scale a single bad row must not fail the job; route these
    to a dead-letter sink and count them, don't crash (§2.11 negative-
    cache spirit).
    """
    return images.where(~F.col("caption").rlike(_CAPTION_PATTERN))


def parse_caption(images: DataFrame) -> DataFrame:
    """Recover ``(tile_x, tile_y, bx, by)`` from the caption column.

    Inverse of parseHgtTileName (Dem/Funcs.fs:157-188) as Catalyst
    expressions — stays inside whole-stage codegen, no Python.
    Rows with unparseable captions are dropped here; collect them with
    :func:`invalid_caption_rows` first if you need a quarantine sink.
    The five columns are added in one projection (one analyzer pass).
    """
    images = images.where(F.col("caption").rlike(_CAPTION_PATTERN))
    name = F.regexp_extract("caption", _CAPTION_PATTERN, 1)
    tile_x, tile_y = tile_xy_cols(name)
    return images.withColumns({
        "tile_name": name,
        "tile_y": tile_y,
        "tile_x": tile_x,
        "bx": F.regexp_extract("caption", _CAPTION_PATTERN, 2).cast("int"),
        "by": F.regexp_extract("caption", _CAPTION_PATTERN, 3).cast("int"),
    })


# ---------------------------------------------------------------------------
# 2. the parts stream: blocks + halo strips keyed by destination tile (J3)
# ---------------------------------------------------------------------------

_SPARK_TYPES = {"int": IntegerType(), "long": LongType(), "bigint": LongType(),
                "double": DoubleType(), "boolean": BooleanType(),
                "string": StringType(), "binary": BinaryType()}


def _schema(ddl: str) -> StructType:
    """A flat ``"name type, …"`` schema as a StructType, built without a
    JVM (executors import this module too)."""
    return StructType([StructField(n, _SPARK_TYPES[t])
                       for n, t in (f.split() for f in ddl.split(", "))])


PART_SCHEMA = _schema(
    "tile_x int, tile_y int, part string, bx int, by int, image_id string, "
    "w int, h int, fmt string, data binary"
)
_PART_COLUMNS = tuple(PART_SCHEMA.fieldNames())

#: the 8 halo strips: destination-tile offset (dx, dy) from the sender,
#: keyed by where the cells land in the receiver's padded array (a
#: tile's north edge is its north neighbor's south pad).  Any other
#: part ("B") is the receiver's own block, at offset (0, 0).
_HALO_PARTS = {
    "S": (0, 1), "N": (0, -1), "W": (1, 0), "E": (-1, 0),
    "SW": (1, 1), "SE": (-1, 1), "NW": (1, -1), "NE": (-1, -1),
}


def _on_edge(d: int, i: int, n: int) -> bool:
    """Along one axis: does block ``i`` of ``n`` face the neighbor at
    offset ``d``?"""
    return i == n - 1 if d == 1 else i == 0 if d == -1 else True


def _cut(d: int, size: int, k: int) -> slice:
    """Along one axis: the k-px slab of a block sent to the neighbor at
    offset ``d`` (the whole axis for d = 0)."""
    if d == 1:
        return slice(size - k, size)
    if d == -1:
        return slice(0, k)
    return slice(0, size)


def _place(d: int, i: int, size: int, ts: int, k: int) -> slice:
    """Along one axis: where cells from offset ``d`` land in the
    receiver's (ts+2k) padded axis — its low pad, its high pad, or
    block ``i``'s span of the interior."""
    if d == 1:
        return slice(0, k)
    if d == -1:
        return slice(ts + k, ts + 2 * k)
    return slice(k + i * size, k + (i + 1) * size)


def _cut_strips(blocks, tile_size: int, halo: int) -> dict[str, list]:
    """``(tile_x, tile_y, image_id, fmt, payload, w, h, bx, by)`` block
    tuples → the PART_SCHEMA columns (fmt='raw') of the k-px strips
    their border blocks donate to neighbor tiles.  Strip rows keep the
    sender's ``(bx, by, image_id)`` so the receiver picks the same
    winner as for the sender's own blocks (§4.3)."""
    out: dict[str, list] = {c: [] for c in _PART_COLUMNS}
    for tx, ty, iid, fmt, payload, w, h, bx, by in blocks:
        w, h, bx, by = int(w), int(h), int(bx), int(by)
        if halo > min(w, h):
            raise ValueError(f"halo {halo} exceeds block size {w}x{h}")
        nx, ny = tile_size // w, tile_size // h
        block = None
        for part, (dx, dy) in _HALO_PARTS.items():
            if not (_on_edge(dx, bx, nx) and _on_edge(dy, by, ny)):
                continue
            if block is None:
                block = codec.decode_block(fmt, payload, w)
            strip = block[_cut(dy, h, halo), _cut(dx, w, halo)]
            row = (int(tx) + dx, int(ty) + dy, part, bx, by, iid, w, h,
                   "raw", strip.tobytes())
            for col, v in zip(_PART_COLUMNS, row):
                out[col].append(v)
    return out


def needed_parts(
    tile_x: int, tile_y: int, nx: int, ny: int, world: tuple | None = None
) -> set[tuple[str, int, int]]:
    """The ``(part, bx, by)`` positions tile ``(tile_x, tile_y)`` is
    complete with: its nx×ny "B" blocks, plus, given the inclusive world
    box ``(x0, y0, x1, y1)``, every strip that an in-world neighbour's
    edge blocks donate to it (:func:`_cut_strips`' rule, seen from the
    receiver)."""
    need = {("B", bx, by) for by in range(ny) for bx in range(nx)}
    if world is not None:
        x0, y0, x1, y1 = world
        need.update(
            (part, bx, by)
            for part, (dx, dy) in _HALO_PARTS.items()
            if x0 <= tile_x - dx <= x1 and y0 <= tile_y - dy <= y1
            for by in range(ny) if _on_edge(dy, by, ny)
            for bx in range(nx) if _on_edge(dx, bx, nx)
        )
    return need


#: the block columns :func:`_cut_strips` reads, in its tuple order
_CUT_COLUMNS = ("tile_x", "tile_y", "image_id", "fmt", "data", "w", "h",
                "bx", "by")


def emit_parts(
    batch: pa.RecordBatch, tile_size: int, halo: int
) -> Iterator[pa.RecordBatch]:
    """One Arrow batch of "B" parts (PART_SCHEMA) → the batch itself,
    untouched, then the strips its border blocks (a numpy mask) donate,
    in the batch's own Arrow field types (large or not, per
    ``spark.sql.execution.arrow.useLargeVarTypes``)."""
    yield batch
    bx, by, w, h = (batch.column(c).to_numpy(zero_copy_only=False)
                    for c in ("bx", "by", "w", "h"))
    edge = ((bx == 0) | (by == 0) | ((bx + 1) * w >= tile_size)
            | ((by + 1) * h >= tile_size))
    if edge.any():
        rows = batch.filter(pa.array(edge))
        strips = _cut_strips(
            zip(*(rows.column(c).to_pylist() for c in _CUT_COLUMNS)),
            tile_size, halo,
        )
        yield pa.RecordBatch.from_arrays(
            [pa.array(strips[f.name], f.type) for f in batch.schema],
            schema=batch.schema,
        )


def _block_parts(assigned: DataFrame) -> DataFrame:
    """Every image row as a "B" part of its own tile (PART_SCHEMA)."""
    return assigned.select(
        "tile_x", "tile_y", F.lit("B").alias("part"), "bx", "by",
        "image_id", "w", "h", "fmt", F.col("bytes").alias("data"),
    )


def hillshade_parts(
    assigned: DataFrame, tile_size: int, halo: int = 1,
    keep: tuple | None = None,
) -> DataFrame:
    """Blocks + their neighbors' strip contributions, keyed by the
    destination tile — the single-shuffle input of :func:`reduce_tiles`
    in every tile path: one scan of ``assigned`` and one
    Arrow pass (:func:`emit_parts`) per batch.

    ``keep`` — an inclusive destination box ``(x0, y0, x1, y1)``: only
    senders in the box or its one-tile ring reach the emitter, and only
    parts bound for the box leave it.  The ring's strips into kept
    boundary tiles survive, so a kept tile shades as if nothing had
    been pruned."""

    def emit(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield from emit_parts(batch, tile_size, halo)

    if keep is not None:  # senders: the box and its one-tile ring
        x0, y0, x1, y1 = keep
        assigned = assigned.where(in_tiles(x0 - 1, y0 - 1, x1 + 1, y1 + 1))
    parts = _block_parts(assigned).mapInArrow(emit, schema=PART_SCHEMA)
    return parts if keep is None else parts.where(in_tiles(*keep))


# ---------------------------------------------------------------------------
# 3. compose: the one stitch + strip placement (J2 mosaic)
# ---------------------------------------------------------------------------

def compose_padded(
    parts: pa.Table, ts: int, k: int, fill: int = DEM_HEIGHT_NONE
) -> tuple[np.ndarray | None, int]:
    """One tile's parts (PART_SCHEMA rows as an Arrow table) →
    ``(padded, n_blocks)``: the (ts+2k)² int16 array with its blocks
    stitched into the interior and its neighbors' strips in the k-px
    halo.

    Spark group order is nondeterministic; the reference's merge
    (Dem/Funcs.fs:357-388, §4.3) overwrites in ``(by, bx, image_id)``
    order, so the part with the largest ``image_id`` at each
    ``(part, bx, by)`` position is the one visible.  Only those winners
    are copied out of Arrow and decoded: duplicate-heavy ("land") tiles
    cost one copy and one decode per position however many copies
    arrived, and duplicate edge blocks resolve identically on both
    sides of a tile boundary.  ``n_blocks`` counts every block row
    received (input lineage); a group with none (strips sent past the
    world edge) gives ``(None, 0)``.  ``fill`` is the missing-neighbor
    value: DEM_HEIGHT_NONE for heights, 0 for XTH-packed tiles (offset
    0 decodes to missing, with no water bit).
    """
    part, bxs, bys, ids, ws, hs, fmts = (
        parts.column(c).to_pylist()
        for c in ("part", "bx", "by", "image_id", "w", "h", "fmt"))
    data = parts.column("data")
    n_blocks = part.count("B")
    if n_blocks == 0:
        return None, 0
    winner: dict[tuple, int] = {}
    for i, pos in enumerate(zip(part, bxs, bys)):
        j = winner.setdefault(pos, i)
        if ids[i] > ids[j]:
            winner[pos] = i
    padded = np.full((ts + 2 * k, ts + 2 * k), fill, dtype=np.int16)
    for i in winner.values():
        w, h, bx, by = ws[i], hs[i], bxs[i], bys[i]
        dx, dy = _HALO_PARTS.get(part[i], (0, 0))
        region = padded[_place(dy, by, h, ts, k), _place(dx, bx, w, ts, k)]
        payload = data[i].as_py()
        cells = (codec.decode_block(fmts[i], payload, w) if part[i] == "B"
                 else np.frombuffer(payload, dtype="<i2"))
        region[...] = cells.reshape(region.shape)
    return padded, n_blocks


ASSEMBLED_SCHEMA = _schema(
    "tile_x int, tile_y int, heights binary, n_blocks int, missing_px long"
)
_ASSEMBLED_ARROW = to_arrow_schema(ASSEMBLED_SCHEMA)


def assembled_row(
    tile_x: int, tile_y: int, tile: np.ndarray, n_blocks: int
) -> pa.Table:
    """One ASSEMBLED_SCHEMA row for a stitched tile."""
    return pa.Table.from_pydict({
        "tile_x": [tile_x],
        "tile_y": [tile_y],
        "heights": [tile.tobytes()],
        "n_blocks": [n_blocks],
        "missing_px": [int(np.count_nonzero(tile == DEM_HEIGHT_NONE))],
    }, schema=_ASSEMBLED_ARROW)


def tile_heights(buf: bytes, ts: int) -> np.ndarray:
    """An assembled tile's ``heights`` bytes (:func:`assembled_row`) as
    the read-only (ts, ts) int16 array, row 0 = south."""
    return np.frombuffer(buf, dtype="<i2").reshape(ts, ts)


#: row stride of the tile → task deal: tile (x, y) goes to task
#: (x + 374·y) mod n.  374 ≥ 360 keeps x + 374·y distinct over the
#: whole 360×180 world, and it is the smallest such stride for which
#: the busiest task of any W×H block of tiles (W, H ≤ 12) holds at most
#: twice its fair share at every n in tests/test_engine_spark.py (2 to
#: 64); a stride of 1 piles a 3×3 block onto 5 of 16 tasks, and one of
#: 7 reaches only 1,620 tasks over the whole world.
_DEAL_STRIDE = 374


def reduce_tiles(
    parts: DataFrame, finish, schema: StructType, n: int | None = None
) -> DataFrame:
    """The one batch tile reduce: deal the tiles over ``n`` reduce tasks
    (default one per core) by grid position, ``pid = (tile_x +
    374·tile_y) mod n``, group ``parts`` (PART_SCHEMA rows keyed by
    destination tile) by tile, and make each tile's rows with
    ``finish(tile_x, tile_y, parts)``, an Arrow table in ``schema``.

    Every reduce task costs a fixed share of CPU whatever its size, and
    a hash of a few tile keys spreads them over the tasks unevenly.
    The deal sends any n tiles in a row to n different tasks, so
    whole-row grids come out exact and a run of neighbouring (heavy,
    contiguous land) tiles spreads over all tasks.  ``pid`` stays a
    grouping key, so the group reuses the ``repartitionById`` exchange
    instead of hashing again."""
    n = n or parts.sparkSession.sparkContext.defaultParallelism
    pid = F.pmod(F.col("tile_x") + _DEAL_STRIDE * F.col("tile_y"), n)

    # no type hints: applyInArrow would infer the UDF kind from them
    def reduce(key, table):
        return finish(key[1].as_py(), key[2].as_py(), table)

    return (
        parts.withColumn("pid", pid)
        .repartitionById(n, "pid")
        .groupBy("pid", "tile_x", "tile_y")
        .applyInArrow(reduce, schema=schema)
    )


def tile_assembler(tile_size: int):
    """The one assemble finish, ``assemble(tile_x, tile_y, parts)``: a
    tile's "B" parts stitched with no halo (:func:`compose_padded`) into
    its ASSEMBLED_SCHEMA row.  The batch :func:`assemble_tiles` and
    ``streaming.streaming_assemble_tiles`` both finish with it."""

    def assemble(tile_x: int, tile_y: int, parts) -> pa.Table:
        return assembled_row(tile_x, tile_y, *compose_padded(parts, tile_size, 0))

    return assemble


def assemble_tiles(assigned: DataFrame, tile_size: int) -> DataFrame:
    """Stitch image blocks into one int16 raster per tile
    (:func:`tile_assembler` over :func:`reduce_tiles`)."""
    return reduce_tiles(
        _block_parts(assigned), tile_assembler(tile_size), ASSEMBLED_SCHEMA
    )


def map_rows(df: DataFrame, names, fn, schema: str) -> DataFrame:
    """The one per-row operator loop: a ``mapInArrow`` pass over the
    ``names`` columns of ``df`` that calls ``fn(*row)`` on each row and
    packs the tuples it yields, in ``schema`` order (``"name type,
    …"``), into one Arrow batch per input batch.  A ``None`` in a tuple
    is a null."""
    out = _schema(schema)
    arrow = to_arrow_schema(out)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = []
            for row in zip(*(batch.column(c).to_pylist() for c in names)):
                rows.extend(fn(*row))
            cols = list(zip(*rows)) or [()] * len(arrow)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(cols, arrow)],
                schema=arrow,
            )

    return df.select(*names).mapInArrow(run, schema=out)


def map_tiles(
    tiles: DataFrame, tile_size: int, fn, schema: str, extra: tuple = ()
) -> DataFrame:
    """The per-tile operator loop: :func:`map_rows` over ``(tile_x,
    tile_y, heights, *extra)`` rows that calls ``fn(tile_x, tile_y,
    heights, *extra_values)`` with each tile's int16 array
    (:func:`tile_heights`)."""

    def per_tile(tx, ty, buf, *rest):
        return fn(tx, ty, tile_heights(buf, tile_size), *rest)

    return map_rows(tiles, ("tile_x", "tile_y", "heights", *extra), per_tile,
                    schema)


# ---------------------------------------------------------------------------
# 4. render (W1-W3 + §2.8 shaders, vectorized per tile)
# ---------------------------------------------------------------------------

SHADED_SCHEMA = _schema(
    "tile_x int, tile_y int, tile_name string, width int, height int, "
    "png binary, shaded_px long, total_px long, n_blocks int"
)
_SHADED_ARROW = to_arrow_schema(SHADED_SCHEMA)


#: row-band height for chunked shading: bounds the per-task float32
#: working set (~band·width·4B per temporary ≈ 0.9MB at 1800 wide) so the
#: kernel stays cache-resident while one Python worker per core shares
#: the memory bandwidth (measured on a 32-vCPU host: band=128 doubled
#: 32-way throughput vs band=256, 10× vs whole-tile).
SHADE_BAND_ROWS = 128


def shade_padded_block(
    padded: np.ndarray,
    tile_x: int,
    tile_y: int,
    tile_size: int,
    steps,
    water: np.ndarray | None = None,
    clip_poly: np.ndarray | None = None,
    registry: dict | None = None,
    out: np.ndarray | None = None,
) -> tuple[np.ndarray, int]:
    """Numpy core shared by the Spark path and the single-array oracle.

    ``padded`` is the (ts+2, ts+2) int16 block (row 0 = south).  Returns
    (``out``: the RGBA image in bitmap orientation — row 0 = north, per
    the Y-flip at Hillshading.fs:150-153 — and the shaded-pixel count).
    The tile is processed in row bands: identical results, bounded
    temporaries.  Each band is written once, flipped, into ``out`` (a new
    array if None; render_tile passes a :func:`codec.rgba_scanlines` view).
    ``water`` (center-sized bool mask) feeds the water shaders when the
    tile came from an XTH source (TileShadeCommand.fs:428-473).
    """
    h = padded.shape[0] - 2
    w = padded.shape[1] - 2
    cpd = cells_per_degree(tile_size, 0)
    min_cell_y = tile_y * tile_size
    if out is None:
        out = np.empty((h, w, 4), dtype=np.uint8)
    shaded = 0
    for r0 in range(0, h, SHADE_BAND_ROWS):
        r1 = min(r0 + SHADE_BAND_ROWS, h)
        # float32 end-to-end in the band kernels: int16 heights are exact
        # in f32, slope/aspect precision stays ~1e-7 relative (sub-LSB
        # after the uint8 quantization), and the halved bandwidth keeps
        # concurrent workers off the memory wall
        f = kernels.heights_to_float(padded[r0 : r1 + 2, :], dtype=np.float32)
        rows = np.arange(r0, r1, dtype=np.float64) + min_cell_y
        lat_deg = rows / cpd
        grid_w, grid_h = kernels.grid_size_meters(cpd, lat_deg)
        p, q = kernels.horn_pq(
            f,
            grid_w[:, None].astype(np.float32),
            grid_h[:, None].astype(np.float32),
        )
        slope, aspect = kernels.slope_and_aspect(p, q)
        ctx = pipeline.ShadeContext(
            heights=f[1:-1, 1:-1],
            slope=slope,
            aspect=aspect,
            water=None if water is None else water[r0:r1, :],
            dem=padded[r0 + 1 : r1 + 1, 1:-1],
        )
        band = out[h - r1 : h - r0]
        band[...] = pipeline.evaluate_steps(steps, ctx, registry=registry)[::-1]
        if clip_poly is not None:
            # point-in-polygon raster clip (north-star: "point-in-polygon
            # tests clip rasters to requested geo bounds"): pixels whose
            # cell lon/lat falls outside the polygon go transparent.
            # Runs per band on the same cell-coordinate convention as the
            # geodesic grid above (cell c ↔ degree c/cpd).
            from .geometry import points_in_polygon

            lon = (np.arange(w, dtype=np.float64) + tile_x * tile_size) / cpd
            nrows = r1 - r0
            px = np.broadcast_to(lon, (nrows, w))
            py = np.broadcast_to(lat_deg[:, None], (nrows, w))
            inside = points_in_polygon(px, py, clip_poly[:, 0], clip_poly[:, 1])
            np.copyto(band[..., 3], 0, where=~inside[::-1])
        shaded += int(np.count_nonzero(band[..., 3]))
    return out, shaded


def apply_prefilters(padded: np.ndarray, steps) -> np.ndarray:
    """Run prefilter steps (kernels.PREFILTERS) over an int16 padded
    block; each consumes one halo ring.  Output rounds back to int16
    (heights stay 1 m-quantized end-to-end, the storage discipline of
    §1.2), missing stays missing."""
    f = kernels.heights_to_float(padded, dtype=np.float32)
    for st in steps:
        fn = kernels.PREFILTERS[st.name]
        params = {k: float(v) for k, v in st.params.items()}
        f = fn(f, **params)
    return kernels.float_to_heights(f)


def render_setup(
    script: str, png_level: int | None = None, prefilter: str | None = None
) -> tuple[list, dict, int, list]:
    """Parse the render arguments once, before the job runs, into
    ``(steps, registry, lvl, pre_steps)`` for :func:`render_tile`.  The
    registry is a snapshot: custom shaders registered in the submitting
    process ride the closure to executor processes."""
    return (
        pipeline.parse_script(script),
        dict(pipeline.SHADER_REGISTRY),
        codec.RGBA_PNG_LEVEL if png_level is None else png_level,
        pipeline.parse_script(prefilter) if prefilter else [],
    )


def render_tile(
    padded: np.ndarray, tile_x: int, tile_y: int, ts: int, steps,
    registry: dict, lvl: int, *, pre_steps=(),
    clip_poly: np.ndarray | None = None, water: np.ndarray | None = None,
    n_blocks: int = 0,
) -> pa.Table:
    """The one place a SHADED_SCHEMA row is made: height prefilters (each
    consumes one halo ring of ``padded``), Horn + shaders + clip
    (:func:`shade_padded_block`) written straight into a None-filtered
    PNG scanline buffer (:func:`codec.rgba_scanlines`), which is
    compressed at level ``lvl``."""
    if pre_steps:
        padded = apply_prefilters(padded, pre_steps)
    scan, pixels = codec.rgba_scanlines(ts, ts)
    _, shaded = shade_padded_block(
        padded, tile_x, tile_y, ts, steps, water=water, clip_poly=clip_poly,
        registry=registry, out=pixels,
    )
    return pa.Table.from_pydict({
        "tile_x": [tile_x],
        "tile_y": [tile_y],
        "tile_name": [_tile_name(0, tile_x, tile_y)],
        "width": [ts],
        "height": [ts],
        "png": [codec.encode_rgba_scanlines(scan, lvl)],
        "shaded_px": [shaded],
        "total_px": [ts * ts],
        "n_blocks": [n_blocks],
    }, schema=_SHADED_ARROW)


def tile_shader(
    tile_size: int, script: str, clip_poly: np.ndarray | None = None,
    prefilter: str | None = None, png_level: int | None = None,
):
    """The one per-tile shade function, set up once on the driver:
    ``(halo, shade)``, where ``shade(tile_x, tile_y, parts)`` is
    :func:`compose_padded` then :func:`render_tile` and returns a
    SHADED_SCHEMA table (empty when ``parts`` hold no "B" block, i.e.
    strips sent past the world edge).  ``prefilter`` is a step script
    over kernels.PREFILTERS (e.g. ``"blur"`` or
    ``"sharpen(amount=1.5)"``); each step consumes one halo ring, so
    ``halo`` is 1 + the number of steps, and the parts must be cut with
    it (:func:`hillshade_parts`)."""
    steps, registry, lvl, pre_steps = render_setup(script, png_level, prefilter)
    halo = 1 + len(pre_steps)

    def shade(tile_x: int, tile_y: int, parts) -> pa.Table:
        padded, n_blocks = compose_padded(parts, tile_size, halo)
        if padded is None:
            return _SHADED_ARROW.empty_table()
        return render_tile(
            padded, tile_x, tile_y, tile_size, steps, registry, lvl,
            pre_steps=pre_steps, clip_poly=clip_poly, n_blocks=n_blocks,
        )

    return halo, shade


# ---------------------------------------------------------------------------
# tile-shade: XTH water-bit tiles → fixed pipeline (reference §3.2)
# ---------------------------------------------------------------------------

#: approximation of TileShadeCommand's hardcoded pipeline
#: (solid ∘ ((lambert ⊕darken slope ⊕darken igor) over water) —
#: /root/reference/Demeton/Commands/TileShadeCommand.fs:333-388)
TILE_SHADE_SCRIPT = (
    "solid(color=#ffffff)|+lambert|+slope(compose=darken)"
    "|+igor(compose=darken)|+water|+wateroutline"
)


def run_tile_shade(
    spark: SparkSession,
    xth_tiles: DataFrame,
    tile_size: int,
    script: str = TILE_SHADE_SCRIPT,
) -> DataFrame:
    """XTH-packed tiles (heights + water bit) → shaded PNG tiles.

    Input rows: ``(tile_x, tile_y, xth binary)`` — the packed uint16
    encoding of codec.encode_xth.  Each tile is one ts×ts ``raw`` block
    at (0, 0), so the packed values ride the same parts emitter and
    compose as plain heights (missing-neighbor fill is 0, which decodes
    to missing-with-no-water); decode happens once per padded tile at
    shade time, and the water mask feeds the water/wateroutline shader
    steps.
    """
    steps, registry, lvl, _ = render_setup(script)
    blocks = xth_tiles.select(
        "tile_x", "tile_y", F.lit(0).alias("bx"), F.lit(0).alias("by"),
        F.lit("").alias("image_id"), F.lit(tile_size).alias("w"),
        F.lit(tile_size).alias("h"), F.lit("raw").alias("fmt"),
        F.col("xth").alias("bytes"),
    )

    def pad_and_shade(tile_x: int, tile_y: int, parts) -> pa.Table:
        packed, n_blocks = compose_padded(parts, tile_size, 1, fill=0)
        if packed is None:
            return _SHADED_ARROW.empty_table()
        heights, water = codec.decode_xth(packed, tile_size + 2)
        return render_tile(
            heights, tile_x, tile_y, tile_size, steps, registry, lvl,
            water=water[1:-1, 1:-1], n_blocks=n_blocks,
        )

    return reduce_tiles(
        hillshade_parts(blocks, tile_size), pad_and_shade, SHADED_SCHEMA
    )


# ---------------------------------------------------------------------------
# 5. end-to-end job with resumable checkpoints + metrics
# ---------------------------------------------------------------------------

def clip_cover(clip_polygon) -> tuple[np.ndarray | None, tuple | None]:
    """Validate a ``(lon, lat)`` clip polygon; return it as an array
    with its bbox tile cover ``(tx0, ty0, tx1, ty1)``
    (:func:`tiles.tile_cover`), or ``(None, None)``.

    Validation runs before any work is scheduled: a self-intersecting
    polygon would silently mis-clip under the crossing-number rule
    (PolygonSelfIntersection.fs sweep semantics)."""
    if clip_polygon is None:
        return None, None
    from .geometry import polygon_self_intersects

    poly = np.asarray(clip_polygon, dtype=np.float64)
    status = polygon_self_intersects(poly)
    if status != "non_intersecting":
        raise ValueError(f"clip_polygon rejected: {status}")
    return poly, tile_cover(*poly.min(axis=0), *poly.max(axis=0))


def run_hillshade(
    spark: SparkSession,
    images: DataFrame,
    tile_size: int,
    script: str = pipeline.DEFAULT_SCRIPT,
    output_dir: str | None = None,
    resume: bool = True,
    clip_polygon=None,
    shade_partitions: int | None = None,
    prefilter: str | None = None,
    png_level: int | None = None,
) -> DataFrame:
    """images table → shaded PNG tiles.

    With ``output_dir`` the job is resumable: completed tile keys are
    read back from the sink (the checkpoint manifest) and anti-joined
    out of the input — re-running after a failure only shades the
    missing tiles (ImportSrtmTilesCommand.fs:110-124 semantics).
    ``clip_polygon`` — sequence of (lon, lat) vertices: tiles outside
    the polygon's bbox are pruned with a Catalyst predicate before the
    shuffle (:func:`clip_cover`) and pixels outside the polygon render
    transparent (per-band vectorized point-in-polygon clip, SURVEY.md
    §2.3 J9).
    ``prefilter`` — height low/high-pass step script (``"blur"``,
    ``"sharpen(amount=…)"``; Roadmap.md filters) applied before the
    Horn gradient; widens the halo exchange by one ring per step.
    ``shade_partitions`` — the number of reduce tasks the tiles are
    dealt over (:func:`reduce_tiles`; default one per core).
    """
    clip_poly, cover = clip_cover(clip_polygon)
    halo, shade = tile_shader(tile_size, script, clip_poly, prefilter, png_level)
    parts = hillshade_parts(parse_caption(images), tile_size, halo, keep=cover)
    if output_dir is not None and resume:
        done = _read_manifest(spark, output_dir)
        if done is not None:
            # anti-join on the DESTINATION tile key, after strip
            # emission: completed tiles still contribute halo strips
            # to incomplete neighbors (dropping them earlier would
            # corrupt resumed edges)
            parts = parts.join(
                F.broadcast(done), on=["tile_x", "tile_y"], how="left_anti"
            )
    shaded = reduce_tiles(parts, shade, SHADED_SCHEMA, shade_partitions)
    if output_dir is not None:
        shaded.write.mode("append").parquet(output_dir)
        return spark.read.schema(SHADED_SCHEMA).parquet(output_dir)
    return shaded


#: sink read failures that mean "nothing shaded yet": the directory is
#: absent, or holds no parquet files
_NO_MANIFEST = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def _read_manifest(spark: SparkSession, output_dir: str) -> DataFrame | None:
    """Completed tile keys in the sink, or None before the first commit.
    Any other read failure (e.g. a corrupt part file) propagates:
    reading it as "no manifest" would reshade every tile and append
    duplicates."""
    try:
        return spark.read.parquet(output_dir).select("tile_x", "tile_y").distinct()
    except AnalysisException as e:
        if e.getCondition() in _NO_MANIFEST:
            return None
        raise


# ---------------------------------------------------------------------------
# single-array oracle (for the tiled == untiled parity property)
# ---------------------------------------------------------------------------

def shade_world_oracle(
    world: np.ndarray,
    spec: WorldSpec,
    script: str = pipeline.DEFAULT_SCRIPT,
    clip_poly: np.ndarray | None = None,
    prefilter: str | None = None,
) -> np.ndarray:
    """Shade the whole world as ONE merged array (the reference's
    merged-HeightsArray path) and return the bitmap-oriented RGBA image.
    Used to prove the halo exchange reproduces untiled results.
    ``clip_poly`` applies the same point-in-polygon raster clip as the
    distributed path; ``prefilter`` the same height low/high-pass chain.
    """
    steps = pipeline.parse_script(script)
    registry = dict(pipeline.SHADER_REGISTRY)  # same snapshot semantics
    # as the distributed path (oracle runs driver-side, so this is the
    # current registry either way)
    pre_steps = pipeline.parse_script(prefilter) if prefilter else []
    k = 1 + len(pre_steps)
    ts = spec.tile_size
    cpd = cells_per_degree(ts, 0)
    h, w = world.shape
    padded = np.full((h + 2 * k, w + 2 * k), DEM_HEIGHT_NONE, dtype=np.int16)
    padded[k : h + k, k : w + k] = world
    if pre_steps:
        padded = apply_prefilters(padded, pre_steps)
    f = kernels.heights_to_float(padded, dtype=np.float32)  # match engine dtype
    min_cell_y = spec.lat0 * ts
    lat_deg = (np.arange(h, dtype=np.float64) + min_cell_y) / cpd
    grid_w, grid_h = kernels.grid_size_meters(cpd, lat_deg)
    p, q = kernels.horn_pq(
        f, grid_w[:, None].astype(np.float32), grid_h[:, None].astype(np.float32)
    )
    slope, aspect = kernels.slope_and_aspect(p, q)
    ctx = pipeline.ShadeContext(
        heights=f[1:-1, 1:-1], slope=slope, aspect=aspect
    )
    rgba = pipeline.evaluate_steps(steps, ctx, registry=registry)
    if clip_poly is not None:
        from .geometry import points_in_polygon

        lon = (np.arange(w, dtype=np.float64) + spec.lon0 * ts) / cpd
        px = np.broadcast_to(lon, (h, w))
        py = np.broadcast_to(lat_deg[:, None], (h, w))
        inside = points_in_polygon(px, py, clip_poly[:, 0], clip_poly[:, 1])
        rgba = rgba.copy()
        rgba[..., 3] = np.where(inside, rgba[..., 3], 0)
    return rgba[::-1, :, :]
