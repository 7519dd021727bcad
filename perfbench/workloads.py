"""The benchmark's workloads.

Each workload makes its inputs from the seed (``prepare``), warms the
session (``warm_up``), runs one timed unit of work (``unit``) as many
times as the measuring window allows, checks the outputs of its last
unit against an independent oracle (``check``) and, in traced runs,
reports its per-layer metrics (``layers``).  A traced run also runs the
workload's ``companion`` once, so that the layers of the streaming and
catalog-query paths are measured on a listed workload too.  The program
only sees the generated inputs.
"""

from __future__ import annotations

import functools
import gc
import hashlib
import json
import os
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from demeton_spark import codec, kernels, pipeline, streaming, synth
from demeton_spark.engine import run_hillshade, shade_padded_block
from demeton_spark.queries import ORACLES, QUERIES
from demeton_spark.tiles import DEM_HEIGHT_NONE, cells_per_degree
from probes import (KernelPool, Tracer, map_and_reduce, stage_totals,
                    task_max_over_median)

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURES = os.path.join(HERE, "fixtures", "sf0.1")
SCRIPT = "elecolor|+igor"


def _median(values) -> float:
    values = [v for v in values if v is not None]
    return float(statistics.median(values)) if values else 0.0


class Unit:
    """Outcome of one timed unit of work."""

    def __init__(self, wall_s: float, ops: int, failed: int, **info):
        self.wall_s = wall_s
        self.ops = ops
        self.failed = failed
        self.info = info
        self.span_id: str | None = None
        self.peak_mb: dict[str, float] = {}
        self.cpu_s = 0.0


# ---------------------------------------------------------------------------
# hillshade worlds
# ---------------------------------------------------------------------------

class Hillshade:
    """Shared part of the three hillshade workloads: a seeded synthetic
    world (origin from the seed, so terrain and latitude-dependent grid
    change) whose rows are split over ``n_files`` parquet files by a
    seeded permutation."""

    name = ""
    n_tiles_xy = (1, 1)
    tile_size = 1800
    block_size = 300
    skew_factor = 1
    n_files = 8
    png_level: int | None = None
    conf: dict[str, str] = {}
    # kernel yardstick: shade+encode repetitions per process per round
    yardstick_reps = 2

    def __init__(self, seed: int, tiny: bool, workdir: str):
        self.seed, self.tiny, self.workdir = seed, tiny, workdir
        if tiny:
            self.shrink()
        rng = np.random.default_rng(seed)
        nx, ny = self.n_tiles_xy
        self.spec = synth.WorldSpec(
            lon0=int(rng.integers(-150, 150)), lat0=int(rng.integers(-55, 50)),
            n_tiles_x=nx, n_tiles_y=ny, tile_size=self.tile_size,
            block_size=self.block_size, skew_factor=self.skew_factor,
        )
        self.perm = rng.permutation(self.spec.n_rows)
        n_sample = self.spec.n_tiles if tiny else min(2, self.spec.n_tiles)
        picks = rng.choice(self.spec.n_tiles, n_sample, replace=False)
        self.sample = sorted(self._tile_xy(int(i)) for i in picks)
        self.input_path = ""
        self.corrupt = False

    def shrink(self) -> None:
        """Tiny-input mode: the same topology on a few small tiles."""
        self.n_tiles_xy, self.n_files = (2, 1), 4
        self.tile_size, self.block_size = 600, 300
        self.yardstick_reps = 1

    @property
    def ops_per_unit(self) -> int:
        return self.spec.n_tiles

    def after_window(self, spark, tracer) -> None:
        """Traced runs: extra work between the window and the harvest."""

    def companion(self):
        """Traced runs: another workload run once after the window."""
        return None

    def _tile_xy(self, index: int) -> tuple[int, int]:
        ty_i, tx_i = divmod(index, self.spec.n_tiles_x)
        return self.spec.lon0 + tx_i, self.spec.lat0 + ty_i

    @property
    def level(self) -> int:
        return codec.RGBA_PNG_LEVEL if self.png_level is None else self.png_level

    @property
    def megapixels(self) -> float:
        return self.spec.total_megapixels

    def input_digest(self) -> str:
        h = hashlib.sha256(repr(self.spec).encode())
        h.update(str(self.n_files).encode())
        h.update(self.perm.astype(np.int64).tobytes())
        return h.hexdigest()[:16]

    def write_images(self, spark, spec, perm, n_files: int, path: str) -> None:
        def gen(batches):
            for pdf in batches:
                yield synth.generate_images_pdf(spec, perm[pdf["id"].to_numpy()])

        (spark.range(0, spec.n_rows, numPartitions=n_files)
         .mapInPandas(gen, schema=synth.IMAGES_SCHEMA)
         .write.parquet(path))

    def prepare(self, spark, dest: str) -> None:
        self.input_path = os.path.join(dest, "images")
        self.write_images(spark, self.spec, self.perm, self.n_files,
                          self.input_path)

    def warm_up(self, spark) -> None:
        """One untimed unit on the prepared input: spawns every Python
        worker and compiles the generated code of the same operators."""
        self.unit(spark, -1, Tracer("", False))

    # -- oracle ------------------------------------------------------------

    @functools.cached_property
    def padded_world(self) -> np.ndarray:
        """The single-process world oracle (synth.expected_world_heights)
        with a 1-px no-data border."""
        world = synth.expected_world_heights(self.spec)
        padded = np.full((world.shape[0] + 2, world.shape[1] + 2),
                         DEM_HEIGHT_NONE, dtype=np.int16)
        padded[1:-1, 1:-1] = world
        return padded

    def padded_tiles(self, tiles: list[tuple[int, int]]) -> dict:
        """Each tile's expected heights with its neighbours' 1-px halo."""
        ts, padded = self.spec.tile_size, self.padded_world
        out = {}
        for tx, ty in tiles:
            ix, iy = tx - self.spec.lon0, ty - self.spec.lat0
            out[(tx, ty)] = np.ascontiguousarray(
                padded[iy * ts : iy * ts + ts + 2, ix * ts : ix * ts + ts + 2])
        return out

    def oracle_tiles(self, tiles: list[tuple[int, int]]) -> dict:
        """Single-process oracle: padded expected heights →
        engine.shade_padded_block."""
        steps = pipeline.parse_script(SCRIPT)
        return {(tx, ty): shade_padded_block(block, tx, ty, self.spec.tile_size,
                                             steps)[0]
                for (tx, ty), block in self.padded_tiles(tiles).items()}

    def compare_tiles(self, pngs: dict, expected: dict) -> tuple[int, int]:
        """(tiles checked, tiles whose decoded pixels differ or are
        missing).  ``--corrupt`` flips one pixel of the first tile."""
        failed = 0
        for n, key in enumerate(sorted(expected)):
            if key not in pngs:
                failed += 1
                continue
            got = codec.decode_rgba_png(bytes(pngs[key]))
            if self.corrupt and n == 0:
                got = got.copy()
                got[0, 0, 0] ^= 0xFF
            if not np.array_equal(got, expected[key]):
                failed += 1
        return len(expected), failed

    # -- traced-run layers ---------------------------------------------------

    def kernel_pool(self, nproc: int) -> KernelPool:
        """The bare shade+encode kernel on a sample tile of this world in
        ``nproc`` processes: the yardstick for this host, this run."""
        tx, ty = self.sample[0]
        block = self.padded_tiles([(tx, ty)])[(tx, ty)]
        return KernelPool(block, tx, ty, self.spec.tile_size, SCRIPT,
                          self.level, nproc, self.yardstick_reps)

    def kernel_1proc(self) -> float:
        """Mpx/s of the bare shade+encode of a sample tile in this process
        (the calibration an untraced record carries; the oracle check has
        already run the kernel here)."""
        tx, ty = self.sample[0]
        block = self.padded_tiles([(tx, ty)])[(tx, ty)]
        steps = pipeline.parse_script(SCRIPT)
        t0 = time.perf_counter()
        rgba = shade_padded_block(block, tx, ty, self.spec.tile_size, steps)[0]
        codec.encode_rgba_png(rgba, self.level)
        return self.spec.tile_size ** 2 / 1e6 / (time.perf_counter() - t0)

    def kernel_layers(self, kernel_mpx_s: float) -> dict[str, float]:
        """Kernels replayed in this process on a sample tile of the
        workload; ``kernel_mpx_s`` is the run's N-process yardstick."""
        spec, ts = self.spec, self.spec.tile_size
        tx, ty = self.sample[0]
        block = self.padded_tiles([(tx, ty)])[(tx, ty)]
        steps = pipeline.parse_script(SCRIPT)
        cpd = cells_per_degree(ts, 0)
        lat = (np.arange(ts, dtype=np.float64) + ty * ts) / cpd
        gw, gh = kernels.grid_size_meters(cpd, lat)
        gw32 = gw[:, None].astype(np.float32)
        gh32 = gh[:, None].astype(np.float32)

        def gradient():
            f = kernels.heights_to_float(block, dtype=np.float32)
            p, q = kernels.horn_pq(f, gw32, gh32)
            kernels.slope_and_aspect(p, q)

        rgba = shade_padded_block(block, tx, ty, ts, steps)[0]
        bs = spec.block_size
        payloads = [codec.encode_heights_png(block[1 : bs + 1, 1 + i * bs : 1 + (i + 1) * bs])
                    for i in range(min(8, ts // bs))]

        def timed(fn, reps=3) -> float:
            fn()
            walls = []
            for _ in range(reps):
                t0 = time.perf_counter()
                fn()
                walls.append(time.perf_counter() - t0)
            return _median(walls)

        shade_s = timed(lambda: shade_padded_block(block, tx, ty, ts, steps))
        encode_s = timed(lambda: codec.encode_rgba_png(rgba, self.level))
        mpx = ts * ts / 1e6
        return {
            "kernels.gradient_s_per_tile": timed(gradient),
            "pipeline.shade_s_per_tile": shade_s,
            "codec.encode_s_per_tile": encode_s,
            "codec.decode_s_per_block": timed(
                lambda: [codec.decode_heights_png(b) for b in payloads]
            ) / len(payloads),
            "kernel.mpx_s_1proc": mpx / (shade_s + encode_s),
            "kernel.mpx_s_nproc": kernel_mpx_s,
        }


class HillshadeBatch(Hillshade):
    """``run_hillshade`` over the whole world per unit."""

    output_dir_sink = False

    def unit(self, spark, i: int, tracer) -> Unit:
        out_dir = (os.path.join(self.workdir, "out", f"{i}_{time.time_ns()}")
                   if self.output_dir_sink else None)
        keep = F.lit(False)
        for tx, ty in self.sample:
            keep = keep | ((F.col("tile_x") == tx) & (F.col("tile_y") == ty))
        t0 = time.perf_counter()
        shaded = run_hillshade(spark, spark.read.parquet(self.input_path),
                               self.spec.tile_size, script=SCRIPT,
                               output_dir=out_dir, png_level=self.png_level)
        row = shaded.agg(
            F.count("*").alias("tiles"),
            F.sum("total_px").alias("px"),
            F.sum("n_blocks").alias("blocks"),
            # the aggregate sink also brings back the sampled tiles
            F.collect_list(F.when(keep, F.struct("tile_x", "tile_y", "png")))
            .alias("sample"),
        ).collect()[0]
        wall = time.perf_counter() - t0
        self.last_out = out_dir
        self.last_sample = {(r["tile_x"], r["tile_y"]): r["png"]
                            for r in row["sample"]}
        n = self.spec.n_tiles
        return Unit(wall, n, max(0, n - int(row["tiles"])),
                    px=int(row["px"] or 0), blocks=int(row["blocks"] or 0))

    def check(self, spark) -> tuple[int, int]:
        if self.output_dir_sink:
            # every tile the sink holds, read back without Spark
            import pyarrow.parquet as pq

            tab = pq.read_table(self.last_out,
                                columns=["tile_x", "tile_y", "png"]).to_pydict()
            pngs = dict(zip(zip(tab["tile_x"], tab["tile_y"]), tab["png"]))
            tiles = [self._tile_xy(t) for t in range(self.spec.n_tiles)]
        else:
            pngs, tiles = self.last_sample, self.sample
        return self.compare_tiles(pngs, self.oracle_tiles(tiles))

    def e2e(self, units: list[Unit]) -> dict:
        return {"hillshade_mpx_s": (self.megapixels / _median(u.wall_s for u in units),
                                    "Mpx/s")}

    def layers(self, spark, units: list[Unit], per_span: dict,
               kernel_mpx_s: float | None) -> dict[str, float]:
        rows = []
        for u in units:
            m, r = map_and_reduce(per_span.get(u.span_id, {}).get("stages", []))
            if r is None:
                continue
            mt, rt = stage_totals([m]), stage_totals([r])
            rows.append({
                "engine.map.task_s": mt["task_s"],
                "engine.map.cpu_s": mt["cpu_s"],
                "engine.map.gc_s": mt["gc_s"],
                "engine.map.records_out": mt["records_out"],
                "engine.map.shuffle_write_mb": mt["shuffle_write_mb"],
                "engine.reduce.task_s": rt["task_s"],
                "engine.reduce.cpu_s": rt["cpu_s"],
                "engine.reduce.gc_s": rt["gc_s"],
                "engine.reduce.fetch_wait_s": rt["fetch_wait_s"],
                "engine.reduce.shuffle_read_mb": rt["shuffle_read_mb"],
                "engine.reduce.spill_mb": rt["spill_mb"],
                "engine.reduce.task_max_over_median": task_max_over_median(spark, r),
            })
        out = {k: _median(r[k] for r in rows) for k in (rows[0] if rows else {})}
        out.update(self.kernel_layers(kernel_mpx_s))
        blocks = _median(u.info["blocks"] for u in units)
        out["engine.blocks_received"] = blocks
        out["engine.winner_ratio"] = (self.spec.n_base_blocks / blocks
                                      if blocks else 0.0)
        # reduce task-s the replayed kernels do not explain, and the
        # kernels' share of it
        kernel_s = self.spec.n_tiles * (out["pipeline.shade_s_per_tile"]
                                        + out["codec.encode_s_per_tile"])
        task_s = out.get("engine.reduce.task_s", 0.0)
        out["engine.reduce.non_kernel_s"] = task_s - kernel_s
        out["engine.reduce.kernel_share"] = kernel_s / task_s if task_s else 0.0
        if self.output_dir_sink:
            files = [os.path.join(d, f) for d, _, fs in os.walk(self.last_out)
                     for f in fs if f.endswith(".parquet")]
            out["engine.sink.files"] = float(len(files))
            out["engine.sink.output_mb"] = sum(map(os.path.getsize, files)) / 1e6
        out["hillshade_mpx_s"] = self.e2e(units)["hillshade_mpx_s"][0]
        out["hillshade.spark_over_kernel"] = out["hillshade_mpx_s"] / kernel_mpx_s
        return out


class HillshadeLarge(HillshadeBatch):
    """Kernel-heavy: large tiles, fast deflate, aggregate sink.  In traced
    runs on a 4-vCPU host the replayed shade+encode was 30-64 % of the
    reduce stage's task time at 4x2 tiles (39 % at 2x2, where per-task
    cost weighs more; 4-10 % on hillshade_small_skewed)."""

    name = "hillshade_large"
    n_tiles_xy = (4, 2)
    png_level = codec.RGBA_PNG_LEVEL_FAST
    conf = {"spark.sql.execution.arrow.maxRecordsPerBatch": "512"}

    def companion(self):
        """A 2x2-tile world of the same tile and block size drained as
        a stream (streaming.* layers)."""
        return HillshadeStream(self.seed, self.tiny, self.workdir)


class HillshadeSmallSkewed(HillshadeBatch):
    """Plumbing-bound: many small tiles from tiny blocks, 4x duplicate
    skew on every third tile, resumable parquet sink at PNG level 6."""

    name = "hillshade_small_skewed"
    n_tiles_xy = (4, 4)
    tile_size, block_size, skew_factor = 240, 30, 4
    output_dir_sink = True
    yardstick_reps = 60
    conf = {"spark.sql.execution.arrow.maxRecordsPerBatch": "512"}

    def shrink(self) -> None:
        self.n_tiles_xy, self.n_files, self.tile_size = (2, 2), 4, 60
        self.yardstick_reps = 4

    def companion(self):
        """The nine catalog queries, cold then warm, on a seeded 5 % row
        subsample (queries.* layers)."""
        return CatalogJoins(self.seed, self.tiny, self.workdir, fraction=0.05)


class HillshadeStream(Hillshade):
    """``streaming.streaming_hillshade`` drained with availableNow, one
    input file per micro-batch."""

    name = "hillshade_stream"
    # 2x2 tiles of 1800^2 in 8 input files: 8 micro-batches
    n_tiles_xy = (2, 2)
    # state partitions sized to the destination-tile count, as bench.py
    conf = {"spark.sql.shuffle.partitions": "8"}
    png_level = codec.RGBA_PNG_LEVEL_FAST

    @property
    def bounds(self):
        s = self.spec
        return (s.lon0, s.lat0, s.lon0 + s.n_tiles_x - 1, s.lat0 + s.n_tiles_y - 1)

    def drain(self, spark, images_path: str, spec, bounds, tag: str):
        """Start, drain and stop one availableNow query; returns (query,
        wall seconds, output rows)."""
        name = f"perfbench_stream_{tag}"
        t0 = time.perf_counter()
        src = streaming.read_images_stream(spark, images_path,
                                           max_files_per_trigger=1)
        q = (streaming.streaming_hillshade(src, spec.tile_size, bounds,
                                           script=SCRIPT,
                                           png_level=self.png_level)
             .writeStream.format("memory").queryName(name)
             .outputMode("append")
             .option("checkpointLocation",
                     os.path.join(self.workdir, "checkpoints", name))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        wall = time.perf_counter() - t0
        rows = spark.table(name).select("tile_x", "tile_y", "png").collect()
        spark.catalog.dropTempView(name)
        return q, wall, rows

    def warm_up(self, spark) -> None:
        """A 2-file drain of a 2x1-tile world: the first micro-batches of
        the timed drain are not the first ones the session runs."""
        spec = synth.WorldSpec(lon0=self.spec.lon0, lat0=self.spec.lat0,
                         n_tiles_x=2, n_tiles_y=1, tile_size=60, block_size=30)
        path = os.path.join(self.workdir, f"warm_{time.time_ns()}")
        self.write_images(spark, spec, np.arange(spec.n_rows), 2, path)
        self.drain(spark, path, spec, (spec.lon0, spec.lat0, spec.lon0 + 1,
                                       spec.lat0), f"warm{time.time_ns()}")

    def unit(self, spark, i: int, tracer) -> Unit:
        q, wall, rows = self.drain(spark, self.input_path, self.spec,
                                   self.bounds, str(i))
        self.last_rows = {(r["tile_x"], r["tile_y"]): r["png"] for r in rows}
        self.last_progress = [json.loads(p.json) if hasattr(p, "json") else p
                              for p in q.recentProgress]
        n = self.spec.n_tiles
        return Unit(wall, n, max(0, n - len(rows)),
                    stream_run_id=str(q.runId))

    def check(self, spark) -> tuple[int, int]:
        """Stream output against the batch output tile for tile, and the
        sampled tiles against the single-process oracle."""
        batch = run_hillshade(spark, spark.read.parquet(self.input_path),
                              self.spec.tile_size, script=SCRIPT,
                              png_level=self.png_level
                              ).select("tile_x", "tile_y", "png").collect()
        want = {(r["tile_x"], r["tile_y"]): codec.decode_rgba_png(bytes(r["png"]))
                for r in batch}
        checked, failed = self.compare_tiles(self.last_rows, want)
        c2, f2 = self.compare_tiles(self.last_rows, self.oracle_tiles(self.sample))
        return checked + c2, failed + f2

    def e2e(self, units: list[Unit]) -> dict:
        return {"stream_mpx_s": (self.megapixels / _median(u.wall_s for u in units),
                                 "Mpx/s")}

    def layers(self, spark, units, per_span,
               kernel_mpx_s: float | None) -> dict[str, float]:
        prog = self.last_progress
        state = [op for p in prog for op in p.get("stateOperators", [])]
        out = {
            "streaming.batches": float(len(prog)),
            "streaming.batch_s_p50": _median(
                p["durationMs"].get("triggerExecution", 0) / 1e3 for p in prog),
            "streaming.add_batch_s": sum(
                p["durationMs"].get("addBatch", 0) for p in prog) / 1e3,
            "streaming.state_commit_s": sum(
                op.get("commitTimeMs", 0) for op in state) / 1e3,
            "streaming.state_rows": float(max(
                (op.get("numRowsTotal", 0) for op in state), default=0)),
            "streaming.state_mb": max(
                (op.get("memoryUsedBytes", 0) for op in state), default=0) / 1e6,
        }
        out["stream_mpx_s"] = self.e2e(units)["stream_mpx_s"][0]
        if kernel_mpx_s is not None:  # run on its own, not as a companion
            out.update(self.kernel_layers(kernel_mpx_s))
            out["hillshade.spark_over_kernel"] = out["stream_mpx_s"] / kernel_mpx_s
        return out


# ---------------------------------------------------------------------------
# catalog joins
# ---------------------------------------------------------------------------

DEDUP_QUERIES = ("doc_near_dup_pairs", "emb_near_dup_pairs", "image_phash_near_dup")
SPATIAL_QUERIES = ("geo_polygon_overlaps", "geo_knn_cells",
                   "geo_points_in_polygons", "geocell_rollup",
                   "geo_zonal_stats", "tile_assign_events")
CATALOG_TABLES = ("documents", "embeddings", "events")


class CatalogJoins:
    """Cold contract queries on a seeded fixed-fraction row subsample of
    the sf0.1 documents/embeddings/events tables.  Every unit reads the
    tables through a fresh directory name, so the per-(session, path)
    query memos start cold in each unit."""

    name = "catalog_joins"
    conf: dict[str, str] = {}

    def __init__(self, seed: int, tiny: bool, workdir: str,
                 fraction: float = 0.15):
        import pyarrow.parquet as pq

        self.seed, self.tiny, self.workdir = seed, tiny, workdir
        self.fraction = 0.02 if tiny else fraction
        rng = np.random.default_rng(seed)
        self.rows = {}
        for t in CATALOG_TABLES:
            n = pq.ParquetFile(os.path.join(FIXTURES, f"{t}.parquet")).metadata.num_rows
            self.rows[t] = np.sort(rng.choice(n, int(round(n * self.fraction)),
                                              replace=False))
        self.base = ""
        self.corrupt = False
        self.warm: dict[str, float] = {}

    ops_per_unit = len(DEDUP_QUERIES) + len(SPATIAL_QUERIES)
    megapixels = 0.0

    def kernel_pool(self, nproc: int) -> None:
        return None  # no raster kernel in this workload

    def kernel_1proc(self) -> None:
        return None

    def input_digest(self) -> str:
        h = hashlib.sha256(str(self.fraction).encode())
        for t in CATALOG_TABLES:
            h.update(t.encode())
            h.update(self.rows[t].astype(np.int64).tobytes())
        return h.hexdigest()[:16]

    def prepare(self, spark, dest: str) -> None:
        import pyarrow.parquet as pq

        self.base = os.path.join(dest, "tables")
        os.makedirs(self.base)
        for t in CATALOG_TABLES:
            tab = pq.read_table(os.path.join(FIXTURES, f"{t}.parquet"))
            pq.write_table(tab.take(self.rows[t]),
                           os.path.join(self.base, f"{t}.parquet"))

    def fresh_dir(self, tag: str) -> str:
        """The subsample under a new directory name (links to the same
        files): a path no memo has seen."""
        d = os.path.join(self.workdir, "rounds", tag)
        os.makedirs(d)
        for t in CATALOG_TABLES:
            os.symlink(os.path.join(self.base, f"{t}.parquet"),
                       os.path.join(d, f"{t}.parquet"))
        return d

    def warm_up(self, spark) -> None:
        QUERIES["tile_assign_events"](
            spark, self.fresh_dir(f"warm{time.time_ns()}")).toPandas()

    def run_queries(self, spark, sf_dir: str, tracer, prefix: str) -> dict:
        out = {}
        for q in DEDUP_QUERIES + SPATIAL_QUERIES:
            with tracer.span(f"{prefix}.{q}", query=q) as sp:
                t0 = time.perf_counter()
                try:
                    pdf = QUERIES[q](spark, sf_dir).toPandas()
                except Exception as exc:  # one failed query is one failed op
                    print(f"perfbench: {q} failed: {exc!r}", flush=True)
                    pdf = None
                wall = time.perf_counter() - t0
            out[q] = (wall, pdf, sp["id"] if sp else None)
        spark.catalog.clearCache()
        gc.collect()
        return out

    def unit(self, spark, i: int, tracer) -> Unit:
        sf_dir = self.fresh_dir(f"u{i}_{time.time_ns()}")
        t0 = time.perf_counter()
        res = self.run_queries(spark, sf_dir, tracer, "query")
        wall = time.perf_counter() - t0
        self.last_dir, self.last = sf_dir, res
        failed = sum(1 for w, pdf, _ in res.values() if pdf is None)
        return Unit(wall, len(res), failed,
                    dedup_s=sum(res[q][0] for q in DEDUP_QUERIES),
                    spatial_s=sum(res[q][0] for q in SPATIAL_QUERIES))

    def check(self, spark) -> tuple[int, int]:
        """Each query result against its DuckDB twin over the same
        subsample files, compared by tools/oracle_check.compare."""
        import duckdb

        from tools.oracle_check import compare

        con = duckdb.connect()
        try:
            for t in CATALOG_TABLES:
                con.sql(f"create view {t} as select * from "
                        f"read_parquet('{self.base}/{t}.parquet')")
            failed = 0
            for n, (q, (_, pdf, _)) in enumerate(sorted(self.last.items())):
                if pdf is None:
                    continue  # already counted as a failed operation
                if self.corrupt and n == 0:
                    pdf = pdf.iloc[1:]
                problems = compare(q, pdf, con.sql(ORACLES[q]).df())
                if problems:
                    print(f"perfbench: {q} mismatch: {'; '.join(problems)}",
                          flush=True)
                    failed += 1
            return len(self.last), failed
        finally:
            con.close()

    def e2e(self, units: list[Unit]) -> dict:
        return {
            "dedup_s": (_median(u.info["dedup_s"] for u in units), "s"),
            "spatial_join_s": (_median(u.info["spatial_s"] for u in units), "s"),
        }

    def layers(self, spark, units, per_span,
               kernel_mpx_s: float | None) -> dict[str, float]:
        out = {}
        for q, (cold, pdf, sid) in self.last.items():
            acc = per_span.get(sid, {"stages": [], "join_rows": 0.0})
            tot = stage_totals(acc["stages"])
            rows_out = float(len(pdf)) if pdf is not None else 0.0
            out[f"queries.{q}.cold_s"] = cold
            out[f"queries.{q}.warm_s"] = self.warm.get(q, 0.0)
            out[f"queries.{q}.task_s"] = tot["task_s"]
            out[f"queries.{q}.shuffle_mb"] = tot["shuffle_write_mb"]
            out[f"queries.{q}.spill_mb"] = tot["spill_mb"]
            out[f"queries.{q}.rows_out"] = rows_out
            if q in DEDUP_QUERIES:
                out[f"queries.{q}.join_rows"] = acc["join_rows"]
                out[f"queries.{q}.verify_ratio"] = (
                    rows_out / acc["join_rows"] if acc["join_rows"] else 0.0)
        e2e = self.e2e(units)
        out["dedup_s"] = e2e["dedup_s"][0]
        out["spatial_join_s"] = e2e["spatial_join_s"][0]
        return out

    def companion(self):
        return None

    def after_window(self, spark, tracer) -> None:
        """The last unit's queries again on the same path: memos warm."""
        res = self.run_queries(spark, self.last_dir, tracer, "warm")
        self.warm = {q: w for q, (w, _, _) in res.items()}


WORKLOADS = {
    w.name: w for w in (HillshadeLarge, HillshadeSmallSkewed, HillshadeStream,
                        CatalogJoins)
}
