#!/usr/bin/env python
"""Benchmark: end-to-end hillshade throughput + headline contract queries,
measured on the host it runs on.

Default mode (what the driver runs per round):
    SPARK_GRAFT_SF_DIR=<sf0.1 table dir> python bench.py
runs at ``local[nproc]`` (CPU affinity; ``SPARK_GRAFT_CPUS`` overrides)
with the driver memory ``session.driver_memory`` derives from host RAM,
and prints ONE JSON line of at most 1,500 chars:
    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {...slowest...}, "hillshade_stages": {...}, "cpus": ...,
     "kernel_mpx_s": ..., "spark_over_kernel": ..., ...}
The full per-query dict goes to BENCH/QUERIES_r{N}.json.

The yardstick is the bare per-tile kernel (``engine.render_tile``: shade
+ PNG encode of one 1800² tile, ``kernel_run``) in nproc plain OS
processes, measured in the same run right after the hillshade:
``spark_over_kernel`` = hillshade Mpx/s ÷ kernel Mpx/s.

Scaling mode (BASELINE.json north_rule — N vs 4N cores on the same input):
    python bench.py --scaling
runs the identical hillshade at ``local[max(1, nproc // 4)]`` and
``local[nproc]``, prints one JSON line and appends one window to
BENCH/SCALING_WINDOWS.jsonl.

The hillshade input is the deterministic synthetic image table
(demeton_spark.synth), generated once per SF into data/synth/ and
reused; generation time is excluded from the measured pipeline time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

import __spark_entry__  # noqa: E402
from demeton_spark.synth import WorldSpec  # noqa: E402

#: synthetic world per SF: ~12.96 unique Mpx per 0.001 SF (one 3600² tile
#: equivalent), cut into 1800² tiles for better task granularity.
WORLD_BY_SF = {
    0.001: WorldSpec(lon0=0, lat0=40, n_tiles_x=2, n_tiles_y=2,
                     tile_size=1800, block_size=300),
    0.01: WorldSpec(lon0=0, lat0=40, n_tiles_x=8, n_tiles_y=5,
                    tile_size=1800, block_size=300),
    0.1: WorldSpec(lon0=0, lat0=40, n_tiles_x=20, n_tiles_y=20,
                   tile_size=1800, block_size=300),
}

#: every contract query ``__spark_entry__.queries()`` registers, the
#: raster queries included, by name, in its order
HEADLINE_QUERIES = __spark_entry__.queries()


def probe_steal(seconds: float = 2.0) -> float:
    """Hypervisor-steal fraction over a short /proc/stat window.

    The sandbox shows 10-25% steal drifting on a minutes scale, which
    swings wall-clock timings 2-5x (VERDICT r3 adjudicated driver 24.5
    vs isolated 45.4 Mpx/s on identical plans).  Recording the probe in
    the artifact lets a reader distinguish a plan regression from a
    contended measurement window."""

    def snap():
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        return steal, sum(vals)

    try:
        s0, t0 = snap()
        time.sleep(seconds)
        s1, t1 = snap()
        return round((s1 - s0) / max(1, t1 - t0), 4)
    except OSError:
        return -1.0


KERNEL_TILE = 1800


def kernel_tiles(n_tiles: int) -> tuple[float, float, float]:
    """Mean (total, shade, encode) seconds per tile of the function every
    hillshade reduce task runs, ``engine.render_tile`` (elecolor|+igor at
    the bench sink level), on one deterministic 1800² tile (hole blocks
    included), after one untimed warm shade.  ``encode`` times the PNG
    writer alone on the scanline buffer that shade filled; ``shade`` is
    the rest of the render."""
    import numpy as np

    from demeton_spark import codec, engine
    from demeton_spark.synth import expected_world_heights

    spec = WorldSpec(lon0=0, lat0=40, n_tiles_x=1, n_tiles_y=1,
                     tile_size=KERNEL_TILE, block_size=300)
    padded = np.full((KERNEL_TILE + 2, KERNEL_TILE + 2), -32768,
                     dtype=np.int16)
    padded[1:-1, 1:-1] = expected_world_heights(spec)
    steps, registry, lvl, _ = engine.render_setup(
        "elecolor|+igor", codec.RGBA_PNG_LEVEL_FAST)
    scan, pixels = codec.rgba_scanlines(KERNEL_TILE, KERNEL_TILE)
    engine.shade_padded_block(padded, 0, 40, KERNEL_TILE, steps, out=pixels)
    t_tile = t_png = 0.0
    for _ in range(n_tiles):
        a = time.perf_counter()
        engine.render_tile(padded, 0, 40, KERNEL_TILE, steps, registry, lvl)
        b = time.perf_counter()
        codec.encode_rgba_scanlines(scan, lvl)
        t_tile += b - a
        t_png += time.perf_counter() - b
    n = float(n_tiles)
    return t_tile / n, (t_tile - t_png) / n, t_png / n


def kernel_run(nproc: int) -> dict:
    """``kernel_tiles`` (4 tiles each) in ``nproc`` OS processes at once
    — no JVM, no shuffle, no Arrow: the host's own ceiling for this
    compute in a ``local[nproc]`` job."""
    import multiprocessing as mp

    from demeton_spark.session import WORKER_ENV

    # the children inherit the env Spark's Python workers get: its
    # malloc thresholds alone move this kernel's Mpx/s by ~25%
    for k, v in WORKER_ENV.items():
        os.environ.setdefault(k, v)
    # spawn, not fork: the caller may be a driver hosting py4j threads,
    # and fork() from a multithreaded process can deadlock the children
    with mp.get_context("spawn").Pool(nproc) as pool:
        res = pool.map(kernel_tiles, [4] * nproc)
    per_tile = sum(r[0] for r in res) / nproc
    return {
        "per_tile_sec": round(per_tile, 4),
        "shade_sec": round(sum(r[1] for r in res) / nproc, 4),
        "png_sec": round(sum(r[2] for r in res) / nproc, 4),
        "mpx_s": round(nproc * KERNEL_TILE ** 2 / 1e6 / per_tile, 2),
    }


def host_facts() -> dict:
    """Host RAM and the checkout's git sha, for a self-describing record."""
    from demeton_spark.session import host_ram_bytes

    sha = None
    if os.path.isdir(os.path.join(REPO, ".git")):  # else: an export
        try:
            sha = subprocess.run(
                ["git", "describe", "--always", "--dirty", "--abbrev=12"],
                cwd=REPO, capture_output=True, text=True,
            ).stdout.strip() or None
        except OSError:  # no git on this host
            pass
    return {"ram_gb": round(host_ram_bytes() / 2 ** 30, 1), "git": sha}


def sf_of_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def ensure_synth_table(spark, spec: WorldSpec, sf: float,
                       min_files: int = 64) -> str:
    """Generate (once) and return the parquet path of the images table.

    Written as ≥``min_files`` files: parquet scan splits can't be finer
    than a row group, so a 6-file table caps the pre-shuffle stage
    (read → block decode → strip emit → shuffle write) at 6-way
    parallelism no matter the core count — 26 of 32 threads sat idle
    through that stage in every pre-r4 scaling window.  A real 100-TB
    table has thousands of splits; the bench input should too."""
    import glob

    from demeton_spark.synth import images_df

    path = os.path.join(REPO, "data", "synth", f"sf{sf}")
    marker = os.path.join(path, "_SUCCESS")
    n_files = len(glob.glob(os.path.join(path, "part-*")))
    if not os.path.exists(marker) or n_files < min_files:
        images_df(spark, spec, num_partitions=min_files).write.mode(
            "overwrite").parquet(path)
    return path


def run_hillshade_bench(spark, spec: WorldSpec, images_path: str,
                        trials: int = 4) -> dict:
    """Measure the full pipeline: read → assign → assemble → halo → shade.

    Forces execution with a metrics aggregate (no PNG collection to the
    driver — at scale the sink is a distributed write).

    Session warm-up (codegen JIT + per-worker numpy import) is NOT
    handled here: bench_once runs one small untimed sf0.01 hillshade
    first and records its wall as ``warmup_sec``."""
    from pyspark.sql import functions as F

    from demeton_spark import codec
    from demeton_spark.engine import run_hillshade

    images = spark.read.parquet(images_path)
    times, agg = [], None
    for _ in range(trials):  # n trials: the sandbox has heavy
        t0 = time.time()  # CPU-steal variance (3× between trials)
        shaded = run_hillshade(
            spark, images, spec.tile_size, script="elecolor|+igor",
            # throughput metric: fast deflate for the bench sink only —
            # persisted job output defaults to the reference's level 6
            png_level=codec.RGBA_PNG_LEVEL_FAST,
        )
        agg = shaded.agg(
            F.count("*").alias("tiles"),
            F.sum("shaded_px").alias("shaded_px"),
            F.sum("total_px").alias("total_px"),
        ).collect()[0]
        times.append(time.time() - t0)
    # MEDIAN headline (a typical window, not the luckiest draw); the
    # best trial stays in the artifact as supplementary evidence
    elapsed = statistics.median(times)
    mpx = agg["total_px"] / 1e6
    out = {
        "sec": round(elapsed, 3),
        "sec_best": round(min(times), 3),
        "sec_total": round(sum(times), 3),
        "n_trials": trials,
        "tiles": int(agg["tiles"]),
        "megapixels": round(mpx, 2),
        "shaded_px": int(agg["shaded_px"]),
        "mpx_per_sec": round(mpx / elapsed, 2),
    }
    return out


def run_streaming_hillshade_bench(spark) -> float:
    """Time the streaming hillshade twin (state-store halo exchange) on
    the sf0.01 world, micro-batched ~4 ways via maxFilesPerTrigger, so
    state-store overhead is a measured number next to the batch path
    (VERDICT r3 item 8).  availableNow drains the whole table; result
    cardinality is asserted so a silent early stop can't pass.

    State partitions are sized to the key cardinality (40 destination
    tiles -> 8 partitions), not the session's 64 shuffle partitions:
    the stateful operator pays a per-partition state-store commit
    (delta file + fsync) EVERY micro-batch, and `tools/stream_profile.py`
    measured that cost at 13-17.5 s/batch summed across 64 mostly-empty
    state partitions vs ~0.3 s at 8 (VERDICT r4 item 3).  A production
    deployment sizes this once at stream creation (the count is frozen
    into the checkpoint) to O(active keys / cores), exactly as here."""
    import glob
    import shutil
    import tempfile

    from demeton_spark import codec, streaming

    spec = WORLD_BY_SF[0.01]
    images_path = ensure_synth_table(spark, spec, 0.01)
    nfiles = len(glob.glob(os.path.join(images_path, "part-*")))
    per_trigger = max(1, nfiles // 4)
    bounds = (spec.lon0, spec.lat0,
              spec.lon0 + spec.n_tiles_x - 1, spec.lat0 + spec.n_tiles_y - 1)
    ckpt = tempfile.mkdtemp(prefix="bench_stream_ckpt_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        t0 = time.time()
        stream_in = streaming.read_images_stream(
            spark, images_path, max_files_per_trigger=per_trigger
        )
        out = streaming.run_to_memory(
            streaming.streaming_hillshade(
                stream_in, spec.tile_size, bounds,
                png_level=codec.RGBA_PNG_LEVEL_FAST,
            ),
            "bench_stream_shaded",
            ckpt,
        )
        n = out.count()
        sec = time.time() - t0
        expect = spec.n_tiles_x * spec.n_tiles_y
        if n != expect:
            raise AssertionError(
                f"streaming hillshade emitted {n} tiles, expected {expect}"
            )
        return round(sec, 3)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(ckpt, ignore_errors=True)


def _rest(spark, path: str):
    """GET ``path`` of this application's UI REST API; None when the UI
    is off or unreachable."""
    import urllib.request

    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return None
    app = spark.sparkContext.applicationId
    try:
        with urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app}{path}", timeout=30) as resp:
            return json.load(resp)
    except (OSError, ValueError):
        return None


def completed_stages(spark) -> list[dict]:
    """Every completed stage of the session (empty without the UI)."""
    return _rest(spark, "/stages?status=complete") or []


def stage_totals(stages: list[dict]) -> dict:
    """Executor task-s, JVM cpu-s and shuffle MB summed over ``stages``."""
    return {
        "task_s": round(
            sum(st.get("executorRunTime", 0) for st in stages) / 1e3, 1),
        "cpu_s": round(
            sum(st.get("executorCpuTime", 0) for st in stages) / 1e9, 1),
        "shuffle_read_mb": round(
            sum(st.get("shuffleReadBytes", 0) for st in stages) / 1e6, 1),
        "shuffle_write_mb": round(
            sum(st.get("shuffleWriteBytes", 0) for st in stages) / 1e6, 1),
    }


_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, bytes, int, int]]:
    """pid → (ppid, command name, utime + stime, cutime + cstime) from
    each /proc/<pid>/stat: totals over all of a process's threads,
    exited ones included."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:  # the process ended between listdir and open
            continue
        # the command name may hold spaces: fields resume after the last ')'
        name, rest = stat[stat.index(b"(") + 1 :].rsplit(b")", 1)
        f = [int(x) for x in rest.split()[1:15]]
        table[int(entry)] = (f[0], name, f[10] + f[11], f[12] + f[13])
    return table


CPU_ROLES = ("driver", "jvm", "workers")


def cpu_by_role(table: dict, root: int) -> dict[str, float]:
    """CPU seconds of the process tree under ``root``: ``driver`` is
    ``root`` and its non-JVM descendants, ``jvm`` a ``java`` process
    below them, ``workers`` everything below the JVM (the Python daemon
    and its workers).  Reaped children count through their parent's
    cutime/cstime, in the role of its live children.  Per process, not
    per thread: the JVM's JIT compiler threads exit mid-run, and a sum
    over its live threads would drop their CPU."""
    kids: dict[int, list[int]] = {}
    for pid, entry in table.items():
        kids.setdefault(entry[0], []).append(pid)
    ticks = dict.fromkeys(CPU_ROLES, 0)
    todo = [(root, "driver")]
    while todo:
        pid, role = todo.pop()
        if pid in table:
            _, name, own, reaped = table[pid]
            role = "jvm" if role == "driver" and name == b"java" else role
            below = "workers" if role == "jvm" else role
            ticks[role] += own
            ticks[below] += reaped
            todo.extend((k, below) for k in kids.get(pid, []))
    return {role: t / _TICK for role, t in ticks.items()}


def tree_cpu_by_role() -> dict[str, float]:
    return cpu_by_role(_proc_table(), os.getpid())


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process below
    it — the driver, its JVM, the Python workers — read from /proc."""
    return sum(tree_cpu_by_role().values())


def stop_spark(spark) -> None:
    """Stop ``spark`` AND the JVM behind it.  ``spark.stop()`` keeps the
    py4j gateway, so the next session would reuse the first JVM, its
    heap size and its heap history."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None:  # the JVM exits at EOF on its stdin
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _peak_executor_memory(spark) -> dict:
    """Peak executor memory so far (local mode: the one driver-executor
    JVM + its Python workers)."""
    peak: dict[str, int] = {}
    for e in _rest(spark, "/executors") or []:
        for k, v in (e.get("peakMemoryMetrics") or {}).items():
            peak[k] = max(peak.get(k, 0), int(v))
    out = {}
    if "JVMHeapMemory" in peak:
        out["peak_jvm_heap_mb"] = round(peak["JVMHeapMemory"] / 1e6, 1)
    python_rss = peak.get("ProcessTreePythonRSSMemory", 0)
    if python_rss:
        out["peak_python_rss_mb"] = round(python_rss / 1e6, 1)
    return out


def bench_once(cpus: int, sf_dir: str, sf: float, include_queries: bool = True,
               trials: int = 3):
    """One fresh ``local[cpus]`` session in a fresh JVM: an untimed
    warm-up, the timed hillshade with its stage deltas, process-tree CPU
    and peak memory, then, for the full record, the kernel yardstick,
    the stream and the headline queries."""
    from demeton_spark.session import build_session

    spec = WORLD_BY_SF.get(sf, WORLD_BY_SF[0.1])
    spark = build_session(
        app_name=f"bench-local{cpus}",
        master=f"local[{cpus}]",
        extra_conf={
            # block-granular rows: bigger Arrow batches amortize overhead
            "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
            # REST API for the stage deltas and peak memory
            "spark.ui.enabled": "true",
            # surfaces Python-worker RSS in peakMemoryMetrics
            "spark.executor.processTreeMetrics.enabled": "true",
        },
    )
    try:
        images_path = ensure_synth_table(spark, spec, sf)
        # one SMALL (sf0.01, 40-tile) hillshade warms the session: ≥cpus
        # concurrent grouped tasks spawn every Python worker (numpy/pandas
        # import once per worker, reused after) and JIT-compile the same
        # generated operators, at ~3% of a full-SF run's cost.  Recorded
        # as warmup_sec, untimed in the headline — a long cluster job
        # pays this once.
        wspec = WORLD_BY_SF[0.01]
        wpath = ensure_synth_table(spark, wspec, 0.01)
        t0 = time.time()
        run_hillshade_bench(spark, wspec, wpath, trials=1)
        warm_sec = round(time.time() - t0, 3)
        before = {(st["stageId"], st["attemptId"])
                  for st in completed_stages(spark)}
        cpu0 = tree_cpu_by_role()
        hs = run_hillshade_bench(spark, spec, images_path, trials=trials)
        cpu = {r: c - cpu0[r] for r, c in tree_cpu_by_role().items()}
        stages = stage_totals([
            st for st in completed_stages(spark)
            if (st["stageId"], st["attemptId"]) not in before])
        # cpu_s is the JVM's executorCpuTime only; the Python workers
        # and the driver show in the process tree's CPU, split by role
        stages["tree_cpu_s"] = round(sum(cpu.values()), 1)
        stages.update({f"{r}_cpu_s": round(c, 1) for r, c in cpu.items()})
        # the timed trials' wall × cores, beside the task-s they booked
        stages["wall_core_s"] = round(hs["sec_total"] * cpus, 1)
        hs = {**hs, "warmup_sec": warm_sec, "stages": stages,
              **_peak_executor_memory(spark),
              "driver_memory": spark.conf.get("spark.driver.memory")}
        queries: dict[str, float] = {"hillshade": hs["sec"]}
        if include_queries:
            hs["kernel"] = kernel_run(cpus)
            # single run (not median): a state-store-overhead indicator,
            # at sf0.01 regardless of the bench SF (streaming state is
            # exercised, not data scale)
            queries["streaming_hillshade"] = run_streaming_hillshade_bench(
                spark
            )
            for name, fn in HEADLINE_QUERIES.items():
                trials_q = []
                for _ in range(3):  # median-of-3: sandbox CPU-steal variance
                    t0 = time.time()
                    fn(spark, sf_dir).count()
                    trials_q.append(time.time() - t0)
                queries[name] = round(statistics.median(trials_q), 3)
                # queries materialize intermediates (signature barriers,
                # localCheckpoints); drop them between queries so 40+
                # queries x 3 trials don't accumulate block-manager
                # pressure.  localCheckpoint RDD blocks are only freed
                # when the Python-side DataFrame is garbage-collected
                # (ContextCleaner), so collect explicitly — without it
                # late queries in the sweep run against a full block
                # manager and slow an order of magnitude.
                spark.catalog.clearCache()
                import gc

                gc.collect()
        return hs, queries
    finally:
        stop_spark(spark)


def headline(hs: dict, queries: dict, *, sf: float, cpus: int, host: dict,
             steal: tuple[float, float], queries_artifact: str) -> str:
    """The default record: ONE JSON line of at most 1,500 chars.

    The driver records a 2,000-char TAIL of stdout: r3 inlined the
    weak-scaling blob and r4 the 56-entry per-query dict, both outgrew
    the window, cut the FRONT of the JSON off, and parsed as null.  So
    the line inlines only the 7 slowest queries (2 if it would still
    be too long); the full dict is in ``queries_artifact``."""
    kernel = hs["kernel"]["mpx_s"]
    slow = dict(sorted(queries.items(), key=lambda kv: -kv[1])[:7])
    record = {
        "metric": (
            f"end-to-end hillshade ({hs['megapixels']} Mpx @ "
            f"{hs['mpx_per_sec']} Mpx/s) + {len(queries) - 1} headline "
            f"queries, local[{cpus}]"
        ),
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "sf": sf,
        "queries": slow,
        "n_queries": len(queries),
        "hillshade_megapixels": hs["megapixels"],
        "hillshade_mpx_per_sec": hs["mpx_per_sec"],
        "hillshade_sec_best": hs["sec_best"],
        "hillshade_warmup_sec": hs["warmup_sec"],
        "hillshade_stages": hs["stages"],
        "peak_jvm_heap_mb": hs.get("peak_jvm_heap_mb"),
        "peak_python_rss_mb": hs.get("peak_python_rss_mb"),
        "kernel_mpx_s": kernel,
        "spark_over_kernel": round(hs["mpx_per_sec"] / kernel, 3),
        "cpus": cpus,
        "driver_memory": hs["driver_memory"],
        **host,
        "n": 3,
        "stat": "median",
        "steal_probe": {"before": steal[0], "after": steal[1]},
        "artifacts": {"queries": queries_artifact},
    }
    line = json.dumps(record)
    if len(line) > 1500:
        record["queries"] = dict(list(slow.items())[:2])
        line = json.dumps(record)
    return line


def scaling_widths(nproc: int) -> tuple[int, int]:
    """The north rule's N vs 4N cores, from the cores this host gives."""
    return max(1, nproc // 4), nproc


def run_scaling(cpus: int, sf_dir: str, sf: float) -> None:
    """The same hillshade at N and 4N cores.  Three interleaved rounds
    (both widths back-to-back in one window of host weather); efficiency
    = median over rounds of (sec_N / sec_4N) / (4N / N)."""
    lo, hi = scaling_widths(cpus)
    steal_before = probe_steal()
    rounds = []
    for r in range(3):
        rounds.append({n: bench_once(n, sf_dir, sf, include_queries=False,
                                     trials=2)[0] for n in (lo, hi)})
        print(f"round {r}: {rounds[-1]}", file=sys.stderr)
    per_round = [round(r[lo]["sec"] / r[hi]["sec"] / (hi / lo), 3)
                 for r in rounds]
    window = {"widths": [lo, hi], "sf": sf, **host_facts(),
              "steal_before": steal_before, "steal_after": probe_steal(),
              "efficiency": statistics.median(per_round),
              "per_round": per_round}
    append_scaling_window(
        {**window, "rounds": [{str(n): hs for n, hs in r.items()}
                              for r in rounds]})
    print(json.dumps({
        "metric": f"hillshade scaling efficiency local[{lo}]→local[{hi}]",
        "value": window["efficiency"], "unit": "ratio", **window}))


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--scaling", action="store_true",
                        help="run the N vs 4N core-scaling evidence")
    args = parser.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))
    sf = sf_of_dir(sf_dir)

    if args.scaling:
        run_scaling(cpus, sf_dir, sf)
        return

    steal_before = probe_steal()
    hs, queries = bench_once(cpus, sf_dir, sf, include_queries=True)
    steal_after = probe_steal()
    print(headline(hs, queries, sf=sf, cpus=cpus, host=host_facts(),
                   steal=(steal_before, steal_after),
                   queries_artifact=_write_queries_artifact(
                       queries, hs, sf, cpus)))


def _write_queries_artifact(queries: dict, hs: dict, sf: float,
                            cpus: int) -> str:
    """Write the full per-query timing dict to BENCH/QUERIES_r{N}.json.

    N = 1 + the highest round whose driver artifact (BENCH_r{N}.json)
    already exists in the repo root — i.e. the round currently being
    measured.  Falls back to QUERIES_latest.json if none match."""
    import glob
    import re

    rounds = [int(m.group(1)) for p in glob.glob(
        os.path.join(REPO, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))]
    name = (f"QUERIES_r{max(rounds) + 1:02d}.json" if rounds
            else "QUERIES_latest.json")
    rel = os.path.join("BENCH", name)
    path = os.path.join(REPO, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"sf": sf, "cpus": cpus, "n": 3, "stat": "median",
                   "hillshade": hs, "queries": queries}, f, indent=1)
    return rel


SCALING_WINDOWS_PATH = os.path.join(REPO, "BENCH", "SCALING_WINDOWS.jsonl")


def append_scaling_window(window: dict) -> None:
    """Append one --scaling window to the log; every window ever
    measured stays in the file."""
    os.makedirs(os.path.dirname(SCALING_WINDOWS_PATH), exist_ok=True)
    with open(SCALING_WINDOWS_PATH, "a") as f:
        f.write(json.dumps(window) + "\n")


if __name__ == "__main__":
    main()
