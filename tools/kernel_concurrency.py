"""Platform-ceiling probe for the shade hot path, WITHOUT Spark.

Runs the exact per-tile kernel the hillshade pipeline executes on every
task — ``engine.shade_padded_block`` (band-looped float32 Horn +
elecolor|+igor shaders) followed by ``codec.encode_rgba_png`` at the
bench sink level — in 1 and in ``nproc`` independent OS processes, on
the same deterministic 1800² synthetic tile (hole blocks included).
This isolates the numpy/zlib compute from Spark's scheduling, Arrow
transfer and shuffle: the 1-process leg gives the per-tile shade and
encode times, the nproc leg the host's kernel ceiling for a
``local[nproc]`` Spark job (no leg oversubscribes the host's cores).

Usage: ``python tools/kernel_concurrency.py``.  Writes
BENCH/KERNEL_CONCURRENCY.json and prints one JSON line.

Methodology notes:
  - trials are INTERLEAVED across process counts (1, nproc, then again,
    ...) so hypervisor-steal drift hits every level equally;
  - per-level value = median across rounds of the mean per-process
    tile time;
  - the steal fraction is probed before and after.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TILE = 1800
MPX_PER_TILE = TILE * TILE / 1e6


def _work(n_tiles: int) -> tuple[float, float, float]:
    import numpy as np

    from demeton_spark import codec, engine, pipeline
    from demeton_spark.synth import WorldSpec, expected_world_heights

    spec = WorldSpec(lon0=0, lat0=40, n_tiles_x=1, n_tiles_y=1,
                     tile_size=TILE, block_size=300)
    world = expected_world_heights(spec)
    padded = np.full((TILE + 2, TILE + 2), -32768, dtype=np.int16)
    padded[1:-1, 1:-1] = world
    steps = pipeline.parse_script("elecolor|+igor")
    engine.shade_padded_block(padded, 0, 40, TILE, steps)  # warm caches
    t_shade = t_png = 0.0
    t0 = time.time()
    for _ in range(n_tiles):
        a = time.time()
        rgba, _ = engine.shade_padded_block(padded, 0, 40, TILE, steps)
        b = time.time()
        codec.encode_rgba_png(rgba, codec.RGBA_PNG_LEVEL_FAST)
        t_shade += b - a
        t_png += time.time() - b
    n = float(n_tiles)
    return ((time.time() - t0) / n, t_shade / n, t_png / n)


def main() -> None:
    from bench import probe_steal

    from demeton_spark.engine import SHADE_BAND_ROWS

    nproc = len(os.sched_getaffinity(0))
    levels = sorted({1, nproc})
    rounds = 3
    tiles_per_proc = 4
    steal_before = probe_steal()
    ctx = mp.get_context("spawn")
    per_level: dict[int, list[dict]] = {n: [] for n in levels}
    for _ in range(rounds):
        for n in levels:
            with ctx.Pool(n) as pool:
                res = pool.map(_work, [tiles_per_proc] * n)
            tot = sum(r[0] for r in res) / n
            per_level[n].append({
                "per_tile_sec": tot,
                "shade_sec": sum(r[1] for r in res) / n,
                "png_sec": sum(r[2] for r in res) / n,
                "agg_mpx_per_sec": n * MPX_PER_TILE / tot,
            })
    steal_after = probe_steal()

    def med(n: int, key: str) -> float:
        return round(statistics.median(r[key] for r in per_level[n]), 4)

    out = {
        "metric": "shade-kernel concurrency ceiling (no Spark)",
        "band_rows": SHADE_BAND_ROWS,
        "nproc": nproc,
        "tile_px": TILE,
        "rounds": rounds,
        "steal_probe": {"before": steal_before, "after": steal_after},
        "levels": {
            str(n): {
                "per_tile_sec": med(n, "per_tile_sec"),
                "shade_sec": med(n, "shade_sec"),
                "png_sec": med(n, "png_sec"),
                "agg_mpx_per_sec": med(n, "agg_mpx_per_sec"),
                "all_rounds_mpx": [
                    round(r["agg_mpx_per_sec"], 1) for r in per_level[n]
                ],
            }
            for n in levels
        },
    }
    # scaling efficiency 1 → nproc: aggregate speedup over the width step
    out["kernel_efficiency_1_to_n"] = round(
        out["levels"][str(levels[-1])]["agg_mpx_per_sec"]
        / (levels[-1] * out["levels"]["1"]["agg_mpx_per_sec"]), 3)
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "KERNEL_CONCURRENCY.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
