"""Platform-ceiling probe for the shade hot path, WITHOUT Spark.

Runs ``bench.kernel_run`` — the exact per-tile kernel the hillshade
pipeline executes on every task (``engine.render_tile`` at the bench sink
level, on one deterministic 1800² tile) — in 1 and in ``nproc``
independent OS processes.  This isolates the numpy/zlib compute from
Spark's scheduling, Arrow transfer and shuffle: the 1-process leg gives
the per-tile shade and encode times (encode: the PNG writer on a filled
scanline buffer), the nproc leg the host's kernel ceiling for a ``local[nproc]``
Spark job (no leg oversubscribes the host's cores).

Usage: ``python tools/kernel_concurrency.py``.  Prints one JSON line.

Methodology notes:
  - trials are INTERLEAVED across process counts (1, nproc, then again,
    ...) so hypervisor-steal drift hits every level equally;
  - per-level value = median across rounds of the mean per-process
    tile time;
  - the steal fraction is probed before and after.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from bench import KERNEL_TILE, kernel_run, probe_steal

    from demeton_spark.engine import SHADE_BAND_ROWS

    nproc = len(os.sched_getaffinity(0))
    levels = sorted({1, nproc})
    rounds = 3
    steal_before = probe_steal()
    per_level: dict[int, list[dict]] = {n: [] for n in levels}
    for _ in range(rounds):
        for n in levels:
            per_level[n].append(kernel_run(n))
    steal_after = probe_steal()

    def med(n: int, key: str) -> float:
        return round(statistics.median(r[key] for r in per_level[n]), 4)

    out = {
        "metric": "shade-kernel concurrency ceiling (no Spark)",
        "band_rows": SHADE_BAND_ROWS,
        "nproc": nproc,
        "tile_px": KERNEL_TILE,
        "rounds": rounds,
        "steal_probe": {"before": steal_before, "after": steal_after},
        "levels": {
            str(n): {
                "per_tile_sec": med(n, "per_tile_sec"),
                "shade_sec": med(n, "shade_sec"),
                "png_sec": med(n, "png_sec"),
                "agg_mpx_per_sec": med(n, "mpx_s"),
                "all_rounds_mpx": [r["mpx_s"] for r in per_level[n]],
            }
            for n in levels
        },
    }
    # scaling efficiency 1 → nproc: aggregate speedup over the width step
    out["kernel_efficiency_1_to_n"] = round(
        out["levels"][str(levels[-1])]["agg_mpx_per_sec"]
        / (levels[-1] * out["levels"]["1"]["agg_mpx_per_sec"]), 3)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
