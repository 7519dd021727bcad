"""Tests of the benchmark itself.  Run from the repository root:

    python3 -m pytest perfbench -q

The run tests start the benchmark in tiny-input mode, one Spark process
each (several minutes in total).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from probes import Tracer  # noqa: E402
from run import E2E_UNITS, layer_units  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def bench(workload: str, *extra: str, trace: int = 0,
          seed: int = 3) -> tuple[dict, dict]:
    """(result line, self-describing record) of one tiny run."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    result, record = json.loads(lines[-1]), json.loads(lines[-2])["record"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert record["input_digest"] and record["nproc"] >= 1
    return result, record


def assert_metrics(result: dict, expected: dict[str, str]) -> None:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == expected
    for v in result["metrics"].values():
        assert isinstance(v["value"], float)


def test_benchmark_json_is_well_formed():
    s = spec()
    assert set(s) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert {w["name"] for w in s["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in s["end_to_end"]} == E2E_UNITS
    with open(os.path.join(HERE, "LAYERS.md")) as fh:
        documented = fh.read()
    assert all(f"| `{name}` | {unit} |" in documented
               for name, unit in layer_units().items())
    bounds = {m["name"]: m["bound"] for m in s["end_to_end"]}
    assert max(bounds.values()) == bounds["setup_s"] <= 0.25
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer")
             for m in s[k]]
    assert len(names) == len(set(names))


def test_input_digest_follows_the_seed():
    for cls in WORKLOADS.values():
        a, b, c = (cls(seed, False, "").input_digest() for seed in (5, 5, 6))
        assert a == b != c, cls.name


def test_self_time_subtracts_children():
    t = Tracer("r", enabled=True)
    parent = t.add("p", None, 0.0, 10.0)
    t.add("c1", parent["id"], 1.0, 4.0)
    t.add("c2", parent["id"], 3.0, 6.0)  # overlaps c1: counted once
    selfs = {s["name"]: s["self_ms"] for s in t.with_self_time()}
    assert selfs == {"p": 5.0, "c1": 3.0, "c2": 3.0}


@pytest.mark.parametrize("workload", ["hillshade_large", "hillshade_stream"])
def test_tiny_run_emits_every_end_to_end_metric(workload):
    result, record = bench(workload)
    assert result["correct"] and result["failed"] == 0
    assert_metrics(result, E2E_UNITS)
    assert record["workload_metrics"]["error_rate"]["value"] == 0


@pytest.mark.parametrize("workload", ["hillshade_small_skewed", "catalog_joins"])
def test_corrupted_output_raises_error_rate(workload):
    result, record = bench(workload, "--corrupt")
    assert not result["correct"] and result["failed"] >= 1
    assert_metrics(result, E2E_UNITS)
    assert record["workload_metrics"]["error_rate"]["value"] > 0


@pytest.mark.parametrize("workload", [w["name"] for w in spec()["workloads"]])
def test_traced_run_emits_every_per_layer_metric(workload):
    """Each listed workload's traced run, with its companion: together
    they measure every layer, streaming and the catalog queries too."""
    result, record = bench(workload, trace=1)
    assert result["correct"] and result["failed"] == 0
    assert_metrics(result, layer_units())
    m = record["layers"]
    assert m["engine.reduce.task_s"] > 0 and m["kernel.mpx_s_nproc"] > 0
    assert m["engine.map.records_out"] > 0
    assert m["hillshade.spark_over_kernel"] > 0
    if workload == "hillshade_large":
        assert m["streaming.batches"] >= 2 and m["stream_mpx_s"] > 0
    else:
        for q in ("doc_near_dup_pairs", "emb_near_dup_pairs",
                  "image_phash_near_dup"):
            assert m[f"queries.{q}.join_rows"] > 0
            assert m[f"queries.{q}.join_rows"] >= m[f"queries.{q}.rows_out"]
        assert m["queries.geocell_rollup.warm_s"] > 0


def test_without_the_program_it_fails_without_a_result():
    bare = os.path.join(ROOT, ".perfbench_work", f"bare-{os.getpid()}")
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "catalog_joins",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
            env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
        )
        assert proc.returncode != 0
        assert '"metrics"' not in proc.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)
