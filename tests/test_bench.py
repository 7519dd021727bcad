"""Spark-free checks of the benchmark's host-derived settings and of the
one-line record the driver reads."""

import json

import pytest

import bench
from demeton_spark.session import driver_memory


@pytest.mark.parametrize("nproc, widths",
                         [(1, (1, 1)), (2, (1, 2)), (4, (1, 4)), (32, (8, 32))])
def test_scaling_widths_follow_the_cores(nproc, widths):
    assert bench.scaling_widths(nproc) == widths


def test_default_headline_fits_the_driver_tail():
    # every query the record can carry; the longest names run slowest
    queries = {name: 1000.0 + len(name) for name in
               ["hillshade", "streaming_hillshade", *bench.HEADLINE_QUERIES]}
    hs = {"megapixels": 1296.0, "mpx_per_sec": 30.51, "sec_best": 38.812,
          "warmup_sec": 12.345, "driver_memory": "7g",
          "stages": {"task_s": 123.4, "cpu_s": 12.3,
                     "shuffle_read_mb": 2345.6, "shuffle_write_mb": 2345.6,
                     "wall_core_s": 567.8},
          "peak_jvm_heap_mb": 5432.1, "peak_python_rss_mb": 3210.9,
          "kernel": {"mpx_s": 42.91}}
    line = bench.headline(
        hs, queries, sf=0.1, cpus=4,
        host={"ram_gb": 15.7, "git": "0123456789ab"},
        steal=(0.0123, 0.0456), queries_artifact="BENCH/QUERIES_r06.json")
    assert len(line) <= 1500
    record = json.loads(line)
    assert record["unit"] == "sec"
    assert record["value"] == pytest.approx(sum(queries.values()))
    assert "local[4]" in record["metric"]
    assert record["cpus"] == 4 and record["driver_memory"] == "7g"
    assert record["kernel_mpx_s"] == 42.91
    assert record["spark_over_kernel"] == pytest.approx(30.51 / 42.91, abs=1e-3)
    assert record["hillshade_stages"]["task_s"] == 123.4
    assert record["peak_jvm_heap_mb"] == 5432.1


def test_driver_memory_is_half_the_host_ram(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert driver_memory(16479424 * 1024) == "7g"  # MemTotal 15.7 GiB
    assert driver_memory(64 * 2 ** 30) == "32g"
    assert driver_memory(2 ** 30) == "1g"  # floor


def test_driver_memory_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert driver_memory(64 * 2 ** 30) == "3g"
    assert driver_memory() == "3g"


def test_tree_cpu_counts_a_busy_child():
    """A child's CPU counts while it runs and after it is reaped."""
    import subprocess
    import sys
    import time

    burn = ("import time\nt = time.process_time()\n"
            "while time.process_time() - t < 0.5:\n    pass\n"
            "print('done', flush=True)\ntime.sleep(60)\n")
    tree0, own0 = bench.tree_cpu_s(), time.process_time()
    child = subprocess.Popen([sys.executable, "-c", burn],
                             stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "done"
        alive = bench.tree_cpu_s() - tree0 - (time.process_time() - own0)
    finally:
        child.kill()
        child.wait()
    reaped = bench.tree_cpu_s() - tree0 - (time.process_time() - own0)
    assert alive >= 0.45 and reaped >= 0.45


def test_cpu_by_role_splits_driver_jvm_and_workers():
    """Role by place in the tree; reaped children's ticks go to the role
    of their parent's live children; processes outside the tree and the
    JVM's thread count play no part."""
    tick = bench._TICK
    table = {  # pid: (ppid, comm, own ticks, reaped ticks)
        100: (1, b"python3", 10, 2),
        200: (100, b"java", 50, 7),  # reaped: an exited Python daemon
        300: (100, b"python3", 3, 0),  # another child of the driver
        400: (200, b"python3", 4, 20),  # daemon; reaped: exited workers
        500: (400, b"python3", 30, 0),
        501: (400, b"pyspark worker", 40, 0),
        900: (1, b"java", 1000, 0),  # not below the driver
    }
    got = bench.cpu_by_role(table, 100)
    assert got == pytest.approx({"driver": 15 / tick, "jvm": 50 / tick,
                                 "workers": 101 / tick})
    assert bench.cpu_by_role(table, 999) == dict.fromkeys(bench.CPU_ROLES, 0.0)


def test_headline_with_the_cpu_split_fits_the_driver_tail():
    queries = {name: 1000.0 + len(name) for name in
               ["hillshade", "streaming_hillshade", *bench.HEADLINE_QUERIES]}
    stages = {"task_s": 1234.5, "cpu_s": 123.4, "shuffle_read_mb": 12345.6,
              "shuffle_write_mb": 12345.6, "tree_cpu_s": 1299.9,
              **{f"{r}_cpu_s": 1099.9 for r in bench.CPU_ROLES},
              "wall_core_s": 5678.9}
    hs = {"megapixels": 1296.0, "mpx_per_sec": 30.51, "sec_best": 38.812,
          "warmup_sec": 12.345, "driver_memory": "7g", "stages": stages,
          "peak_jvm_heap_mb": 5432.1, "peak_python_rss_mb": 3210.9,
          "kernel": {"mpx_s": 42.91}}
    line = bench.headline(
        hs, queries, sf=0.1, cpus=4,
        host={"ram_gb": 15.7, "git": "0123456789ab"},
        steal=(0.0123, 0.0456), queries_artifact="BENCH/QUERIES_r06.json")
    assert len(line) <= 1500
    assert json.loads(line)["hillshade_stages"]["workers_cpu_s"] == 1099.9
