"""SparkSession builder tuned for the tiling engine.

Scale posture (SURVEY.md §7.3): AQE on (runtime re-plan + skew-join
splitting), Arrow transfer for pandas UDFs, shuffle partitions sized to
the core count (tiles are coarse units — a few per core is enough), and
generous Arrow batch limits because one assembled tile row is a multi-MB
binary blob.

Local masters (``local``, ``local[N]``) start their Python workers through
``demeton_spark.pyworker``: Spark puts its own pyspark.zip, py4j zip and
spark-core jar on every worker's path, and each task's
``importlib.invalidate_caches()`` then re-reads those archives (0.1-0.26
CPU-s per task).  Local workers inherit this process's environment, where
pyspark is installed and ``demeton_spark`` is importable (every UDF here
needs it).  Cluster masters keep Spark's own daemon: their workers may not
see ``demeton_spark`` until ``--py-files`` are added, after the daemon starts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: Python worker environment: pin BLAS/OMP to one thread per worker and
#: stop glibc from returning every large numpy temporary to the OS
#: (mmap/munmap storms show up as 80%+ sys time with 32 concurrent
#: kernel-heavy workers).
WORKER_ENV = {
    "OMP_NUM_THREADS": "1",
    "OPENBLAS_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
    "MALLOC_ARENA_MAX": "2",
    "MALLOC_MMAP_THRESHOLD_": "536870912",
    "MALLOC_TRIM_THRESHOLD_": "536870912",
}


def host_ram_bytes() -> int:
    """Physical RAM of this host (``MemTotal`` on Linux)."""
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def driver_memory(ram_bytes: int | None = None) -> str:
    """``spark.driver.memory``: ``SPARK_DRIVER_MEMORY`` when set (a
    deployment setting), else half of the host's RAM in whole GiB, at
    least ``1g``."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return os.environ["SPARK_DRIVER_MEMORY"]
    if ram_bytes is None:
        ram_bytes = host_ram_bytes()
    return f"{max(1, ram_bytes // 2 ** 31)}g"


def build_session(
    app_name: str = "demeton-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Python workers inherit this process's env (local mode)
    for k, v in WORKER_ENV.items():
        os.environ.setdefault(k, v)

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    master = master or f"local[{cpus}]"
    # parse local[N] for partition sizing; cluster masters fall back to cpus
    if master.startswith("local[") and master[6:-1].isdigit():
        parallelism = int(master[6:-1])
    else:
        parallelism = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(max(parallelism * 2, 8)))
        .config("spark.default.parallelism", str(parallelism))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        # raster stages are CPU-bound per byte: coalescing shuffle
        # partitions by size would serialize the pandas-UDF stages
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # one assembled tile is a large binary cell; keep Arrow batches small
        # 64 is sized for TILE-granular rows (an assembled 3600² tile is
        # ~26 MB; 64 rows ≈ 1.7 GB ceiling per Arrow batch).  Jobs whose
        # UDF inputs are BLOCK-granular (the fused hillshade path: ~KB
        # rows) should raise this to 512 in extra_conf — measured ~15%
        # end-to-end (batch overhead amortizes; bench.py and
        # jobs/hillshade_job.py do).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.driver.memory", driver_memory())
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
    )
    if master == "local" or master.startswith("local["):
        builder = builder.config("spark.python.daemon.module",
                                 "demeton_spark.pyworker")
    for k, v in WORKER_ENV.items():  # cluster mode: ship to executors too
        builder = builder.config(f"spark.executorEnv.{k}", v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
