"""Python worker daemon for local Spark masters (``spark.python.daemon.module``).

Spark's JVM puts ``$SPARK_HOME/python/lib/pyspark.zip``, ``py4j-*-src.zip``
and the spark-core jar on the worker's ``PYTHONPATH``, and the worker calls
``importlib.invalidate_caches()`` once per task.  On Python 3.11 every cached
``zipimporter`` re-reads its whole archive directory on that call: 95-260 ms
of CPU per task on a 4-vCPU host.  When the same ``pyspark`` and ``py4j`` can
be imported without those archives (the driver's site-packages), this module
drops them and their cached importers, then runs Spark's own daemon.
"""

from __future__ import annotations

import os
import sys
from importlib.machinery import PathFinder


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return (name == "pyspark.zip" or name.endswith(".jar")
            or (name.startswith("py4j-") and name.endswith(".zip")))


def drop_spark_archives() -> list[str]:
    """Remove Spark's archives from ``sys.path`` and their importers from
    ``sys.path_importer_cache``; return the removed entries.

    Leaves both untouched, and returns ``[]``, unless ``pyspark`` and ``py4j``
    are still found on the remaining path.  Other ``.zip`` entries (py-files)
    are kept.
    """
    dropped = [p for p in sys.path if _is_spark_archive(p)]
    kept = [p for p in sys.path if p not in dropped]
    if not dropped or any(PathFinder.find_spec(m, kept) is None
                          for m in ("pyspark", "py4j")):
        return []
    sys.path[:] = kept
    # python -m created zipimporters for the archives (and for packages
    # inside them) while it searched for this module
    for key in list(sys.path_importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del sys.path_importer_cache[key]
    return dropped


if __name__ == "__main__":
    drop_spark_archives()
    from pyspark.daemon import manager

    manager()
