"""Local Python workers import pyspark from the driver's install, not from
the archives Spark puts on their path (demeton_spark.pyworker)."""

import os
import sys
import zipfile

import pytest

import py4j
import pyspark
from demeton_spark import pyworker

INSTALL_DIRS = sorted({os.path.dirname(os.path.dirname(m.__file__))
                       for m in (pyspark, py4j)})


@pytest.fixture
def spark_home(tmp_path, monkeypatch):
    """Spark's three worker-path archives under a fake SPARK_HOME, with an
    isolated sys.path and importer cache."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    archives = [str(lib / "pyspark.zip"), str(lib / "py4j-0.10.9.9-src.zip"),
                str(tmp_path / "spark" / "spark-core_2.13-4.1.2.jar")]
    for path in archives:
        with zipfile.ZipFile(path, "w") as z:
            z.writestr("pyspark/__init__.py", "")
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    return archives


def test_drop_keeps_user_zip_and_install(spark_home, tmp_path):
    user_zip = str(tmp_path / "deps.zip")
    with zipfile.ZipFile(user_zip, "w") as z:
        z.writestr("userdep.py", "")
    sys.path[:] = [str(tmp_path), *spark_home, user_zip, *INSTALL_DIRS]

    assert pyworker.drop_spark_archives() == spark_home
    assert sys.path == [str(tmp_path), user_zip, *INSTALL_DIRS]


def test_drop_purges_importer_cache_below_archives(spark_home):
    pyspark_zip, py4j_zip, jar = spark_home
    user_zip = os.path.join(os.path.dirname(pyspark_zip), "pyspark.zip2")
    sys.path[:] = [*spark_home, *INSTALL_DIRS]
    purged = [pyspark_zip, pyspark_zip + "/pyspark", pyspark_zip + "/pyspark/sql",
              py4j_zip + "/py4j", jar, jar + "/org"]
    sys.path_importer_cache.update(dict.fromkeys(purged + [user_zip], None))

    pyworker.drop_spark_archives()

    assert not set(purged) & set(sys.path_importer_cache)
    assert user_zip in sys.path_importer_cache


@pytest.mark.parametrize("found", ["neither", "pyspark only"])
def test_drop_leaves_path_when_pyspark_or_py4j_only_in_archives(
        spark_home, tmp_path, found):
    if found == "pyspark only":
        (tmp_path / "pyspark").mkdir()
        (tmp_path / "pyspark" / "__init__.py").write_text("")
    path = [*spark_home, str(tmp_path)]
    sys.path[:] = path
    sys.path_importer_cache.update(dict.fromkeys(spark_home, None))

    assert pyworker.drop_spark_archives() == []
    assert sys.path == path
    assert set(spark_home) <= set(sys.path_importer_cache)


def test_local_workers_skip_spark_archives(spark):
    def probe(batches):
        import fnmatch
        import os
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        yield pd.DataFrame({
            "zipimporters": [repr([k for k, v in sys.path_importer_cache.items()
                                   if isinstance(v, zipimport.zipimporter)])],
            "archives": [repr([p for p in sys.path if p.endswith(".jar")
                               or os.path.basename(p) == "pyspark.zip"
                               or fnmatch.fnmatch(os.path.basename(p), "py4j-*.zip")])],
            "pyspark": [pyspark.__file__],
        })

    rows = (spark.range(4, numPartitions=2)
            .mapInPandas(probe, "zipimporters string, archives string, pyspark string")
            .collect())
    assert len(rows) == 2
    for r in rows:
        assert r.zipimporters == "[]"
        assert r.archives == "[]"
        assert r.pyspark == pyspark.__file__
