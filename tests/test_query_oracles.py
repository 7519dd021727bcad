"""The similarity-search, embedding-dedup, SimHash and geo-containment
queries against their DuckDB twins at sf0.001, through
``tools.oracle_check.compare`` — the row-count, column and value check
of the full oracle run, on the queries that share the vector table, the
cosine, the top-k window, the SimHash vote and the crossing-parity
join."""

import duckdb
import pytest
from test_point_elevation import SF_DIR  # the sf0.001 tables

from demeton_spark.queries import ORACLES, QUERIES
from tools.oracle_check import TABLES, compare

NAMES = [
    "knn_bruteforce", "knn_ivf_bucketed", "knn_ivf_recall",
    "kmeans_centroids", "knn_ivf_kmeans", "knn_ivf_kmeans_recall",
    "emb_near_dup_pairs", "emb_near_dup_recall", "emb_dedup_clusters",
    "doc_simhash", "doc_simhash_near_dup", "doc_simhash_recall",
    "geo_knn_cells", "geo_knn_recall", "geo_points_in_polygons",
    "geo_polygon_overlaps",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"create view {t} as "
            f"select * from read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, duck, name):
    got = QUERIES[name](spark, SF_DIR).toPandas()
    want = duck.sql(ORACLES[name]).df()
    assert len(got) > 0
    assert compare(name, got, want) == []
