"""The query memos are keyed by the data they read: a table rewritten
within one session must not be served from the memo of its old
contents."""

import shutil

import pyarrow.parquet as pq

from demeton_spark import queries as Q

SF = "/root/testdata/sf0.001"
TABLES = ("documents", "events", "embeddings")
MEMOIZED = {
    "doc_dedup_clusters": Q.q_doc_dedup_clusters,
    "geocell_assign": Q.q_geocell_assign,
    "kmeans_centroids": Q.q_kmeans_centroids,
    "emb_dedup_clusters": Q.q_emb_dedup_clusters,
}
MEMOS = (Q._CLUSTER_MEMO, Q._GEOCELL_MEMO, Q._KM_MEMO, Q._EMB_CLUSTER_MEMO)


def _run_all(spark, sf_dir: str) -> dict:
    return {
        name: sorted(map(tuple, q(spark, sf_dir).collect()))
        for name, q in MEMOIZED.items()
    }


def test_memos_rebuild_after_a_table_is_rewritten(spark, tmp_path):
    # the same tables read as a plain path and as a file:// URI
    for local, sf_dir in ((tmp_path / "path", str(tmp_path / "path")),
                          (tmp_path / "uri", (tmp_path / "uri").as_uri())):
        local.mkdir()
        for t in TABLES:
            shutil.copyfile(f"{SF}/{t}.parquet", local / f"{t}.parquet")
        before = _run_all(spark, sf_dir)

        for t in TABLES:
            path = local / f"{t}.parquet"
            table = pq.read_table(path)
            pq.write_table(table.slice(0, table.num_rows // 2), path)
        after = _run_all(spark, sf_dir)

        for memo in MEMOS:
            memo.clear()
        fresh = _run_all(spark, sf_dir)

        for name in MEMOIZED:
            assert after[name] == fresh[name], (sf_dir, name)
            assert after[name] != before[name], (sf_dir, name)
        n_docs = pq.read_metadata(local / "documents.parquet").num_rows
        assert len(after["doc_dedup_clusters"]) == n_docs
        n_events = pq.read_metadata(local / "events.parquet").num_rows
        assert sum(r[2] for r in after["geocell_assign"]) == n_events
