"""Deterministic stratified sampling."""

import hashlib

import duckdb

from demeton_spark.queries import q_doc_stratified_sample

SF_DIR = "/root/testdata/sf0.001"


def _gate(doc_id: int) -> int:
    return int(hashlib.md5(f"{doc_id}#7".encode()).hexdigest()[:8], 16) % 100


def _rate(source: str) -> int:
    num = int("".join(ch for ch in source if ch.isdigit()))
    return 10 + (num * 7) % 80


def test_sample_is_deterministic_hash_gate(spark):
    docs = duckdb.sql(
        f"select doc_id, source from read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()
    want = {d for d, s in docs if _gate(d) < _rate(s)}
    got1 = {r["doc_id"] for r in q_doc_stratified_sample(spark, SF_DIR).collect()}
    got2 = {r["doc_id"] for r in q_doc_stratified_sample(spark, SF_DIR).collect()}
    assert got1 == got2 == want
    assert 0 < len(want) < len(docs)


def test_emb_dedup_clusters_mass_and_transitivity(spark):
    from demeton_spark.queries import q_emb_dedup_clusters, q_emb_near_dup_pairs

    sf_dir = "/root/testdata/sf0.001"
    clusters = {
        r["vec_id"]: r["cluster_id"]
        for r in q_emb_dedup_clusters(spark, sf_dir).collect()
    }
    n = duckdb.sql(
        f"select count(*) from read_parquet('{sf_dir}/embeddings.parquet')"
    ).fetchone()[0]
    assert len(clusters) == n  # every vector labeled, singletons included
    # every verified near-dup pair lands in one cluster, and the label
    # is the component minimum
    pairs = q_emb_near_dup_pairs(spark, sf_dir).collect()
    for p in pairs:
        assert clusters[p["vec_a"]] == clusters[p["vec_b"]]
        assert clusters[p["vec_a"]] <= min(p["vec_a"], p["vec_b"])
