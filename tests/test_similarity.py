"""Similarity/ANN operators: the kmeans-refined IVF wiring (recall
A/B against naive seeding) and SemDeDup's invariants and oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ftw_crawler_spark.operators import similarity as simi

SF001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF001}/embeddings.parquet").cache()


def _recall(ann, truth):
    hit = {(r["query_id"], r["neighbor_id"]) for r in ann.collect()}
    return len(hit & truth) / len(truth)


def test_ivf_refined_centroids_improve_recall(spark, emb):
    """kmeans_centroids → ivf_ann (the production wiring) must not
    lose recall vs the naive first-n seeding at equal n_probe, and on
    the synth corpus it strictly gains (better-balanced inverted
    lists). Ground truth = exact brute-force top-k."""
    queries = emb.filter(F.col("vec_id") < 10)
    truth = {(r["query_id"], r["neighbor_id"])
             for r in simi.cosine_topk(emb, queries, k=5).collect()}
    naive = simi.ivf_ann(emb, query_ids=range(10), k=5,
                         n_centroids=8, n_probe=2)
    cents = simi.kmeans_centroids(emb, n_centroids=8, n_iter=2)
    refined = simi.ivf_ann(emb, query_ids=range(10), k=5,
                           n_probe=2, centroids=cents)
    r_naive, r_refined = _recall(naive, truth), _recall(refined, truth)
    assert r_refined >= r_naive
    assert r_refined > 0.5


def test_semdedup_invariants(spark, emb):
    """SemDeDup (Abbas et al. 2023) semantics: one row per vector,
    groups labelled by their min member id, exactly one keep per
    group, and the keep is the member furthest from its centroid."""
    out = simi.semdedup(emb, tau=0.3, n_centroids=4, n_iter=2)
    rows = out.collect()
    assert len(rows) == emb.count()
    by_grp = {}
    for r in rows:
        by_grp.setdefault(r["grp"], []).append(r)
    multi = 0
    for g, mem in by_grp.items():
        assert min(m["vec_id"] for m in mem) == g
        keeps = [m for m in mem if m["keep"] == 1]
        assert len(keeps) == 1
        # furthest-from-centroid keep policy (rank runs on the raw d2;
        # dist_r6 is its 6-dp view, so allow the rounding quantum)
        assert keeps[0]["dist_r6"] >= \
            max(m["dist_r6"] for m in mem) - 1e-6
        multi += len(mem) > 1
    # the synth corpus at tau=0.3 must actually exercise grouping
    assert multi > 0


def test_semdedup_assignment_is_kmeans_refine(spark, emb):
    """The (vec_id, cid, dist_r6) columns are the kmeans_refine
    relation verbatim — SemDeDup composes on top, it does not
    re-derive a different clustering."""
    sd = simi.semdedup(emb, tau=0.3, n_centroids=4, n_iter=2) \
        .select("vec_id", "cid", "dist_r6")
    km = simi.kmeans_refine(emb, n_centroids=4, n_iter=2)
    assert {tuple(r) for r in sd.collect()} == \
        {tuple(r) for r in km.collect()}


def test_semdedup_partition_invariant_and_tau_monotone(spark, emb):
    """Same rows under any input partitioning; raising tau can only
    shrink groups (fewer duplicates found → more keeps)."""
    a = sorted(map(tuple, simi.semdedup(
        emb, tau=0.3, n_centroids=4, n_iter=2).collect()))
    b = sorted(map(tuple, simi.semdedup(
        emb.repartition(13), tau=0.3, n_centroids=4,
        n_iter=2).collect()))
    assert a == b
    keeps_03 = sum(r[4] for r in a)
    strict = simi.semdedup(emb, tau=0.45, n_centroids=4, n_iter=2)
    keeps_045 = strict.agg(F.sum("keep")).first()[0]
    assert keeps_045 >= keeps_03


def test_semdedup_matches_sql_oracle(spark, emb):
    """Full-relation equality against the recursive-CTE DuckDB
    restatement (the same SQL the driver row certifies at sf0.01),
    here at sf0.001."""
    import duckdb

    from __spark_entry__ import _semdedup_sql
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"'{SF001}/embeddings.parquet'")
    exp = {tuple(r) for r in con.execute(_semdedup_sql()).fetchall()}
    got = {tuple(r) for r in simi.semdedup(
        emb, tau=0.3, n_centroids=4, n_iter=2).collect()}
    assert got == exp and len(got) > 0
