"""Similarity-family edge cases pinned by the round-8 review: zero-norm
vectors, non-long id types, empty query sets, centroid refresh on
overwritten state, and one centroid collect per IVF build."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from qualityassurancetool_spark.operators.similarity import (
    blocked_cosine_pairs,
    brute_force_topk,
    exact_rerank,
)

VECS = [
    (0, [0.0, 0.0, 0.0]),          # zero-norm: no defined cosine
    (1, [1.0, 0.0, 0.0]),
    (2, [0.9, 0.1, 0.0]),
    (3, [0.0, 1.0, 0.0]),
]


@pytest.fixture()
def emb(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<double>")


def test_zero_norm_vectors_drop_in_both_strategies(spark, emb):
    """A zero-norm vector has no defined cosine: BOTH strategies drop
    such rows (the fold path used to rank its null cosines into any
    top-k with < k finite candidates, breaking strategy parity)."""
    qs = emb.limit(4)
    outs = {}
    for s in ("fold", "gemm"):
        rows = brute_force_topk(emb, qs, k=10, strategy=s).collect()
        assert all(r["cosine"] is not None for r in rows), s
        # the zero vector can appear as a QUERY (scoring nothing) but
        # never as a ranked neighbor
        assert all(r["neighbor_id"] != 0 for r in rows), s
        outs[s] = {
            (r["query_id"], r["neighbor_id"], round(r["cosine"], 6))
            for r in rows
        }
    assert outs["fold"] == outs["gemm"]


def test_gemm_accepts_string_ids(spark):
    """The GEMM kernels must accept any id type the fold path accepts
    (the mmr_rerank lesson: hardcoded LongType schemas rejected string
    corpora)."""
    df = spark.createDataFrame(
        [(f"doc{i}", v) for i, v in VECS if i != 0],
        "vec_id string, embedding array<double>",
    )
    outs = {}
    for s in ("fold", "gemm"):
        outs[s] = {
            (r["query_id"], r["neighbor_id"], round(r["cosine"], 6))
            for r in brute_force_topk(df, df, k=2, strategy=s).collect()
        }
    assert outs["fold"] == outs["gemm"] and outs["fold"]

    pairs = blocked_cosine_pairs(
        df.withColumn("label", F.lit("all")), threshold=0.5
    ).collect()
    assert {(r["vec_id_a"], r["vec_id_b"]) for r in pairs} == {
        ("doc1", "doc2")
    }


def test_gemm_empty_queries_returns_empty(spark, emb):
    empty_q = emb.where(F.lit(False))
    out = brute_force_topk(emb, empty_q, k=3, strategy="gemm")
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "cosine"]


def test_exact_rerank_drops_zero_norm_candidates(spark, emb):
    cand = spark.createDataFrame(
        [(1, 0), (1, 2), (1, 3)], "query_id long, neighbor_id long"
    )
    out = exact_rerank(
        cand, emb, emb.select(F.col("vec_id").alias("query_id"), "embedding")
        .where("query_id = 1"), k=5,
    ).collect()
    assert {r["neighbor_id"] for r in out} == {2, 3}
    assert all(r["cosine"] is not None for r in out)


def test_centroid_cache_refreshes_on_overwritten_path(spark, tmp_path):
    """An identical read plan over an OVERWRITTEN centroid parquet must
    serve the NEW centroids (a semanticHash-keyed centroid cache once
    served the stale ones for the process lifetime)."""
    from qualityassurancetool_spark.operators.similarity import ivf_assign

    p = str(tmp_path / "cents")
    spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 10.0])],
        "cent_id int, cent_vec array<double>",
    ).write.mode("overwrite").parquet(p)
    vecs = spark.createDataFrame(
        [(7, [9.0, 9.0])], "vec_id long, embedding array<double>"
    )
    first = ivf_assign(vecs, spark.read.parquet(p)).collect()[0]
    assert first["cluster_id"] == 1

    # refit: the centroid near (9,9) is now id 0
    spark.createDataFrame(
        [(0, [9.0, 9.0]), (1, [-10.0, -10.0])],
        "cent_id int, cent_vec array<double>",
    ).write.mode("overwrite").parquet(p)
    second = ivf_assign(vecs, spark.read.parquet(p)).collect()[0]
    assert second["cluster_id"] == 0


def test_ivf_topk_build_runs_one_centroid_collect(spark, sf_dir):
    """Each ivf_topk build runs exactly one Spark job, the centroid
    collect, shared by its corpus and query assignment sites; a second
    build of the same query collects again rather than reusing the
    first build's centroids."""
    import uuid

    from qualityassurancetool_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids = emb.where(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    queries = emb.where(F.col("vec_id") < 5)
    sc = spark.sparkContext
    jobs = []
    for _ in range(2):
        group = f"ivf-build-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "ivf_topk build")
        try:
            ivf_topk(emb, queries, centroids, k=5, nprobe=2)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert jobs == [1, 1]
