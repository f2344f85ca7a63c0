"""Recall@k of every ANN index family against exact brute-force.

Correctness oracles prove each index returns exactly what its
ALGORITHM specifies; this tool measures what that algorithm is WORTH —
recall@k vs the exact answer — so index/parameter choices are
evidence-based (numbers recorded in docs/SCALE.md).

Usage: python tools/ann_recall.py [n_replicas] [k]  (default 8x → ~40k
vectors at sf0.1, k=10)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from qualityassurancetool_spark.operators.clustering import kmeans_fit
from qualityassurancetool_spark.operators.opq import (
    opq_encode,
    opq_fit,
    opq_topk,
)
from qualityassurancetool_spark.operators.pq import (
    ivfadc_fit,
    ivfadc_index,
    ivfadc_topk,
    pq_encode,
    pq_fit,
    pq_topk,
)
from qualityassurancetool_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_topk,
)
from qualityassurancetool_spark.schema import load_table
from qualityassurancetool_spark.session import get_spark


def neighbor_sets(df, qcol, ncol):
    out: dict = {}
    for r in df.collect():
        out.setdefault(r[qcol], set()).add(r[ncol])
    return out


def recall(truth: dict, got: dict, k: int) -> float:
    num = sum(len(truth[q] & got.get(q, set())) for q in truth)
    return num / (len(truth) * k)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    sf_dir = "/root/testdata/sf0.1"
    spark = get_spark("ann-recall")
    spark.sparkContext.setLogLevel("ERROR")

    emb = load_table(spark, sf_dir, "embeddings")
    reps = spark.range(n).select(F.col("id").alias("_rep"))
    corpus = (
        emb.crossJoin(reps)
        .select(
            (F.col("vec_id") * n + F.col("_rep")).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x: x + (F.col("_rep") % 5).cast("double") * 0.004,
            ).alias("embedding"),
        )
        .persist()
    )
    nv = corpus.count()
    queries = corpus.where(F.col("vec_id") % (nv // 50) == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    nq = queries.count()
    print(f"# corpus: {nv} vectors, {nq} queries, k={k}")

    t0 = time.monotonic()
    truth = neighbor_sets(
        brute_force_topk(
            corpus,
            queries.withColumnRenamed("query_id", "vec_id"),
            k=k,
            strategy="gemm",
        ),
        "query_id",
        "neighbor_id",
    )
    print(f"# brute (truth): {time.monotonic() - t0:.1f}s")

    def report(name, df, ncol="neighbor_id"):
        t0 = time.monotonic()
        got = neighbor_sets(df, "query_id", ncol)
        r = recall(truth, got, k)
        print(f"# {name}: recall@{k}={r:.3f} ({time.monotonic() - t0:.1f}s)")

    def report_ranked(name, df, dist_col, asc=True):
        """For families that do NOT exclude self-matches (pq/opq/
        ivfadc/rerank): callers search at k+1; the self row is dropped
        and the list re-trimmed to k by the family's own ranking —
        otherwise the query's own vector occupies a slot truth never
        contains and recall is understated by ~1/k (found by review)."""
        t0 = time.monotonic()
        per_q: dict = {}
        for r in df.collect():
            if r["neighbor_id"] == r["query_id"]:
                continue
            per_q.setdefault(r["query_id"], []).append(
                (r[dist_col], r["neighbor_id"])
            )
        got = {
            q: {n for _, n in sorted(v, reverse=not asc)[:k]}
            for q, v in per_q.items()
        }
        r = recall(truth, got, k)
        print(f"# {name}: recall@{k}={r:.3f} ({time.monotonic() - t0:.1f}s)")

    # lsh/ivf take corpus-keyed queries (they rename to query_id
    # internally); the code-based families take query_id directly
    qv = queries.withColumnRenamed("query_id", "vec_id")
    dim = corpus.select(F.size("embedding")).limit(1).collect()[0][0]
    report(
        "lsh(8 planes)",
        lsh_topk(corpus, qv, dim=dim, k=k, n_planes=8),
        "neighbor_id",
    )

    # IVF coarse lists
    cents = kmeans_fit(corpus, k=16, max_iter=3)
    cent_df = spark.createDataFrame(
        cents, "cent_id int, cent_vec array<double>"
    )
    for nprobe in (1, 2, 4):
        report(
            f"ivf(16 lists, nprobe={nprobe})",
            ivf_topk(corpus, qv, cent_df, k=k, nprobe=nprobe),
            "neighbor_id",
        )

    # flat PQ ADC
    books = pq_fit(corpus, m=4, k=16, max_iter=3)
    coded = pq_encode(corpus, books, strategy="gemm").persist()
    coded.count()
    report_ranked(
        "pq(m=4,k=16)", pq_topk(coded, queries, books, k=k + 1), "adc_dist"
    )

    # OPQ
    R, obooks = opq_fit(corpus, m=4, k=16, opq_iters=2, lloyd_iters=3)
    ocoded = opq_encode(corpus, R, obooks).persist()
    ocoded.count()
    report_ranked(
        "opq(m=4,k=16,2 iters)",
        opq_topk(ocoded, queries, R, obooks, k=k + 1),
        "adc_dist",
    )

    # IVFADC
    icents, ibooks = ivfadc_fit(corpus, n_lists=16, m=4, k=16, max_iter=3)
    index = ivfadc_index(corpus, icents, ibooks, strategy="gemm").persist()
    index.count()
    for nprobe in (2, 4):
        report_ranked(
            f"ivfadc(16 lists, nprobe={nprobe})",
            ivfadc_topk(
                index, queries, icents, ibooks, k=k + 1, nprobe=nprobe
            ),
            "adc_dist",
        )

    # PQ over a UNIT-NORMALIZED corpus: L2 ordering ≡ cosine ordering,
    # so the ADC families stop paying the metric-mismatch tax
    from qualityassurancetool_spark.operators.similarity import (
        l2_normalize,
    )

    ncorpus = l2_normalize(corpus).persist()
    ncorpus.count()
    nqueries = l2_normalize(queries)
    nbooks = pq_fit(ncorpus, m=4, k=16, max_iter=3)
    ncoded = pq_encode(ncorpus, nbooks, strategy="gemm").persist()
    ncoded.count()
    report_ranked(
        "pq(m=4,k=16, unit-normalized)",
        pq_topk(ncoded, nqueries, nbooks, k=k + 1),
        "adc_dist",
    )

    # IVFADC shortlist + exact rerank (the serving recipe)
    from qualityassurancetool_spark.operators.similarity import exact_rerank

    for rr in (5 * k, 10 * k):
        short = ivfadc_topk(
            index, queries, icents, ibooks, k=rr, nprobe=4
        ).select("query_id", "neighbor_id")
        report_ranked(
            f"ivfadc(nprobe=4) + rerank R={rr}",
            exact_rerank(short, corpus, queries, k=k + 1, metric="cosine"),
            "cosine",
            asc=False,
        )

    spark.stop()


if __name__ == "__main__":
    main()
