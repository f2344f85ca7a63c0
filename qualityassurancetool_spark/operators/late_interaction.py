"""Late-interaction (MaxSim) reranking — ColBERT-style scoring.

Khattab & Zaharia 2020 ("ColBERT: Efficient and Effective Passage
Search via Contextualized Late Interaction over BERT"): instead of
one vector per document, keep a small MATRIX of token vectors and
score ``MaxSim(q, d) = Σ_i max_j  q_i · d_j`` — each query token
picks its best-matching document token.  This is the standard
precision stage BETWEEN first-stage retrieval (``operators/bm25``,
``operators/similarity`` ANN) and fusion (``operators/fusion`` RRF):
candidate generation is corpus-scale, MaxSim runs only on the
shortlist.

Spark shape: everything is SHORTLIST-scale — the corpus token-vector
table is joined once on the shortlist's doc ids (the only
corpus-touching step, an equi-join on the id), queries + shortlist
broadcast, and the score itself is a pure nested higher-order-function
Column (``aggregate`` over query tokens of ``array_max`` over
``transform`` of document tokens) — no UDF, whole-stage codegen
throughout.  Products are widened to double BEFORE multiplying so the
arithmetic is engine-portable (see the ``maxsim`` query).

``split_tokens`` adapts single-vector corpora (our ``embeddings``
table) into fixed-count token matrices by slicing — the real use
feeds per-token encoder outputs through the same schema
(``array<array<float>>``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def split_tokens(vec: Column, n_tokens: int, dim: int) -> Column:
    """Slice a flat ``dim``-length vector into ``n_tokens`` equal
    sub-vectors (``dim`` must be ``n_tokens`` × slice width) —
    deterministic token matrices for single-vector corpora."""
    if n_tokens < 1 or dim % n_tokens:
        raise ValueError(
            f"dim {dim} not divisible into {n_tokens} token slices"
        )
    w = dim // n_tokens
    return F.array(
        *[F.slice(vec, i * w + 1, w) for i in range(n_tokens)]
    )


def _dot(a: Column, b: Column) -> Column:
    """Double-widened sequential-fold dot product (engine-portable)."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def maxsim_score(q_tokens: Column, d_tokens: Column) -> Column:
    """``Σ over query tokens of max over doc tokens of dot`` — the
    MaxSim late-interaction score as one declarative Column."""
    return F.aggregate(
        q_tokens,
        F.lit(0.0),
        lambda acc, qv: acc
        + F.array_max(F.transform(d_tokens, lambda dv: _dot(qv, dv))),
    )


# Round-11 measured NEGATIVE result, recorded so it is not retried: an
# "unrolled" score (element_at/greatest expression tree instead of the
# HOF fold) is 3-4x SLOWER at sf1, whether naive (duplicated nested
# element_at subtrees re-extract the token arrays per term — Catalyst
# does no CSE across them), staged through a Project (CollapseProject
# inlines the staging right back), or staged behind a Generate barrier
# (the 128-column struct explode costs more than it saves).  The
# sequential HOF fold is the fastest exact-order formulation measured
# (see OPTIMIZATION_r11.md, maxsim section).


def maxsim_rerank(
    shortlist: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    doc_id: str = "doc_id",
    tokens_col: str = "token_vecs",
) -> DataFrame:
    """Rerank a (query_id, doc_id) shortlist by MaxSim.

    ``queries``/``corpus`` carry ``tokens_col: array<array<float>>``.
    The (query_id, doc_id) shortlist and the query matrices broadcast
    as two SEPARATE slim relations (shortlists are k·queries rows by
    construction); the corpus is touched once via an equi-join on the
    shortlisted doc ids, so corpus token matrices never shuffle beyond
    the matched rows.  (Round-11: previously the broadcast was the
    shortlist JOINED with the query matrices — every pair row carried
    a full duplicated token matrix, inflating the broadcast ~20x at
    sf1; now the pair relation is two ids per row and each surviving
    corpus row picks up its query matrix from the second, query-sized
    broadcast — full query warm medians 4.07 -> 3.32 s at sf1.)

    Output: query_id, doc_id, ``maxsim`` (double), ``rank`` (1-based,
    score desc / doc id asc tie-break), top ``k`` per query."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q = queries.select(
        F.col(query_id).alias("_qid"),
        F.col(tokens_col).alias("_qtok"),
    )
    pairs = shortlist.select(
        F.col(query_id).alias("_qid"), F.col(doc_id).alias("_did")
    ).distinct()
    d = corpus.select(
        F.col(doc_id).alias("_did"), F.col(tokens_col).alias("_dtok")
    )
    score = maxsim_score(F.col("_qtok"), F.col("_dtok"))
    scored = (
        d.join(F.broadcast(pairs), "_did")
        .join(F.broadcast(q), "_qid")
        .select(
            F.col("_qid").alias(query_id),
            F.col("_did").alias(doc_id),
            score.alias("maxsim"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("maxsim").desc(), F.col(doc_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
