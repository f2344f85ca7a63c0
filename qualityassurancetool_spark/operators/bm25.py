"""BM25 ranked retrieval over the documents table.

Okapi BM25 (Robertson & Walker 1994; the formulation in Robertson &
Zaragoza 2009, "The Probabilistic Relevance Framework") — the lexical
retrieval primitive a curation stack needs next to embedding ANN:
nearest-prose lookup for decontamination audits, seed-document
expansion for DSIR-style targeting, and hard-negative mining for
training retrieval models.  ``operators/tfidf`` weights terms per doc;
this scores DOC×QUERY relevance and returns top-k per query:

    score(q, d) = Σ_{t ∈ q∩d} idf(t) · tf · (k1+1) /
                              (tf + k1 · (1 − b + b·dl/avgdl))
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))

Scale shape (the part that matters at 100 TB):

- **Queries are small by contract** (the ANN-family invariant): their
  distinct terms broadcast and hash-SEMI-join the exploded corpus
  tokens (O(1) per token — a query-vocab literal filter was measured
  ~40 % slower at ~1k terms because giant literals poison plan
  compile).  The tf aggregate and the document-frequency aggregate
  reference one canonically-equal subtree, so AQE's stage cache runs
  the corpus explode + vocab semi-join + (doc, term) shuffle ONCE per
  call — but only over PLAIN scans: a persisted token frame wraps
  each reference in its own ``TableCacheQueryStage`` and the stage
  cache stops unifying them (round-12 executed-plan finding), making
  ``persist=True`` pay that subtree twice per call.  ``persist``
  therefore trades one extra text scan for the stats agg
  (``persist=False``, the one-shot/scale default — pass ``stats`` to
  drop even that) against a session-lifetime token cache that only
  wins when MANY query batches hit the same moderate corpus.
- Corpus statistics (N, avgdl) are one partial agg → two driver
  scalars; per-term document frequencies are computed only for query
  terms (a ``|Q|``-row broadcast dimension).
- The final ranking is ``row_number`` over (query, score desc, doc
  asc) on the scored pairs — at most ``|matched docs| × |queries|``
  rows ever shuffle, text never does.

Cross-engine: ``__spark_entry__.py`` query ``bm25`` replicates tokenize,
df, idf and the saturation formula in DuckDB and must match to 6 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from qualityassurancetool_spark.functions.hashing import tokens


def _doc_toks(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, _toks) tokenized once; explode happens downstream."""
    return df.select(
        F.col(id_col),
        F.filter(tokens(F.col(text_col)), lambda t: F.length(t) > 0).alias(
            "_toks"
        ),
    )


def _doc_terms(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, dl, term) exploded token stream with per-doc length."""
    return _doc_toks(df, text_col, id_col).select(
        id_col,
        F.size("_toks").alias("dl"),
        F.explode("_toks").alias("term"),
    )


def corpus_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[int, float]:
    """(n_docs, avgdl) over docs with ≥ 1 token — one agg over the
    UN-exploded token arrays (no explode, no per-term work).  Compute
    once and pass to :func:`bm25_topk` when issuing many query batches
    against the same corpus."""
    row = (
        _doc_toks(docs, text_col, id_col)
        .select(F.size("_toks").alias("dl"))
        .where(F.col("dl") > 0)
        .agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
        .collect()[0]
    )
    return int(row["n"]), float(row["avgdl"] or 0.0)


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k1: float = 1.2,
    b: float = 0.75,
    stats: tuple[int, float] | None = None,
    persist: bool = True,
) -> DataFrame:
    """Top-``k`` documents per query by BM25:
    ``(query_id, doc_id, score, n_terms_matched)``, ranked score desc
    with doc-id tie-break (total deterministic order).  Documents
    sharing no term with a query are not returned (BM25 score would be
    0).  ``queries`` is small by contract — see module docstring.

    **Unique-doc-id contract** (like the small-queries invariant):
    ``id_col`` must identify exactly one document.  The tf pass groups
    by ``(id, term, dl)`` on the premise that ``dl`` is functionally
    dependent on the id; duplicate ids with different texts would
    split a ``(id, term)`` group by ``dl`` and inflate ``df`` (each
    split counts once toward document frequency), silently shifting
    idf and scores relative to a deduplicated corpus.

    ``stats``: precomputed :func:`corpus_stats` — pass it when running
    many query batches to skip the per-call stats agg entirely.  With
    ``persist=False`` AND ``stats=None`` the stats agg tokenizes the
    corpus a second time (the scoring side's tf/df work shares ONE
    subtree via AQE exchange reuse — see the module docstring).

    ``persist`` (default True) caches the query-independent token frame
    at MEMORY_AND_DISK for the session — right for repeated batches over
    the SAME moderate corpus, but it BLOCKS the tf-exchange reuse (each
    cache reference becomes its own TableCacheQueryStage), so the
    explode + semi-join + shuffle runs twice per call.  One-shot
    callers and 100 TB corpora (where the cache cannot be resident
    anyway) should pass ``persist=False``; callers sweeping many
    *different* corpora too (cache entries are keyed by plan and
    otherwise accumulate for the session lifetime)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    qterms = _doc_terms(
        queries, query_text_col, query_id_col
    ).select(query_id_col, "term").distinct()

    # ONE corpus text scan: tokenize into a QUERY-INDEPENDENT slim
    # (id, token-array) frame and persist it — the stats agg, the
    # scoring explode, and any later query batch against the same
    # corpus all read this cache, never the text again.  The vocab
    # match stays a broadcast hash SEMI-JOIN after the explode (a
    # driver-literal array_contains filter was measured ~40% slower
    # at 1.2k query terms — giant literals poison plan compile and
    # the per-token scan is linear in |vocab|).
    slim = _doc_toks(docs, text_col, id_col)
    if persist:
        slim = slim.persist()
    # corpus stats: when not supplied, they ride the SAME job as the
    # scoring plan — a one-row aggregate over the persisted slim frame,
    # broadcast-cross-joined into the per-(doc, term) projection.  The
    # previous eager `.collect()` cost one extra driver round trip +
    # job per call (guide §5: the driver does no data work; the stats
    # are literals either way by the time the score arithmetic runs).
    stats_df = None
    if stats is None:
        stats_df = (
            slim.select(F.size("_toks").alias("dl"))
            .where(F.col("dl") > 0)
            .agg(
                F.count(F.lit(1)).cast("double").alias("_ndocs"),
                F.avg("dl").alias("_avgdl"),
            )
        )
        ndocs_col = F.col("_ndocs")
        # same fallback as the literal path: empty/absent avgdl -> 1.0
        avgdl_col = F.when(
            F.col("_avgdl").isNotNull() & (F.col("_avgdl") != 0.0),
            F.col("_avgdl"),
        ).otherwise(F.lit(1.0))
    else:
        n_docs, avgdl = stats
        ndocs_col = F.lit(float(n_docs))
        avgdl_col = F.lit(avgdl or 1.0)

    dterms = slim.select(
        id_col,
        F.size("_toks").alias("dl"),
        F.explode("_toks").alias("term"),
    )
    # tf for query terms only: the broadcast semi-join BEFORE the agg
    # is what keeps per-doc agg work O(matched terms)
    qvocab = qterms.select("term").distinct()
    matched = dterms.join(F.broadcast(qvocab), "term", "left_semi")
    # dl rides as a GROUPING key (it is functionally dependent on the
    # doc id) instead of a first(dl) aggregate: with identical grouping
    # keys and aggregate buffers on both references, the probe-side tf
    # and the df aggregate below canonicalize to the SAME exchange and
    # the physical planner emits a ReusedExchange — the corpus cache
    # read + explode + vocab semi-join + (doc, term) shuffle runs ONCE
    # per call instead of twice (guide §2.4).
    tf = matched.groupBy(id_col, "term", "dl").agg(
        F.count(F.lit(1)).alias("tf")
    )
    # df per query term (|Q|-row dimension), then idf as a Column.
    # sum(least(tf, 1)) ≡ count(1) per term (tf ≥ 1 by construction)
    # but keeps the tf VALUE referenced in a form Catalyst cannot fold
    # away: the round-11 count("tf") variant was rewritten to count(1)
    # (tf is a non-nullable count) and the partial aggregate's count
    # buffer pruned off the df side — the two (doc, term, dl) subtrees
    # then stopped canonicalizing equal and the corpus explode +
    # semi-join + shuffle ran TWICE per call (found in the round-12
    # sf1 executed plan: the only ReusedExchange was the vocab
    # broadcast).  With the buffer kept, both references share one
    # exchange; asserted on doc/term keys by test_bm25.py.
    dfreq = tf.groupBy("term").agg(
        F.sum(F.least(F.col("tf"), F.lit(1))).alias("df")
    )
    idf = F.log(
        F.lit(1.0)
        + (ndocs_col - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    # the per-(doc, term) contribution idf·saturation is
    # QUERY-INDEPENDENT (query terms are distinct) — compute it once
    # here, BEFORE the qterms join fans each doc-term row out to every
    # query containing the term; the fanned-out rows then carry one
    # precomputed double into the (query, doc) sum instead of
    # re-evaluating the saturation arithmetic per (query, doc, term)
    scored_base = tf.join(F.broadcast(dfreq), "term")
    if stats_df is not None:
        scored_base = scored_base.crossJoin(F.broadcast(stats_df))
    term_score = scored_base.select(
        "term",
        F.col(id_col),
        (
            idf
            * (F.col("tf") * (k1 + 1.0))
            / (
                F.col("tf")
                + k1
                * (1.0 - b + b * F.col("dl") / avgdl_col)
            )
        ).alias("_term_score"),
    )
    scored = (
        term_score.join(F.broadcast(qterms), "term")
        .groupBy(query_id_col, id_col)
        .agg(
            F.sum("_term_score").alias("score"),
            F.count(F.lit(1)).alias("n_terms_matched"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )
