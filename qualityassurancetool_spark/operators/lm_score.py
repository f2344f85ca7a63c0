"""Character n-gram language-model scoring (CCNet-style quality proxy).

The perplexity filter of pretraining pipelines (CCNet; Wenzek et al.
2020 use a KenLM 5-gram): score each document by its mean log-probability
under a small LM trained on trusted in-language text, drop the worst
tail.  A full KenLM is a binary dependency; this is the dependency-free
equivalent — an add-k smoothed **character trigram** model — that keeps
the two properties the filter actually relies on: (1) fluent in-language
text scores high, (2) gibberish / wrong-language / boilerplate scores
low.

Everything is DataFrame-native, no Python kernels:

- **train** = one explode + one groupBy over the reference slice;
  the model is top-M trigrams + their bigram-context totals — bounded,
  broadcastable;
- **score** = explode docs into trigrams (row-local ``sequence`` +
  ``substring``), broadcast-join the model, mean log-prob per doc.
  Rows of one doc stay in their partition, so the per-doc mean
  collapses map-side before the one shuffle on doc id.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qualityassurancetool_spark.functions.hashing import normalize_text


def _explode_trigrams(df: DataFrame, text_col: str, keep: list[str]):
    """``keep`` columns + one exploded ``gram`` row per character trigram
    of the normalized text (docs shorter than 3 chars yield no rows).

    Two traps avoided here, both measured:

    - the normalized text is materialized behind a Generate barrier
      BEFORE any per-trigram lambda touches it (no common-subexpression
      elimination inside higher-order functions — an inlined
      ``normalize_text`` tree would re-run its regexp per trigram);
    - trigrams index a pre-split CHAR ARRAY, not the string:
      ``substr(i, 3)`` on UTF-8 scans from the string start to find
      char ``i`` (variable-width encoding), making per-trigram substr
      O(doc_len²) per document — the char-array form is O(doc_len)
      (measured 37.9 s → seconds for 100k docs, docs/SCALE.md,
      "Measured round-3 baseline")."""
    from qualityassurancetool_spark.functions.partitioning import (
        compute_behind_barrier,
    )

    normed = compute_behind_barrier(
        df.select(*keep, text_col)
        if text_col not in keep
        else df.select(*keep),
        {"_lmchars": F.split(normalize_text(F.col(text_col)), "")},
    )
    # split("", "") yields [""] — its size-1 array still fails the >= 3
    # gate, so empty docs yield no trigram rows either way
    c = F.col("_lmchars")
    n_ch = F.size(c)
    # explode POSITIONS (an int sequence), then assemble each trigram
    # per exploded row: building the whole trigram string-array per row
    # and exploding that measured 8x slower (30M per-row string-array
    # allocations materialized through the Generate).  Short docs emit
    # ONE sentinel position ("" gram — never a real trigram) instead of
    # zero rows, so scoring needs no separate re-attach-the-shorts pass
    # (which would re-execute this pipeline as an anti-join side).
    poss = F.when(n_ch < 3, F.array(F.lit(0))).otherwise(
        F.sequence(F.lit(1), n_ch - 2)
    )
    i = F.col("_i")
    gram = F.when(i == 0, F.lit("")).otherwise(
        F.concat(
            F.element_at(c, i),
            F.element_at(c, i + 1),
            F.element_at(c, i + 2),
        )
    )
    return normed.select(
        *keep, "_lmchars", F.explode(poss).alias("_i")
    ).select(*keep, gram.alias("gram"))


@dataclass
class CharLM:
    """Broadcastable char-trigram model: ``grams`` = (gram, n_gram,
    n_context) rows, ``alphabet`` = distinct-char count (the add-k
    denominator), ``k`` = smoothing mass."""

    grams: DataFrame
    alphabet: int
    k: float = 1.0

    def floor_logp(self) -> float:
        """Log-prob assigned to an unseen trigram in an unseen context:
        log(k / (k * alphabet)) — the smoothing floor."""
        return math.log(1.0 / self.alphabet)


def train_char_lm(
    df: DataFrame,
    text_col: str = "text",
    max_grams: int = 100_000,
    k: float = 1.0,
) -> CharLM:
    """One aggregation pass over the reference corpus → bounded model.

    ``n_context`` is the total count of the trigram's 2-char prefix
    (aggregated BEFORE the top-M cut, so probabilities stay properly
    normalized even for truncated tails)."""
    # drop the short-doc sentinel rows: "" must stay out of the model so
    # it remains unseen-by-construction at scoring time
    tri = _explode_trigrams(df, text_col, keep=[]).where(F.col("gram") != "")
    gcounts = tri.groupBy("gram").agg(F.count(F.lit(1)).alias("n_gram"))
    ctx = (
        gcounts.groupBy(F.substring("gram", 1, 2).alias("_ctx"))
        .agg(F.sum("n_gram").alias("n_context"))
    )
    top = (
        gcounts.orderBy(F.desc("n_gram"), "gram")
        .limit(max_grams)
        .withColumn("_ctx", F.substring("gram", 1, 2))
        .join(ctx, "_ctx")
        .select("gram", "n_gram", "n_context")
    )
    alphabet = (
        df.select(
            F.explode(F.split(normalize_text(F.col(text_col)), "")).alias(
                "ch"
            )
        )
        .where(F.length("ch") > 0)
        .agg(F.countDistinct("ch"))
        .head()[0]
        or 1
    )
    return CharLM(grams=top, alphabet=int(alphabet), k=float(k))


def score_documents(
    df: DataFrame,
    lm: CharLM,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "lm_logp",
) -> DataFrame:
    """Per-doc mean trigram log-prob: ``(id, n_grams, lm_logp)``.

    Unseen trigrams fall back to the add-k floor; documents with no
    trigrams (< 3 chars) score the floor exactly — rankable, never
    null.  The model join is an explicit broadcast.

    Single-pass: short docs ride the same explode as a sentinel row
    (which, being unseen by construction, scores the floor through the
    same smoothing formula — no special case), so the pipeline executes
    once instead of re-running as an anti-join side to find the
    shorts."""
    a, k = float(lm.alphabet), lm.k
    exploded = _explode_trigrams(df, text_col, keep=[id_col])
    joined = exploded.join(F.broadcast(lm.grams), "gram", "left")
    logp = F.log(
        (F.coalesce(F.col("n_gram"), F.lit(0)) + F.lit(k))
        / (F.coalesce(F.col("n_context"), F.lit(0)) + F.lit(k * a))
    )
    is_real = F.col("gram") != ""
    return joined.groupBy(id_col).agg(
        F.sum(is_real.cast("long")).alias("n_grams"),
        F.avg(logp).alias(out_col),
    )


def lm_threshold_for_quantile(
    scores: DataFrame, keep_fraction: float, score_col: str = "lm_logp"
) -> float:
    """The CCNet-style cut: the threshold that keeps the best
    ``keep_fraction`` of documents by LM score (CCNet keeps the
    "head"+"middle" perplexity tertiles).  Exact interpolated percentile
    over the (small) score column — one aggregation, a single scalar to
    the driver."""
    if not 0.0 < keep_fraction <= 1.0:
        raise ValueError(f"keep_fraction must be in (0, 1], got {keep_fraction}")
    q = 1.0 - keep_fraction
    return float(
        scores.agg(
            F.percentile(F.col(score_col), F.lit(q)).alias("t")
        ).head()["t"]
    )


def lm_filter(
    df: DataFrame,
    lm: CharLM,
    min_logp: float,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep documents scoring above the log-prob threshold (the CCNet
    "head+middle" cut is a per-corpus quantile of this score)."""
    scores = score_documents(df, lm, text_col=text_col, id_col=id_col)
    return df.join(
        scores.where(F.col("lm_logp") >= min_logp).select(id_col),
        id_col,
        "left_semi",
    )


def lm_perplexity_buckets(
    scores: DataFrame,
    group_col: str | None = "lang",
    cuts: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
    score_col: str = "lm_logp",
) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020): bucket
    documents by LM score quantiles, per group (language) so every
    language keeps its own head — a global cut would label whole
    low-resource languages "tail".

    ``cuts`` are cumulative fractions from the BEST-scoring side (head
    = top third by default; higher mean log-prob = lower perplexity =
    head).  Implementation: exact interpolated per-group percentiles in
    ONE aggregation (two scalars per group — k rows to the join, not a
    window sort over the corpus), then a broadcast join + CASE.  Adding
    the bucket label is therefore shuffle-free on the scores side.

    Output: scores + ``lm_bucket`` in {'head', 'middle', 'tail'}.
    """
    lo, hi = cuts
    if not 0.0 < lo < hi < 1.0:
        raise ValueError(f"cuts must satisfy 0 < lo < hi < 1, got {cuts}")
    g = [group_col] if group_col else []
    # head = scores ABOVE the (1-lo) percentile; tail = below (1-hi)
    q_head = F.percentile(F.col(score_col), F.lit(1.0 - lo)).alias("_q_head")
    q_tail = F.percentile(F.col(score_col), F.lit(1.0 - hi)).alias("_q_tail")
    qs = scores.groupBy(*g).agg(q_head, q_tail) if g else scores.agg(
        q_head, q_tail
    )
    joined = (
        scores.join(F.broadcast(qs), g) if g else scores.crossJoin(
            F.broadcast(qs)
        )
    )
    bucket = (
        F.when(F.col(score_col) >= F.col("_q_head"), F.lit("head"))
        .when(F.col(score_col) < F.col("_q_tail"), F.lit("tail"))
        .otherwise(F.lit("middle"))
    )
    return joined.withColumn("lm_bucket", bucket).drop("_q_head", "_q_tail")
