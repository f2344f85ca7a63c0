"""Binary-classifier evaluation — tie-corrected ROC-AUC, log-loss,
Brier score, threshold metrics, and PR curves as pure aggregation.

Closes the loop opened by ``operators/logreg`` (trainer),
``operators/classifier`` (NB scorer) and ``operators/calibration``
(isotonic): a curation gate trained in-engine needs its AUC /
log-loss / operating point measured in-engine, over the full corpus,
not a driver-side sample.

Spark shape — everything derives from ONE data shuffle:

* The scored rows are aggregated to ``(group, score) -> (pos, neg)``
  — a map-side-combined groupBy whose output is DISTINCT-SCORE
  granularity, the minimum state any exact rank-based AUC needs.
* AUC is the Mann–Whitney U statistic read off that frame with a
  single ordered window: for each distinct score, the negatives
  strictly below it plus HALF the ties at it (the standard average-
  rank tie correction), weighted by its positives.
* log-loss and Brier fold into the SAME frame (a score's rows all
  share one ``p``, so its loss mass is ``pos·f(p) + neg·f(1-p)``).
* PR curves are a descending cumulative sum over the same frame.
* Fixed-threshold confusion metrics skip the window entirely: the
  thresholds are driver literals, so one conditional-sum aggregate
  emits the whole table.

At 100 TB an exact AUC over continuous scores still shuffles ~one
row per distinct score; ``score_bins`` quantizes scores first (floor
to a fixed grid), bounding the shuffled state at ``bins`` rows per
group for a ≤ 1/bins rank perturbation — the DDSketch trade, made
explicit.

Cross-engine: ``__spark_entry__.py`` query ``ml_eval`` replays the
distinct-score cumulative construction in DuckDB SQL (heavy-tie
scores) and matches AUC/log-loss/Brier to 6 dp plus the full
threshold table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

EPS = 1e-15


def _clip(p: Column) -> Column:
    return F.least(F.greatest(p, F.lit(EPS)), F.lit(1.0 - EPS))


def _score_counts(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_cols: list[str],
    score_bins: int | None,
) -> DataFrame:
    """(group..., _s, _pos, _neg) at distinct-score granularity;
    NULL score/label rows are dropped (no rank without a score)."""
    s = F.col(score_col).cast("double")
    if score_bins is not None:
        if score_bins < 2:
            raise ValueError(
                f"score_bins must be >= 2, got {score_bins}"
            )
        # floor onto a fixed grid: state bounded at bins+1 cells
        s = F.floor(s * score_bins) / score_bins
    y = F.col(label_col).cast("double")
    return (
        df.where(
            F.col(score_col).isNotNull()
            & F.col(label_col).isNotNull()
        )
        .groupBy(*group_cols, s.alias("_s"))
        .agg(
            F.sum(y).alias("_pos"),
            F.sum(F.lit(1.0) - y).alias("_neg"),
        )
    )


def score_counts(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    group_cols: list[str] | None = None,
    score_bins: int | None = None,
) -> DataFrame:
    """Public form of the shared ``(group..., _s, _pos, _neg)``
    distinct-score count frame every evaluator in this module reduces
    over.  Compute it ONCE and pass it to :func:`binary_metrics` /
    :func:`pr_curve` / :func:`confusion_at_thresholds` via their
    ``counts=`` parameter when deriving several evaluations from the
    same scored frame: the consumers then share one scan + one
    shuffle (identical aggregate subtrees reuse the exchange) instead
    of re-scanning the scored rows per metric family.  ``_pos`` /
    ``_neg`` are exact integer-valued doubles, so any downstream
    re-aggregation order reproduces the single-pass sums bit-for-bit.
    """
    return _score_counts(
        df, score_col, label_col, group_cols or [], score_bins
    )


def _check_counts(counts: DataFrame, g: list[str]) -> None:
    want = [*g, "_s", "_pos", "_neg"]
    if list(counts.columns) != want:
        raise ValueError(
            f"counts must have columns {want} (the score_counts "
            f"contract), got {list(counts.columns)}"
        )


def binary_metrics(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    group_cols: list[str] | None = None,
    score_bins: int | None = None,
    counts: DataFrame | None = None,
) -> DataFrame:
    """Per group: ``(group..., n, n_pos, n_neg, auc, log_loss,
    brier)``.

    * ``auc`` — exact Mann–Whitney with average-rank tie correction
      (NULL when the group lacks both classes).
    * ``log_loss`` — mean ``−[y·ln p + (1−y)·ln(1−p)]``, scores
      clipped to ``[1e-15, 1−1e-15]``.
    * ``brier`` — mean squared error of the score.
    * ``score_bins`` quantizes scores (see module docstring); it
      changes AUC by at most ~1/bins and log-loss/Brier by the
      within-bin score spread.
    * ``counts`` — a precomputed :func:`score_counts` frame for the
      same (df, score/label/group/bins) arguments; when given, ``df``
      is not scanned (multi-metric callers share one pass).
    """
    g = group_cols or []
    if counts is not None:
        _check_counts(counts, g)
        sc = counts
    else:
        sc = _score_counts(df, score_col, label_col, g, score_bins)
    w = (
        Window.partitionBy(*g)
        .orderBy("_s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_neg = F.coalesce(F.sum("_neg").over(w), F.lit(0.0))
    p = _clip(F.col("_s"))
    per_score = sc.select(
        *g,
        "_pos",
        "_neg",
        (F.col("_pos") * (cum_neg + F.col("_neg") / 2)).alias("_u"),
        (
            -F.col("_pos") * F.log(p)
            - F.col("_neg") * F.log(F.lit(1.0) - p)
        ).alias("_ll"),
        (
            F.col("_pos") * F.pow(F.lit(1.0) - F.col("_s"), 2)
            + F.col("_neg") * F.pow(F.col("_s"), 2)
        ).alias("_br"),
    )
    agg = per_score.groupBy(*g).agg(
        F.sum("_pos").alias("_P"),
        F.sum("_neg").alias("_N"),
        F.sum("_u").alias("_U"),
        F.sum("_ll").alias("_LL"),
        F.sum("_br").alias("_BR"),
    )
    P, N = F.col("_P"), F.col("_N")
    n = P + N
    return agg.select(
        *g,
        n.cast("long").alias("n"),
        P.cast("long").alias("n_pos"),
        N.cast("long").alias("n_neg"),
        F.when((P > 0) & (N > 0), F.col("_U") / (P * N)).alias(
            "auc"
        ),
        (F.col("_LL") / n).alias("log_loss"),
        (F.col("_BR") / n).alias("brier"),
    )


def confusion_at_thresholds(
    df: DataFrame,
    thresholds: list[float],
    score_col: str = "score",
    label_col: str = "label",
    group_cols: list[str] | None = None,
    counts: DataFrame | None = None,
) -> DataFrame:
    """One row per (group, threshold): tp/fp/tn/fn counts plus
    precision, recall, f1, accuracy for the rule ``score >= t``.

    The thresholds are driver literals folded into ONE conditional-
    sum aggregate — a single data pass regardless of how many
    operating points are probed.  Precision (and f1) are NULL when
    nothing is predicted positive (0/0); recall is NULL for a
    positive-free group.
    """
    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    if len(set(thresholds)) != len(thresholds):
        raise ValueError(f"duplicate thresholds: {thresholds}")
    g = group_cols or []
    aggs = []
    if counts is not None:
        # reduce the distinct-score cells instead of re-scanning the
        # rows: a cell's _pos/_neg are exact integer-valued doubles,
        # so the conditional sums (cast back to long) equal the
        # row-level counts bit-for-bit.  label==1 mass is _pos by the
        # score_counts construction (label cast to double, summed).
        _check_counts(counts, g)
        s = F.col("_s")
        for i, t in enumerate(thresholds):
            pred = s >= F.lit(float(t))
            aggs += [
                F.sum(F.when(pred, F.col("_pos"))).cast("long").alias(f"_tp_{i}"),
                F.sum(F.when(pred, F.col("_neg"))).cast("long").alias(f"_fp_{i}"),
                F.sum(F.when(~pred, F.col("_neg"))).cast("long").alias(f"_tn_{i}"),
                F.sum(F.when(~pred, F.col("_pos"))).cast("long").alias(f"_fn_{i}"),
            ]
        agg = counts.groupBy(*g).agg(*aggs)
    else:
        s = F.col(score_col).cast("double")
        y = F.col(label_col).cast("double")
        base = df.where(
            F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
        )
        for i, t in enumerate(thresholds):
            pred = s >= F.lit(float(t))
            aggs += [
                F.sum((pred & (y == 1)).cast("long")).alias(f"_tp_{i}"),
                F.sum((pred & (y == 0)).cast("long")).alias(f"_fp_{i}"),
                F.sum((~pred & (y == 0)).cast("long")).alias(f"_tn_{i}"),
                F.sum((~pred & (y == 1)).cast("long")).alias(f"_fn_{i}"),
            ]
        agg = base.groupBy(*g).agg(*aggs)
    rows = []
    for i, t in enumerate(thresholds):
        tp = F.coalesce(F.col(f"_tp_{i}"), F.lit(0))
        fp = F.coalesce(F.col(f"_fp_{i}"), F.lit(0))
        tn = F.coalesce(F.col(f"_tn_{i}"), F.lit(0))
        fn = F.coalesce(F.col(f"_fn_{i}"), F.lit(0))
        prec = F.when(tp + fp > 0, tp / (tp + fp))
        rec = F.when(tp + fn > 0, tp / (tp + fn))
        f1 = F.when(
            prec.isNotNull() & rec.isNotNull() & (prec + rec > 0),
            2 * prec * rec / (prec + rec),
        )
        rows.append(
            F.struct(
                F.lit(float(t)).alias("threshold"),
                tp.cast("long").alias("tp"),
                fp.cast("long").alias("fp"),
                tn.cast("long").alias("tn"),
                fn.cast("long").alias("fn"),
                prec.alias("precision"),
                rec.alias("recall"),
                f1.alias("f1"),
                F.when(
                    tp + fp + tn + fn > 0,
                    (tp + tn) / (tp + fp + tn + fn),
                ).alias("accuracy"),
            )
        )
    return agg.select(
        *g, F.explode(F.array(*rows)).alias("_m")
    ).select(*g, "_m.*")


def pr_curve(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    group_cols: list[str] | None = None,
    score_bins: int | None = None,
    counts: DataFrame | None = None,
) -> DataFrame:
    """Precision/recall at every distinct score cutoff (rule
    ``score >= s``), descending by score: ``(group..., score,
    tp, fp, precision, recall)``.

    Output is distinct-score-sized; pass ``score_bins`` to bound it
    for continuous scores.  Recall is NULL for positive-free groups.
    ``counts``: precomputed :func:`score_counts` frame (see
    :func:`binary_metrics`).
    """
    g = group_cols or []
    if counts is not None:
        _check_counts(counts, g)
        sc = counts
    else:
        sc = _score_counts(df, score_col, label_col, g, score_bins)
    wd = (
        Window.partitionBy(*g)
        .orderBy(F.col("_s").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy(*g)
    tp = F.sum("_pos").over(wd)
    fp = F.sum("_neg").over(wd)
    P = F.sum("_pos").over(wall)
    return sc.select(
        *g,
        F.col("_s").alias("score"),
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        F.when(tp + fp > 0, tp / (tp + fp)).alias("precision"),
        F.when(P > 0, tp / P).alias("recall"),
    )
