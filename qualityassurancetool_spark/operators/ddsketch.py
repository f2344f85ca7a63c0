"""DDSketch — mergeable quantiles with RELATIVE-error guarantee.

Masson / Rim / Lee, VLDB 2019 ("DDSketch: a fast and fully-mergeable
quantile sketch with relative-error guarantees").  The quantile leg of
the bounded-state summary family (``cms`` frequencies, ``hll``/``kmv``
distincts, ``heavy_hitters`` top keys, ``bloom`` membership): where
Spark's built-in ``percentile_approx`` (GK) bounds RANK error,
DDSketch bounds VALUE error — every quantile estimate is within
``±alpha`` RELATIVE error of the true value, at any scale, and
sketches merge by cell-wise count addition (day → month → corpus
without rescans).  At 100 TB that is the latency/length/score
monitoring shape: per-(domain, day) sketches of doc lengths or
quality scores, rolled up and compared later at bucket-table cost.

Construction: with ``gamma = (1+alpha)/(1-alpha)``, a positive value
maps to bucket ``ceil(log_gamma(x))``; bucket j covers
``(gamma^(j-1), gamma^j]`` and its midpoint ``2·gamma^j/(gamma+1)``
is within alpha of everything in it.  Zeros get a dedicated bucket
(index NULL → stored as ``is_zero``); negatives mirror positives in a
sign=-1 store, exactly as the paper's two-store layout.

Spark shape, all declarative: bucket index is one ``ceil(round(ln(x)
/ ln(gamma), 9))`` Column (the inner 9-dp round pins engine-boundary
values to the same bucket in Spark and DuckDB — a raw ``ceil(ln/ln)``
can land either side of an integer across libms); build is ONE
partial-agged groupBy over (sign, bucket) — the shuffle carries at
most ``groups × buckets`` pre-aggregated cells (buckets ≈
``log_gamma(max/min)`` ≈ 1.4 k for a 1e-6..1e12 range at alpha=1 %);
quantile queries are a cumulative-count window walk.

Cross-engine: ``__spark_entry__.py`` query ``ddsketch_quantiles`` replicates
bucket mapping, build and the quantile walk in DuckDB — cell-exact
counts, quantile values at 6 dp.  Streaming twin:
``streaming/ddsketch.py`` (scalar count state per bucket).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _gamma(alpha: float) -> float:
    if not 0 < alpha < 1:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    return (1.0 + alpha) / (1.0 - alpha)


def bucket_index(value: Column, alpha: float) -> Column:
    """Bucket index of a POSITIVE value: ``ceil(log_gamma(x))`` with
    the 9-dp stabilizing round (see module docstring)."""
    g = _gamma(alpha)
    return F.ceil(
        F.round(F.log(value.cast("double")) / F.lit(math.log(g)), 9)
    ).cast("int")


def ddsketch_build(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    alpha: float = 0.01,
) -> DataFrame:
    """Sketch table ``group cols + (sign, bucket, n)`` over non-null
    values.  sign ∈ {-1, 0, 1}; bucket is 0 for the zero store.
    One partial-agged groupBy — cells, never rows, shuffle."""
    group_cols = group_cols or []
    v = F.col(value_col).cast("double")
    sign = F.when(v > 0, F.lit(1)).when(v < 0, F.lit(-1)).otherwise(
        F.lit(0)
    )
    bucket = (
        F.when(v > 0, bucket_index(v, alpha))
        .when(v < 0, bucket_index(-v, alpha))
        .otherwise(F.lit(0))
    )
    return (
        df.where(v.isNotNull())
        .select(
            *group_cols,
            sign.alias("sign"),
            bucket.alias("bucket"),
        )
        .groupBy(*group_cols, "sign", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def ddsketch_merge(
    *sketches: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Cell-wise count addition — the mergeable-summary property."""
    if not sketches:
        raise ValueError("need at least one sketch")
    group_cols = group_cols or []
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy(*group_cols, "sign", "bucket").agg(
        F.sum("n").alias("n")
    )


def _midpoint(alpha: float, sign: Column, bucket: Column) -> Column:
    """The bucket midpoint ``sign · 2·gamma^bucket/(gamma+1)``
    (zero store → 0.0) — within alpha of every value in the bucket."""
    g = _gamma(alpha)
    mag = F.lit(2.0 / (g + 1.0)) * F.pow(
        F.lit(g), bucket.cast("double")
    )
    return (
        F.when(sign == 0, F.lit(0.0))
        .otherwise(sign.cast("double") * mag)
    )


def ddsketch_quantiles(
    sketch: DataFrame,
    probs: list[float],
    group_cols: list[str] | None = None,
    alpha: float = 0.01,
) -> DataFrame:
    """Quantile estimates from a sketch table: group cols +
    ``(prob, est)`` rows, one per requested probability.

    The walk: order cells by signed position (negative store
    descending by bucket, then zero, then positive ascending),
    cumulative-sum counts, and pick the FIRST cell whose running
    count exceeds ``q·(n−1)`` (the paper's rank convention — the
    0-based ⌈q·(n−1)⌉-th order statistic's bucket) — a window cumsum
    + min-filter, no driver loop."""
    if not probs or any(not 0 <= p <= 1 for p in probs):
        raise ValueError(f"probs must be within [0, 1]: {probs}")
    group_cols = group_cols or []
    # value order across the three stores: all negatives < zero < all
    # positives (disjoint bands); within the negative store a LARGER
    # bucket is a larger magnitude, i.e. a smaller value, so the
    # within-band key is -bucket there and +bucket for positives
    band = F.when(F.col("sign") == -1, F.lit(0)).when(
        F.col("sign") == 0, F.lit(1)
    ).otherwise(F.lit(2))
    within = F.when(
        F.col("sign") == -1, -F.col("bucket")
    ).otherwise(F.col("bucket"))
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(band, within)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sketch.select(
        *group_cols,
        "sign",
        "bucket",
        F.sum("n").over(w).alias("cum"),
        F.sum("n")
        .over(Window.partitionBy(*group_cols))
        .alias("total"),
    )
    # probs attach as a literal-array explode (one Generate, no join, no
    # Python->JVM RDD dim) — the probe list is a handful of constants
    joined = cum.select(
        "*",
        F.explode(
            F.array(*[F.lit(float(p)) for p in probs])
        ).alias("prob"),
    ).where(F.col("cum") > F.col("prob") * (F.col("total") - F.lit(1.0)))
    pick = Window.partitionBy(*group_cols, "prob").orderBy(
        F.when(F.col("sign") == -1, F.lit(0))
        .when(F.col("sign") == 0, F.lit(1))
        .otherwise(F.lit(2)),
        F.when(F.col("sign") == -1, -F.col("bucket")).otherwise(
            F.col("bucket")
        ),
    )
    return (
        joined.withColumn("_rn", F.row_number().over(pick))
        .where(F.col("_rn") == 1)
        .select(
            *group_cols,
            "prob",
            _midpoint(alpha, F.col("sign"), F.col("bucket")).alias(
                "est"
            ),
        )
    )


def ddsketch_relative_error(alpha: float) -> float:
    """The guaranteed bound: every estimate is within ``alpha``
    relative error of the true quantile value (paper Thm. 1)."""
    _gamma(alpha)
    return alpha
