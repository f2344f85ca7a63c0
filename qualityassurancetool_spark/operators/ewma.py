"""EWMA smoothing and control-chart anomaly flags — bounded-lag
exponential weighting as pure window Columns.

The reference's QC checks are memoryless (range) or
fixed-window (z-score, rolling median); an EWMA control chart is
the classic next step for drifting sensor streams (Roberts 1959,
NIST/SEMATECH e-handbook §6.3.2.4): smooth with exponentially
decaying weights, flag points that sit further than L·σ from the
smoothed history.

Exact infinite-horizon EWMA is a sequential recurrence
(``s_t = α·x_t + (1−α)·s_{t−1}``) — the one shape that does NOT
distribute.  This module uses the standard bounded-memory form
instead: the weights ``α(1−α)^k`` decay geometrically, so
truncating at ``window`` lags bounds the error by ``(1−α)^window``
(< 0.5 % of the mass at α=0.3, window=16) and turns the operator
into a FIXED unrolled sum of ``lag(x, k)`` terms over one ordered
window — whole-stage-codegen Column arithmetic, no UDF, no
recursion, and exactly replicable in any SQL engine (the oracle
unrolls the same lags).  Weights are renormalized over the lags
actually present, so early rows and NULL-holes get a proper
weighted mean of what exists rather than a biased partial sum.

Spark shape: ONE shuffle on the group key; everything else is
per-partition window evaluation.  The anomaly variant compares the
current value against the smoothed PRECEDING history (lags 1..K)
with a preceding-window σ — self-exclusion, so a spike cannot mask
itself.  At low stream cardinality the same streams×buckets
strategy as the other QC windows applies (`operators/
partitioned_windows`); EWMA's state is a K-lag halo.

Cross-engine: ``__spark_entry__.py`` query ``ewma`` — DuckDB replica
with the same unrolled lags over the events stream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def _weighted_lags(
    x: Column, w, alpha: float, start: int, window: int
) -> tuple[Column, Column]:
    """(Σ w_k·lag_k(x), Σ w_k·[lag_k(x) non-null]) for
    k = start..start+window-1 with w_k = α(1−α)^k (k counted from
    the current row, so ``start=1`` skips the row itself)."""
    num = F.lit(0.0)
    den = F.lit(0.0)
    for k in range(start, start + window):
        wk = alpha * (1.0 - alpha) ** (k - start)
        lx = F.lag(x, k).over(w)
        num = num + F.when(lx.isNotNull(), F.lit(wk) * lx).otherwise(
            F.lit(0.0)
        )
        den = den + F.when(lx.isNotNull(), F.lit(wk)).otherwise(
            F.lit(0.0)
        )
    return num, den


def ewma_smooth(
    df: DataFrame,
    value_col: str,
    order_cols: list[str],
    group_cols: list[str] | None = None,
    alpha: float = 0.3,
    window: int = 16,
    out_col: str = "ewma",
) -> DataFrame:
    """Add ``out_col``: the exponentially weighted mean of the last
    ``window`` observations (current row included, weight α at lag
    0), per group in ``order_cols`` order.  NULL values are skipped
    (weights renormalized over present lags); a row whose whole
    window is NULL gets NULL.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if not order_cols:
        raise ValueError("order_cols must be non-empty")
    # "no order key, no chart" (unified null-ts discipline): rows
    # whose first order column is NULL get a NULL smooth and do not
    # occupy lag slots
    ok_rows = df.where(F.col(order_cols[0]).isNotNull())
    null_rows = df.where(F.col(order_cols[0]).isNull()).withColumn(
        out_col, F.lit(None).cast("double")
    )

    # the unrolled lag tree costs ~10 py4j round trips per lag term to
    # construct; it is fully determined by the parameters below, so
    # repeated query builds reuse the JVM expression (exprmemo)
    def _build() -> Column:
        w = Window.partitionBy(*(group_cols or [])).orderBy(*order_cols)
        x = F.col(value_col).cast("double")
        # lag 0 is the row itself
        num0 = F.when(x.isNotNull(), F.lit(alpha) * x).otherwise(
            F.lit(0.0)
        )
        den0 = F.when(x.isNotNull(), F.lit(alpha)).otherwise(F.lit(0.0))
        if window > 1:
            # _weighted_lags counts decay from ``start``, so its lag-k
            # weight is α(1−α)^(k−1); one extra (1−α) factor restores
            # the absolute α(1−α)^k
            nl, dl = _weighted_lags(x, w, alpha, 1, window - 1)
            num = num0 + nl * F.lit(1.0 - alpha)
            den = den0 + dl * F.lit(1.0 - alpha)
        else:
            num, den = num0, den0
        return F.when(den > 0, num / den)

    from qualityassurancetool_spark.functions.exprmemo import memoized_expr

    smooth = memoized_expr(
        (
            "ewma_smooth",
            value_col,
            tuple(order_cols),
            tuple(group_cols or []),
            float(alpha),
            int(window),
        ),
        _build,
    )
    return ok_rows.withColumn(out_col, smooth).unionByName(null_rows)


def ewma_anomaly(
    df: DataFrame,
    value_col: str,
    order_cols: list[str],
    group_cols: list[str] | None = None,
    alpha: float = 0.3,
    window: int = 16,
    nsigma: float = 3.0,
    min_history: int = 4,
    rel_eps: float = 1e-9,
) -> DataFrame:
    """Control-chart flags: adds ``ewma_prev`` (EWMA of the
    PRECEDING ``window`` observations — the row itself excluded),
    ``ewma_sigma`` (sample σ of the same preceding window),
    ``ewma_dev`` (value − ewma_prev) and boolean ``ewma_flag``
    (``|dev| > nsigma·σ + rel_eps·max(|x|, |prev|)`` with at least
    ``min_history`` preceding points).  Self-excluding, so a spike
    cannot suppress its own flag; rows with NULL value or
    insufficient history get a NULL flag (unknown, not clean — the
    reference's strict-null discipline).

    ``rel_eps`` is a scale-relative guard: the NULL-renormalized
    weighted mean of a constant history carries ~1 ULP of FP
    residue (e.g. 9.999999999999998 for an all-10.0 window), and
    with σ=0 a bare ``|dev| > nsigma·σ`` would flag every row of a
    stuck-but-healthy sensor after a dropout.  The epsilon term is
    ~1e-9 of the signal magnitude — 6 orders above double rounding
    noise, 6+ below any physical deviation — so real spikes on a
    σ=0 history still flag (dev is O(signal), eps is O(1e-9·
    signal)).

    Plan-size note: this chart unrolls ~2·``window`` ``lag()``
    terms per direction (≈64 window expressions at the default 16)
    — one shuffle, fully codegen'd, fine.  Before raising
    ``window`` past ~32, reach for :func:`ewma_anomaly_bucketed`
    (identical output, K-row halo instead of a K-term unroll) — a
    256-lag plan bloats analysis/codegen, not just execution.
    """
    if nsigma <= 0:
        raise ValueError(f"nsigma must be > 0, got {nsigma}")
    if min_history < 2:
        raise ValueError(
            f"min_history must be >= 2, got {min_history}"
        )
    if not order_cols:
        raise ValueError("order_cols must be non-empty")
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    # unified null-ts discipline (see ewma_smooth)
    ok_rows = df.where(F.col(order_cols[0]).isNotNull())
    null_rows = df.where(
        F.col(order_cols[0]).isNull()
    ).withColumns(
        {
            "ewma_prev": F.lit(None).cast("double"),
            "ewma_sigma": F.lit(None).cast("double"),
            "ewma_dev": F.lit(None).cast("double"),
            "ewma_flag": F.lit(None).cast("boolean"),
        }
    )
    df = ok_rows

    # ~2·window unrolled lag terms — memoized like ewma_smooth's tree
    def _build() -> tuple[Column, Column, Column, Column]:
        w = Window.partitionBy(*(group_cols or [])).orderBy(*order_cols)
        x = F.col(value_col).cast("double")
        num, den = _weighted_lags(x, w, alpha, 1, window)
        prev = F.when(den > 0, num / den)
        wp = w.rowsBetween(-window, -1)
        sigma = F.stddev_samp(x).over(wp)
        nhist = F.count(x).over(wp)
        dev = x - prev
        eps = F.lit(float(rel_eps)) * F.greatest(F.abs(x), F.abs(prev))
        flag = F.when(
            x.isNotNull()
            & prev.isNotNull()
            & sigma.isNotNull()
            & (nhist >= min_history),
            F.abs(dev) > F.lit(float(nsigma)) * sigma + eps,
        )
        return prev, sigma, dev, flag

    from qualityassurancetool_spark.functions.exprmemo import memoized_expr

    prev, sigma, dev, flag = memoized_expr(
        (
            "ewma_anomaly",
            value_col,
            tuple(order_cols),
            tuple(group_cols or []),
            float(alpha),
            int(window),
            float(nsigma),
            int(min_history),
            float(rel_eps),
        ),
        _build,
    )
    return (
        df.withColumn("ewma_prev", prev)
        .withColumn("ewma_sigma", sigma)
        .withColumn("ewma_dev", dev)
        .withColumn("ewma_flag", flag)
        .unionByName(null_rows)
    )


def ewma_anomaly_bucketed(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    group_cols: list[str] | None = None,
    alpha: float = 0.3,
    window: int = 16,
    nsigma: float = 3.0,
    min_history: int = 4,
    rel_eps: float = 1e-9,
    bucket: str | float = "1d",
    order_extra: list[str] | None = None,
) -> DataFrame:
    """Scale-path twin of :func:`ewma_anomaly` with streams × buckets
    parallelism (`operators/partitioned_windows` discipline).

    EWMA's state is a bounded K-row lag window, so the halo is the
    last ``window`` ROWS before each bucket (by row position, not
    time — NULL values occupy lag slots exactly like the plain path):
    each (stream, bucket) aggregates its ordered value tail (≤ K
    doubles), one window over the streams × buckets summary
    concatenates previous tails and keeps the global last K, and the
    halo values re-enter the bucket as synthetic rows sorted BEFORE
    the real ones — the plain window expressions then run unchanged
    per (stream, bucket) and halo rows drop out.  ONE row-level
    shuffle on (stream, bucket); the halo frame is streams × buckets
    × K doubles.

    Exact (not ulp-approximate): the weighted sums see the identical
    lag values in the identical order as the plain path.  Null-ts
    rows get NULL chart columns and occupy no lag slot (the unified
    null-ts discipline — same as the plain path).
    """
    from pyspark.sql import Window as W

    from qualityassurancetool_spark.functions.timeutils import (
        epoch_micros,
        parse_timedelta_seconds,
    )

    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if min_history < 2:
        raise ValueError(f"min_history must be >= 2, got {min_history}")
    if nsigma <= 0:
        raise ValueError(f"nsigma must be > 0, got {nsigma}")
    g = group_cols or []
    extra = order_extra or []
    bucket_us = int(parse_timedelta_seconds(bucket) * 1_000_000)
    out_cols = ("ewma_prev", "ewma_sigma", "ewma_dev", "ewma_flag")

    null_rows = df.where(F.col(ts_col).isNull()).withColumns(
        {
            "ewma_prev": F.lit(None).cast("double"),
            "ewma_sigma": F.lit(None).cast("double"),
            "ewma_dev": F.lit(None).cast("double"),
            "ewma_flag": F.lit(None).cast("boolean"),
        }
    )
    rows = (
        df.where(F.col(ts_col).isNotNull())
        .withColumn("_t_us", epoch_micros(ts_col))
        .withColumn(
            "_bucket", F.floor(F.col("_t_us") / F.lit(bucket_us))
        )
        .withColumn("_x", F.col(value_col).cast("double"))
        .withColumn("_is_real", F.lit(1))
        .withColumn("_hord", F.lit(0))
    )

    # per-bucket ordered tail: the bucket's last K values (struct sort
    # on (_t_us, extra) — NULL values ride along as struct fields)
    pay = F.struct(
        F.col("_t_us"),
        *[F.col(c) for c in extra],
        F.col("_x").alias("_xv"),
    )
    tails = rows.groupBy(*g, "_bucket").agg(
        F.transform(
            F.sort_array(F.collect_list(pay)), lambda s: s["_xv"]
        ).alias("_tail")
    )
    tail = F.when(
        F.size("_tail") > window, F.slice("_tail", -window, window)
    ).otherwise(F.col("_tail"))
    tails = tails.select(*g, "_bucket", tail.alias("_tail"))
    # one summary window per stream: previous buckets' tails
    # concatenated in bucket order, global last K kept.  The frame is
    # BOUNDED to the last `window` summary rows: every non-empty
    # bucket's tail carries >= 1 value, so the last K buckets always
    # contain >= K values — an unbounded frame would materialize a
    # running O(buckets x K) concatenation per stream for nothing
    w_prev = (
        W.partitionBy(*g)
        .orderBy("_bucket")
        .rowsBetween(-window, -1)
    )
    halos = tails.select(
        *g,
        "_bucket",
        F.flatten(F.collect_list("_tail").over(w_prev)).alias("_h"),
    )
    halo = F.when(
        F.size("_h") > window, F.slice("_h", -window, window)
    ).otherwise(F.col("_h"))
    halo_rows = (
        halos.select(*g, "_bucket", halo.alias("_h"))
        .select(
            *g,
            "_bucket",
            F.posexplode("_h").alias("_hord", "_x"),
        )
        .withColumn("_is_real", F.lit(0))
    )
    u = rows.unionByName(halo_rows, allowMissingColumns=True)

    # the plain operator's expressions, per (stream, bucket), with
    # halo rows sorted first so early real rows see their true lags
    w = W.partitionBy(*g, "_bucket").orderBy(
        "_is_real", "_hord", "_t_us", *extra
    )
    x = F.col("_x")
    num, den = _weighted_lags(x, w, alpha, 1, window)
    prev = F.when(den > 0, num / den)
    wp = w.rowsBetween(-window, -1)
    sigma = F.stddev_samp(x).over(wp)
    nhist = F.count(x).over(wp)
    dev = x - prev
    eps = F.lit(float(rel_eps)) * F.greatest(F.abs(x), F.abs(prev))
    flag = F.when(
        x.isNotNull()
        & prev.isNotNull()
        & sigma.isNotNull()
        & (nhist >= min_history),
        F.abs(dev) > F.lit(float(nsigma)) * sigma + eps,
    )
    out = (
        u.withColumn("ewma_prev", prev)
        .withColumn("ewma_sigma", sigma)
        .withColumn("ewma_dev", dev)
        .withColumn("ewma_flag", flag)
        .where(F.col("_is_real") == 1)
        .drop("_t_us", "_bucket", "_x", "_is_real", "_hord")
    )
    return out.unionByName(null_rows.select(*out.columns))
