"""CUSUM control charts — the sequential-recurrence chart that DOES
distribute.

Page's cumulative-sum chart (Page 1954; NIST/SEMATECH e-handbook
§6.3.2.3) accumulates small persistent shifts that per-point charts
(range, z-score, EWMA) miss:

    s⁺_t = max(0, s⁺_{t−1} + (x_t − target − slack))
    s⁻_t = max(0, s⁻_{t−1} + (target − slack − x_t))

and signals when either statistic crosses the decision threshold
``h``.  The recurrence looks as sequential as EWMA's — but unlike
EWMA it has an exact closed form over prefix sums (the classic
max-plus identity, same family as the maximum-subarray trick):

    with y_i = x_i − target − slack and S_t = Σ_{i≤t} y_i:
        s⁺_t = S_t − min(0, min_{j≤t} S_j)

so the whole chart is TWO stacked window expressions — a running sum,
then a running min over it — per direction.  One shuffle on the group
key, no UDF, no iteration, exactly replicable in any SQL engine
(``__spark_entry__.py`` query ``cusum`` replays it in DuckDB and a pytest
pins it against the literal recurrence).

``target``/``sigma`` defaults are per-group scalars estimated from
the batch itself (mean / stddev via one aggregate, broadcast back —
the ``target_encode`` prior pattern, never an empty-frame window); in
production you pass the in-control values from history instead (the
estimate-from-data mode double-dips the shift into the baseline, the
standard caveat).

NULL discipline: a NULL value carries the state through unchanged
(sum ignores NULLs) and gets a NULL flag — unknown, not clean.

Reference anchor: the reference's QC checks are per-point
(`src/main.py` range/z-score family); CUSUM is the standard drift
companion, kept Spark-first per SURVEY §7.3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def cusum_anomaly(
    df: DataFrame,
    value_col: str,
    order_cols: list[str],
    group_cols: list[str] | None = None,
    target: float | None = None,
    sigma: float | None = None,
    slack: float = 0.5,
    threshold: float = 5.0,
) -> DataFrame:
    """Add ``cusum_pos``, ``cusum_neg`` (the two one-sided statistics,
    in σ units) and ``cusum_flag`` (either statistic > ``threshold``).

    ``slack`` and ``threshold`` are in σ units (the classic k=0.5σ,
    h=5σ tuning detects ~1σ shifts fastest).  ``target``/``sigma``:
    in-control mean and deviation; when None they are estimated per
    group from this batch (one scalar aggregate, broadcast back).
    """
    if not order_cols:
        raise ValueError("order_cols must be non-empty")
    if slack < 0:
        raise ValueError(f"slack must be >= 0, got {slack}")
    if threshold <= 0:
        raise ValueError(f"threshold must be > 0, got {threshold}")
    g = group_cols or []
    x = F.col(value_col).cast("double")

    if target is None or sigma is None:
        # estimated baseline uses CHARTABLE rows only (order key
        # non-null) so the plain and bucketed paths see one baseline
        stats = (
            df.where(F.col(order_cols[0]).isNotNull())
            .groupBy(*g)
            .agg(
                F.avg(x).alias("__cu_mu"),
                F.stddev_samp(x).alias("__cu_sd"),
            )
        )
        if g:
            from qualityassurancetool_spark.functions.partitioning import (
                broadcast_join_nullsafe,
            )

            base = broadcast_join_nullsafe(df, stats, g)
        else:
            base = df.crossJoin(F.broadcast(stats))
        mu = (
            F.lit(float(target))
            if target is not None
            else F.col("__cu_mu")
        )
        sd = (
            F.lit(float(sigma))
            if sigma is not None
            else F.col("__cu_sd")
        )
    else:
        base = df
        mu, sd = F.lit(float(target)), F.lit(float(sigma))

    # "no order key, no chart" (the QC family's unified null-ts
    # discipline): a row whose FIRST order column is NULL cannot be
    # placed on the chart — it gets NULL statistics and contributes
    # no state (Spark's default nulls-first sort would otherwise
    # push such rows to the chart's start and feed their values in)
    ok = F.col(order_cols[0]).isNotNull()

    # standardized deviations; σ=0 (constant in-control stream) makes
    # every nonzero deviation infinite — guard to NULL (no chart)
    z = F.when(ok & (sd > 0), (x - mu) / sd)
    y_pos = z - F.lit(float(slack))
    y_neg = -z - F.lit(float(slack))

    w_cum = (
        Window.partitionBy(*g)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # stage the prefix sums, then the running min over them (window
    # functions cannot nest) — same partitioning, Catalyst reuses the
    # exchange and sort
    staged = base.select(
        "*",
        F.when(ok, F.sum(y_pos).over(w_cum)).alias("__cu_sp"),
        F.when(ok, F.sum(y_neg).over(w_cum)).alias("__cu_sn"),
    )
    s_pos = F.col("__cu_sp") - F.least(
        F.lit(0.0), F.min("__cu_sp").over(w_cum)
    )
    s_neg = F.col("__cu_sn") - F.least(
        F.lit(0.0), F.min("__cu_sn").over(w_cum)
    )
    # a NULL value carries state: its own row shows the carried
    # statistic (sum ignored the NULL) but flags NULL
    flag = F.when(
        x.isNotNull() & s_pos.isNotNull() & s_neg.isNotNull(),
        (s_pos > threshold) | (s_neg > threshold),
    )
    drop = ["__cu_sp", "__cu_sn"] + (
        ["__cu_mu", "__cu_sd"] if target is None or sigma is None else []
    )
    return (
        staged.withColumn("cusum_pos", s_pos)
        .withColumn("cusum_neg", s_neg)
        .withColumn("cusum_flag", flag)
        .drop(*drop)
    )


def cusum_anomaly_bucketed(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    group_cols: list[str] | None = None,
    target: float | None = None,
    sigma: float | None = None,
    slack: float = 0.5,
    threshold: float = 5.0,
    bucket: str | float = "1d",
    order_extra: list[str] | None = None,
) -> DataFrame:
    """Scale-path twin of :func:`cusum_anomaly` with streams × buckets
    parallelism (the `operators/partitioned_windows` discipline, for
    the 5-streams / 10M-rows regime where per-stream windows serialize).

    The chart is two chained prefix scans (running sum, then running
    min over it), so the decomposition is the classic two-phase scan
    done TWICE on the same frames: each (stream, bucket) computes its
    LOCAL running sum and local running min; the streams × buckets
    summary frame gets (a) exclusive-prefix sum carries and (b) an
    exclusive-prefix min over carry-adjusted bucket minima, with two
    window expressions over the tiny summary; carries broadcast back
    and shift the local values.  ONE row-level shuffle on
    (stream, bucket).

    Exactness caveat (same as ``apply_stabilization_bucketed``): the
    running sums associate differently than the sequential window, so
    statistics can differ by ulps of the running total — the parity
    test pins 1e-9 absolute agreement.

    Null-ts rows get NULL statistics and contribute nothing (the same
    "no order key, no chart" contract as the plain path).
    """
    from qualityassurancetool_spark.functions.timeutils import (
        epoch_micros,
        parse_timedelta_seconds,
    )

    if slack < 0:
        raise ValueError(f"slack must be >= 0, got {slack}")
    if threshold <= 0:
        raise ValueError(f"threshold must be > 0, got {threshold}")
    g = group_cols or []
    extra = order_extra or []
    bucket_us = int(parse_timedelta_seconds(bucket) * 1_000_000)
    x = F.col(value_col).cast("double")

    null_rows = df.where(F.col(ts_col).isNull()).withColumns(
        {
            "cusum_pos": F.lit(None).cast("double"),
            "cusum_neg": F.lit(None).cast("double"),
            "cusum_flag": F.lit(None).cast("boolean"),
        }
    )
    rows = (
        df.where(F.col(ts_col).isNotNull())
        .withColumn("_t_us", epoch_micros(ts_col))
        .withColumn(
            "_bucket", F.floor(F.col("_t_us") / F.lit(bucket_us))
        )
    )

    if target is None or sigma is None:
        stats = rows.groupBy(*g).agg(
            F.avg(x).alias("__cu_mu"),
            F.stddev_samp(x).alias("__cu_sd"),
        )
        if g:
            from qualityassurancetool_spark.functions.partitioning import (
                broadcast_join_nullsafe,
            )

            rows = broadcast_join_nullsafe(rows, stats, g)
        else:
            rows = rows.crossJoin(F.broadcast(stats))
        mu = (
            F.lit(float(target))
            if target is not None
            else F.col("__cu_mu")
        )
        sd = (
            F.lit(float(sigma))
            if sigma is not None
            else F.col("__cu_sd")
        )
        stat_drop = ["__cu_mu", "__cu_sd"]
    else:
        mu, sd = F.lit(float(target)), F.lit(float(sigma))
        stat_drop = []

    z = F.when(sd > 0, (x - mu) / sd)
    # local pass: per (stream, bucket) running sum + running min over
    # it, for both one-sided charts — one shuffle, two stacked selects
    w_loc = (
        Window.partitionBy(*g, "_bucket")
        .orderBy("_t_us", *extra)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = rows.select(
        "*",
        F.sum(z - F.lit(float(slack))).over(w_loc).alias("_sp_loc"),
        F.sum(-z - F.lit(float(slack))).over(w_loc).alias("_sn_loc"),
    )
    staged = staged.select(
        "*",
        F.min("_sp_loc").over(w_loc).alias("_mp_loc"),
        F.min("_sn_loc").over(w_loc).alias("_mn_loc"),
    )
    # streams × buckets summary: bucket totals + bucket minima
    summary = staged.groupBy(*g, "_bucket").agg(
        F.sum(z - F.lit(float(slack))).alias("_tot_p"),
        F.sum(-z - F.lit(float(slack))).alias("_tot_n"),
        F.min("_sp_loc").alias("_bmin_p"),
        F.min("_sn_loc").alias("_bmin_n"),
    )
    w_prev = (
        Window.partitionBy(*g)
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # carries and carry-adjusted bucket minima are BOTH window
    # expressions over the same summary rows — stacked selects, no
    # join (an equi-join back onto summary would also drop NULL-group
    # strata)
    adj = summary.select(
        *g,
        "_bucket",
        "_bmin_p",
        "_bmin_n",
        F.sum("_tot_p").over(w_prev).alias("_carry_p"),
        F.sum("_tot_n").over(w_prev).alias("_carry_n"),
    ).select(
        *g,
        "_bucket",
        "_carry_p",
        "_carry_n",
        (F.coalesce("_carry_p", F.lit(0.0)) + F.col("_bmin_p")).alias(
            "_gmin_p"
        ),
        (F.coalesce("_carry_n", F.lit(0.0)) + F.col("_bmin_n")).alias(
            "_gmin_n"
        ),
    )
    carry_frame = adj.select(
        *g,
        "_bucket",
        "_carry_p",
        "_carry_n",
        F.min("_gmin_p").over(w_prev).alias("_pmin_p"),
        F.min("_gmin_n").over(w_prev).alias("_pmin_n"),
    )
    # null-safe carry join: a NULL group key is its own stratum and
    # must keep its carries (plain equi-join would drop those rows)
    from qualityassurancetool_spark.functions.partitioning import (
        broadcast_join_nullsafe,
    )

    joined = broadcast_join_nullsafe(
        staged, carry_frame, [*g, "_bucket"], how="inner"
    )

    def chart(loc_sum, loc_min, carry, pmin):
        # a row BEFORE any non-null deviation within its bucket has a
        # NULL local sum but must still show the carried running value
        # (the plain path's window reaches into previous buckets)
        s_glob = F.when(
            F.col(loc_sum).isNotNull(),
            F.coalesce(carry, F.lit(0.0)) + F.col(loc_sum),
        ).otherwise(carry)
        m_loc_g = F.when(
            F.col(loc_min).isNotNull(),
            F.coalesce(carry, F.lit(0.0)) + F.col(loc_min),
        )
        m_glob = F.least(pmin, m_loc_g)
        return s_glob - F.least(F.lit(0.0), m_glob)

    s_pos = chart("_sp_loc", "_mp_loc", F.col("_carry_p"), F.col("_pmin_p"))
    s_neg = chart("_sn_loc", "_mn_loc", F.col("_carry_n"), F.col("_pmin_n"))
    flag = F.when(
        x.isNotNull() & s_pos.isNotNull() & s_neg.isNotNull(),
        (s_pos > threshold) | (s_neg > threshold),
    )
    out = (
        joined.withColumn("cusum_pos", s_pos)
        .withColumn("cusum_neg", s_neg)
        .withColumn("cusum_flag", flag)
        .drop(
            "_t_us", "_bucket", "_sp_loc", "_sn_loc", "_mp_loc",
            "_mn_loc", "_carry_p", "_carry_n", "_pmin_p", "_pmin_n",
            *stat_drop,
        )
    )
    return out.unionByName(null_rows)
