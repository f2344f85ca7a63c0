"""Experiment analysis — Welch's t-test, two-proportion z-test, and
CUPED variance reduction as one-pass moment aggregation.

The A/B-test readout is the canonical "simple statistic over
enormous data" shape: per-variant sufficient statistics (n, Σy,
Σy²) partial-aggregate map-side, the shuffle carries a handful of
doubles per (stratum, variant), and every test statistic is closed-
form arithmetic over the tiny stats frame.  Nothing here iterates
and nothing moves data rows.

P-values use the Abramowitz–Stegun 7.1.26 erf approximation
(|ε| ≤ 1.5e-7) evaluated as plain Column arithmetic — identical
formula in the DuckDB oracle, so the engines agree to the rounding
tolerance.  Welch degrees of freedom are reported but the p-value
is the NORMAL approximation (indistinguishable from t at the n
where Spark is the right tool; documented, not hidden).

CUPED (Deng et al. WSDM 2013): ``y_adj = y − θ·(x − mean(x))`` with
``θ = cov(x, y)/var(x)`` from pre-experiment covariate x — the
standard sensitivity boost for online experiments.  One moment pass
computes θ and the covariate mean (per stratum when given); the
adjustment is a row-preserving Column against broadcast literals.
Rows lacking the covariate keep their raw metric (θ·0 adjustment),
preserving the experiment's row count.

Cross-engine: ``__spark_entry__.py`` query ``experiment`` — DuckDB
replica over a deterministic variant assignment on lineitem.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window, functions as F


def _erf(x: Column) -> Column:
    """Abramowitz–Stegun 7.1.26 erf for x >= 0 (|error| <= 1.5e-7)."""
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    poly = (
        F.lit(0.254829592) * t
        - F.lit(0.284496736) * t * t
        + F.lit(1.421413741) * t * t * t
        - F.lit(1.453152027) * t * t * t * t
        + F.lit(1.061405429) * t * t * t * t * t
    )
    return F.lit(1.0) - poly * F.exp(-x * x)


def _p_two_sided(z: Column) -> Column:
    """2·(1 − Φ(|z|)) = erfc(|z|/√2) via the A–S erf."""
    return F.lit(1.0) - _erf(F.abs(z) / F.lit(math.sqrt(2.0)))


def _variant_stats(
    df: DataFrame,
    variant_col: str,
    value_col: str,
    by: list[str],
) -> DataFrame:
    y = F.col(value_col).cast("double")
    return (
        df.where(
            F.col(variant_col).isNotNull() & y.isNotNull()
        )
        .groupBy(*by, F.col(variant_col).alias("_v"))
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.avg(y).alias("_mean"),
            F.var_samp(y).alias("_var"),
        )
    )


def welch_t_test(
    df: DataFrame,
    variant_col: str,
    value_col: str,
    control: str,
    by: list[str] | None = None,
    alpha: float = 0.05,
) -> DataFrame:
    """Per (stratum, treatment variant) vs ``control``: ``(by...,
    variant, n_t, n_c, mean_t, mean_c, diff, se, t_stat, dof,
    p_value, significant)``.

    Welch's unequal-variance form; NULL statistics when either side
    has < 2 observations or both variances are zero.  ``p_value``
    is the two-sided normal approximation (see module docstring).
    """
    if not 0 < alpha < 1:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    g = by or []
    stats = _variant_stats(df, variant_col, value_col, g)
    # control stats attach via a WINDOW over the tiny per-(stratum,
    # variant) stats frame: the previous `stats.where(control) →
    # broadcast-join back onto stats` referenced stats twice, re-running
    # the full input scan + moment aggregate once per reference (guide
    # §2.4).  stats has one control row per stratum at most (grouped by
    # (g, _v)), so max(when(control, x)) copies that row's value
    # exactly; strata with no control row are dropped like the inner
    # join did.  NULL-group parity (round-11 advisor): the old inner
    # join also dropped strata whose group value is NULL (SQL join
    # null-inequality), but Window.partitionBy groups NULLs together —
    # the explicit isNotNull guards below restore join semantics.
    wg = Window.partitionBy(*g) if g else Window.partitionBy()
    is_ctrl = F.col("_v") == control
    keep = (F.col("_v") != control) & (F.col("_has_ctrl") == 1)
    for c in g:
        keep = keep & F.col(c).isNotNull()
    j = stats.select(
        "*",
        F.max(F.when(is_ctrl, F.col("_n"))).over(wg).alias("_nc"),
        F.max(F.when(is_ctrl, F.col("_mean"))).over(wg).alias("_mc"),
        F.max(F.when(is_ctrl, F.col("_var"))).over(wg).alias("_vc"),
        F.max(is_ctrl.cast("int")).over(wg).alias("_has_ctrl"),
    ).where(keep)
    vn_t = F.col("_var") / F.col("_n")
    vn_c = F.col("_vc") / F.col("_nc")
    se2 = vn_t + vn_c
    ok = (
        (F.col("_n") >= 2)
        & (F.col("_nc") >= 2)
        & (se2 > 0)
    )
    diff = F.col("_mean") - F.col("_mc")
    se = F.sqrt(se2)
    t = F.when(ok, diff / se)
    dof = F.when(
        ok,
        se2
        * se2
        / (
            vn_t * vn_t / (F.col("_n") - 1)
            + vn_c * vn_c / (F.col("_nc") - 1)
        ),
    )
    p = F.when(ok, _p_two_sided(diff / se))
    return j.select(
        *g,
        F.col("_v").alias("variant"),
        F.col("_n").cast("long").alias("n_t"),
        F.col("_nc").cast("long").alias("n_c"),
        F.col("_mean").alias("mean_t"),
        F.col("_mc").alias("mean_c"),
        diff.alias("diff"),
        F.when(ok, se).alias("se"),
        t.alias("t_stat"),
        dof.alias("dof"),
        p.alias("p_value"),
        F.when(ok, p < F.lit(float(alpha))).alias("significant"),
    )


def two_proportion_z(
    df: DataFrame,
    variant_col: str,
    success_col: str,
    control: str,
    by: list[str] | None = None,
    alpha: float = 0.05,
) -> DataFrame:
    """Pooled two-proportion z-test of each treatment variant vs
    ``control`` over a boolean/0-1 ``success_col``: ``(by...,
    variant, n_t, n_c, rate_t, rate_c, diff, z_stat, p_value,
    significant)``.  NULL statistics when the pooled rate is 0 or 1
    (zero variance) or either side is empty.
    """
    if not 0 < alpha < 1:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    g = by or []
    y = F.col(success_col).cast("double")
    stats = (
        df.where(F.col(variant_col).isNotNull() & y.isNotNull())
        .groupBy(*g, F.col(variant_col).alias("_v"))
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(y).alias("_s"),
        )
    )
    # same window control-attach as welch_t_test (see comment there),
    # including the NULL-stratum isNotNull guards restoring the old
    # inner join's null-inequality drop semantics
    wg = Window.partitionBy(*g) if g else Window.partitionBy()
    is_ctrl = F.col("_v") == control
    keep = (F.col("_v") != control) & (F.col("_has_ctrl") == 1)
    for c in g:
        keep = keep & F.col(c).isNotNull()
    j = stats.select(
        "*",
        F.max(F.when(is_ctrl, F.col("_n"))).over(wg).alias("_nc"),
        F.max(F.when(is_ctrl, F.col("_s"))).over(wg).alias("_sc"),
        F.max(is_ctrl.cast("int")).over(wg).alias("_has_ctrl"),
    ).where(keep)
    n_t, n_c = F.col("_n"), F.col("_nc")
    p_t = F.col("_s") / n_t
    p_c = F.col("_sc") / n_c
    pool = (F.col("_s") + F.col("_sc")) / (n_t + n_c)
    se2 = pool * (1 - pool) * (1 / n_t + 1 / n_c)
    ok = (n_t > 0) & (n_c > 0) & (se2 > 0)
    z = F.when(ok, (p_t - p_c) / F.sqrt(se2))
    p = F.when(ok, _p_two_sided((p_t - p_c) / F.sqrt(se2)))
    return j.select(
        *g,
        F.col("_v").alias("variant"),
        n_t.cast("long").alias("n_t"),
        n_c.cast("long").alias("n_c"),
        p_t.alias("rate_t"),
        p_c.alias("rate_c"),
        (p_t - p_c).alias("diff"),
        z.alias("z_stat"),
        p.alias("p_value"),
        F.when(ok, p < F.lit(float(alpha))).alias("significant"),
    )


def cuped_adjust(
    df: DataFrame,
    metric_col: str,
    covariate_col: str,
    by: list[str] | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Add ``out_col`` (default ``{metric_col}_cuped``): the CUPED-
    adjusted metric ``y − θ·(x − mean(x))`` with ``θ = cov(x, y)/
    var(x)`` computed over rows where BOTH are present (per stratum
    when ``by`` is given — θ must come from pre-experiment data
    pooled across variants, so ``by`` is the stratum, never the
    variant).  Zero covariate variance ⇒ θ = 0 (no adjustment);
    rows with a NULL covariate keep their raw metric.
    """
    g = by or []
    out = out_col or f"{metric_col}_cuped"
    y = F.col(metric_col).cast("double")
    x = F.col(covariate_col).cast("double")
    both = x.isNotNull() & y.isNotNull()
    stats = df.groupBy(*g).agg(
        F.covar_samp(
            F.when(both, x), F.when(both, y)
        ).alias("_cov"),
        F.var_samp(F.when(both, x)).alias("_varx"),
        F.avg(F.when(both, x)).alias("_mx"),
    )
    theta = F.when(
        F.col("_varx") > 0, F.col("_cov") / F.col("_varx")
    ).otherwise(F.lit(0.0))
    stats = stats.select(
        *g, theta.alias("_theta"), F.col("_mx").alias("_mx")
    )
    j = (
        df.join(F.broadcast(stats), on=g, how="left")
        if g
        else df.crossJoin(F.broadcast(stats))
    )
    adj = F.when(
        x.isNotNull() & F.col("_mx").isNotNull(),
        y - F.col("_theta") * (x - F.col("_mx")),
    ).otherwise(y)
    return j.withColumn(out, adj).drop("_theta", "_mx")
