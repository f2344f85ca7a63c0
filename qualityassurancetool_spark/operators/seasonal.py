"""Seasonal-profile z-score — anomaly vs the stream's own diurnal /
weekly cycle.

A global z-score flags every rush-hour peak of a cyclic signal; the
standard fix is to score each point against the baseline of its OWN
phase cell (hour-of-day, day-of-week, …): flag when
``|x − μ_cell| > nσ_cell``.  This is the learned-baseline per-point
companion to the drift charts (``operators/ewma``/``cusum``): those
catch shifts over time, this catches points abnormal FOR THE TIME.

Spark shape: the profile is one partial aggregate to a
(groups × period-cells)-sized frame — 24/7/168 rows per stream,
driver-scale metadata — broadcast back onto the rows (null-safe group
keys, the ``quantile_bin`` discipline).  The data is never shuffled;
everything row-side is Column arithmetic.

``loo=True`` excludes the row's own value from its cell baseline via
sufficient statistics (n, Σx, Σx²): the standard leakage guard when
the profile is fit on the same batch being scored (a lone extreme
point would otherwise drag its own cell mean toward itself).  For
production, fit the profile on history (:func:`seasonal_profile`) and
pass it as ``baseline``.

Null discipline: NULL value or NULL timestamp → NULL flag; cells with
fewer than ``min_samples`` values → NULL flag (no baseline).  The
flag test carries the same scale-relative epsilon as the EWMA chart
(FP residue of an averaged constant cell must not flag).

Cross-engine: ``__spark_entry__.py`` query ``seasonal`` — DuckDB replica
of profile + scoring over the events stream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_PERIODS = {
    # key expression over a timestamp column
    "hour_of_day": lambda ts: F.hour(ts),
    "day_of_week": lambda ts: F.dayofweek(ts),
    "hour_of_week": lambda ts: (F.dayofweek(ts) - 1) * 24 + F.hour(ts),
    "month": lambda ts: F.month(ts),
}


def _cell(ts_col: str, period: str) -> Column:
    if period not in _PERIODS:
        raise ValueError(
            f"period must be one of {sorted(_PERIODS)}, got {period!r}"
        )
    return _PERIODS[period](F.col(ts_col)).cast("int")


def seasonal_profile(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    group_cols: list[str] | None = None,
    period: str = "hour_of_day",
) -> DataFrame:
    """(group_cols…, cell, n, sum_x, sum_x2, period) — the sufficient
    statistics of each phase cell.  Fit it on history and feed
    :func:`seasonal_zscore` as ``baseline`` for out-of-sample
    scoring.  The constant ``period`` column stamps WHICH phase
    function the cells were keyed by: a stored profile scored under a
    different period silently hits wrong cells (hour_of_day's 0-23 all
    exist inside hour_of_week's 0-167), so scorers validate the stamp
    when present (review finding, round 10)."""
    g = group_cols or []
    x = F.col(value_col).cast("double")
    return (
        df.where(F.col(ts_col).isNotNull())
        .groupBy(*g, _cell(ts_col, period).alias("cell"))
        .agg(
            F.count(x).alias("n"),
            F.sum(x).alias("sum_x"),
            F.sum(x * x).alias("sum_x2"),
        )
        .withColumn("period", F.lit(period))
    )


def check_profile_period(baseline: DataFrame, period: str) -> None:
    """Raise when a profile frame's ``period`` stamp contradicts the
    requested period; profiles without the stamp (pre-round-10 parquet)
    pass unvalidated."""
    if "period" not in baseline.columns:
        return
    stamped = [
        r[0]
        for r in baseline.select("period").distinct().limit(2).collect()
    ]
    if stamped and stamped != [period]:
        raise ValueError(
            f"profile was fit with period={stamped[0]!r} but scoring "
            f"requested period={period!r} — phase cells would not "
            "correspond"
        )


def seasonal_profile_refresh(
    spark,
    store: str,
    fit_profile,
    period: str = "hour_of_day",
    refit_every: int | None = None,
    refit_drift: float | None = None,
    min_samples: int = 5,
):
    """Profile LIFECYCLE for a cron-driven monitor (round-11): load the
    stored seasonal profile from ``store``, re-fitting it on a
    documented cadence so a months-running monitor never scores against
    a stale baseline.  Returns ``(profile_df, info)`` where ``info``
    describes what happened this tick (``{"tick", "fitted_tick",
    "action": "bootstrap" | "refit" | "kept" | "kept_stable"}``).

    ``fit_profile`` is a zero-arg callable returning a FRESH
    :func:`seasonal_profile` frame (the caller closes over its history
    source) — it is only invoked when the cadence says so, so steady
    ticks pay zero history scans.  Cadence:

    - ``refit_every=N``: invoke ``fit_profile`` every N ticks (each
      monitor invocation = one tick, persisted in the store's meta).
      Defaults to 1 — a store must never silently freeze into an
      ever-staler baseline; freezing on purpose is a static profile
      without a store.
    - ``refit_drift=t``: when ALSO set, the candidate is adopted only
      if it actually moved — max over cells (with ``n >= min_samples``
      on both sides) of ``|mu_new − mu_old| / sigma_old`` ≥ ``t``, or
      it carries a well-sampled (group, cell) the stored profile has
      never seen (a NEW stream must enter the live profile on its
      first due check, not stay unmonitored) — otherwise the stored
      profile is kept (``kept_stable``) and the check re-arms
      ``refit_every`` ticks later.  The gate buys baseline STABILITY:
      a quiet week must not nudge the profile the incident thresholds
      are scored against.

    Store layout: ``<store>/profile_v=<tick>`` parquet versions plus a
    ``profile_meta.json`` pointer — the pointer write is the commit
    (the ``plans/incremental`` LAST_COMMITTED discipline), so a crash
    mid-refit leaves the previous version live and the retried tick
    re-fits idempotently; superseded versions are pruned after the
    pointer lands.  The ``period`` stamp rides the stored parquet and
    is re-validated on every load."""
    import json as _json
    import posixpath as _pp

    from qualityassurancetool_spark.functions.fs import (
        delete_path,
        list_subdirs,
        path_exists,
        read_text,
        rename_overwrite,
        write_text,
    )

    if refit_every is not None and int(refit_every) < 1:
        raise ValueError(f"refit_every must be >= 1, got {refit_every}")
    if refit_drift is not None and float(refit_drift) <= 0:
        raise ValueError(f"refit_drift must be > 0, got {refit_drift}")
    # no cadence knob -> refit every tick: a store must never DEFAULT
    # to a frozen, ever-staler baseline (freezing on purpose is a
    # static profile= without a store)
    every = int(refit_every) if refit_every is not None else 1
    meta_path = _pp.join(store, "profile_meta.json")
    meta = (
        _json.loads(read_text(spark, meta_path))
        if path_exists(spark, meta_path)
        else None
    )
    tick = (int(meta["tick"]) if meta else 0) + 1

    def _commit(df, action, checked_tick, fitted_tick, live):
        new_meta = {
            "tick": tick,
            "fitted_tick": fitted_tick,
            "checked_tick": checked_tick,
            "period": period,
            "live": live,
        }
        # the pointer write IS the commit and runs on EVERY tick (the
        # tick counter advances), so it must be atomic: write a temp
        # sibling, then rename over — a plain truncating write leaves
        # an empty/partial meta if the cron process dies mid-write,
        # bricking every later tick on JSONDecodeError
        write_text(spark, meta_path + ".tmp", _json.dumps(new_meta))
        rename_overwrite(spark, meta_path + ".tmp", meta_path)
        # prune versions the pointer no longer references (post-commit:
        # a crash before this leaves harmless extra dirs, re-pruned
        # next tick)
        for d in list_subdirs(spark, store, prefix="profile_v="):
            if d != live:
                delete_path(spark, _pp.join(store, d))
        return df, {
            "tick": tick,
            "fitted_tick": fitted_tick,
            "action": action,
        }

    def _fit_and_write():
        cand = fit_profile()
        if "period" in cand.columns:
            check_profile_period(cand, period)
        live = f"profile_v={tick}"
        cand.write.mode("overwrite").parquet(_pp.join(store, live))
        return live

    if meta is None or not path_exists(
        spark, _pp.join(store, str(meta.get("live", "")))
    ):
        live = _fit_and_write()
        df = spark.read.parquet(_pp.join(store, live))
        return _commit(df, "bootstrap", tick, tick, live)

    if str(meta.get("period")) != period:
        raise ValueError(
            f"profile store {store!r} was fit with "
            f"period={meta.get('period')!r} but this monitor requested "
            f"period={period!r} — point the monitor at its own store "
            "or delete the store to re-bootstrap"
        )
    stored = spark.read.parquet(_pp.join(store, str(meta["live"])))
    check_profile_period(stored, period)
    due = every is not None and tick - int(meta["checked_tick"]) >= every
    if not due:
        return _commit(
            stored, "kept", int(meta["checked_tick"]),
            int(meta["fitted_tick"]), str(meta["live"]),
        )
    if refit_drift is None:
        live = _fit_and_write()
        df = spark.read.parquet(_pp.join(store, live))
        return _commit(df, "refit", tick, tick, live)
    # drift gate: adopt the candidate when (a) some well-sampled cell's
    # mean moved >= refit_drift old-sigmas, or (b) it carries a
    # well-sampled (group, cell) the stored profile has never seen — a
    # new stream/group must enter the live profile on its first due
    # check, not be dropped by the comparison join and stay unmonitored
    # forever.  Bounded: both frames are groups x <=168 cells of
    # sufficient stats.
    cand = fit_profile()
    if "period" in cand.columns:
        check_profile_period(cand, period)
    ms = int(min_samples)
    o = stored.select(
        *[c for c in stored.columns if c not in ("n", "sum_x", "sum_x2",
                                                 "period")],
        F.col("n").alias("__o_n"),
        F.col("sum_x").alias("__o_s1"),
        F.col("sum_x2").alias("__o_s2"),
    )
    key = [c for c in cand.columns if c not in ("n", "sum_x", "sum_x2",
                                                "period")]
    j = cand.join(o, on=key, how="inner").where(
        (F.col("n") >= ms) & (F.col("__o_n") >= ms)
    )
    mu_new = F.col("sum_x") / F.col("n")
    mu_old = F.col("__o_s1") / F.col("__o_n")
    var_old = F.greatest(
        (F.col("__o_s2") - F.col("__o_s1") * F.col("__o_s1")
         / F.col("__o_n")) / (F.col("__o_n") - 1),
        F.lit(0.0),
    )
    # constant old cell (sigma 0): any movement is an infinite shift,
    # no movement is zero — never 0/0 (Spark sorts NaN greatest, so one
    # NaN cell would poison the max and silently disarm the gate)
    sig_old = F.sqrt(var_old)
    shift = F.when(
        sig_old > 0, F.abs(mu_new - mu_old) / sig_old
    ).otherwise(
        F.when(
            F.abs(mu_new - mu_old) > 0, F.lit(float("inf"))
        ).otherwise(F.lit(0.0))
    )
    row = j.where(F.col("__o_n") >= 2).agg(
        F.max(shift).alias("max_shift")
    ).collect()[0]
    max_shift = float(row["max_shift"]) if row["max_shift"] is not None \
        else 0.0
    n_new_cells = (
        cand.where(F.col("n") >= ms)
        .join(o.select(*key), on=key, how="left_anti")
        .count()
    )
    if n_new_cells > 0 or max_shift >= float(refit_drift):
        live = f"profile_v={tick}"
        cand.write.mode("overwrite").parquet(_pp.join(store, live))
        df = spark.read.parquet(_pp.join(store, live))
        return _commit(df, "refit", tick, tick, live)
    return _commit(
        stored, "kept_stable", tick, int(meta["fitted_tick"]),
        str(meta["live"]),
    )


def seasonal_zscore(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    group_cols: list[str] | None = None,
    period: str = "hour_of_day",
    nsigma: float = 3.0,
    min_samples: int = 5,
    loo: bool = False,
    baseline: DataFrame | None = None,
    rel_eps: float = 1e-9,
) -> DataFrame:
    """Add ``seasonal_mu``, ``seasonal_sigma``, ``seasonal_dev`` and
    boolean ``seasonal_flag`` (``|x − μ_cell| > nsigma·σ_cell + eps``)
    per (group, period-cell).

    ``baseline``: a :func:`seasonal_profile` frame (typically fit on
    history); default fits on ``df`` itself.  ``loo`` removes the
    row's own value from its cell statistics (only meaningful when
    the baseline covers the scored rows).
    """
    if nsigma <= 0:
        raise ValueError(f"nsigma must be > 0, got {nsigma}")
    if min_samples < 2:
        raise ValueError(
            f"min_samples must be >= 2, got {min_samples}"
        )
    g = group_cols or []
    x = F.col(value_col).cast("double")
    if baseline is not None:
        check_profile_period(baseline, period)
    prof = (
        baseline
        if baseline is not None
        else seasonal_profile(df, value_col, ts_col, g, period)
    )
    from qualityassurancetool_spark.functions.partitioning import (
        broadcast_join_nullsafe,
    )

    pref = prof.select(
        *g,
        "cell",
        F.col("n").alias("__se_n"),
        F.col("sum_x").alias("__se_s1"),
        F.col("sum_x2").alias("__se_s2"),
    )
    joined = broadcast_join_nullsafe(
        df, pref, g, extra_keys=[(_cell(ts_col, period), "cell")]
    )

    n = F.col("__se_n")
    s1, s2 = F.col("__se_s1"), F.col("__se_s2")
    if loo:
        # exclude the row's own value where it is part of the cell
        in_cell = x.isNotNull()
        n = F.when(in_cell, n - 1).otherwise(n)
        s1 = F.when(in_cell, s1 - x).otherwise(s1)
        s2 = F.when(in_cell, s2 - x * x).otherwise(s2)
    mu = F.when(n > 0, s1 / n)
    # sample variance from sufficient stats, floored at 0 (FP)
    var = F.when(
        n >= 2, F.greatest((s2 - s1 * s1 / n) / (n - 1), F.lit(0.0))
    )
    sigma = F.sqrt(var)
    dev = x - mu
    eps = F.lit(float(rel_eps)) * F.greatest(F.abs(x), F.abs(mu))
    flag = F.when(
        x.isNotNull()
        & F.col(ts_col).isNotNull()
        & mu.isNotNull()
        & sigma.isNotNull()
        & (n >= min_samples),
        F.abs(dev) > F.lit(float(nsigma)) * sigma + eps,
    )
    drop = ["__se_n", "__se_s1", "__se_s2"]
    return (
        joined.withColumn("seasonal_mu", mu)
        .withColumn("seasonal_sigma", sigma)
        .withColumn("seasonal_dev", dev)
        .withColumn("seasonal_flag", flag)
        .drop(*drop)
    )
