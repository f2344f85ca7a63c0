"""Grouped ordinary-least-squares, multi-feature ridge regression,
and correlation — closed-form moment aggregation, one shuffle, no
iteration.

``grouped_ols`` fits y = a·x + b per group from the five sufficient
moments (n, Σx, Σy, Σxy, Σx²) in a SINGLE partial-aggregated pass —
the textbook closed form, which is also exactly how a 100 TB fit
must run: the moments combine associatively (map-side combine does
most of the work), the shuffle carries five doubles per group, and
no row is visited twice.  Trend-per-entity at corpus scale (drift of
a quality score over time per domain, throughput slope per stream)
is this shape.

``fit_linear_model`` generalizes the same closed form to d features
(+ optional L2): ONE map-side-combined pass accumulates the
augmented normal-equation moments — n, Σx_i, Σy, Σx_i·y, Σx_i·x_j
for i ≤ j, Σy² — i.e. (d+2)(d+3)/2 doubles of shuffle total — and
the (d+1)×(d+1) solve happens on the DRIVER (model metadata, the
same convention as the logreg trainer's weights).  Unlike the
iterated-GD logreg this is exact in one pass; it is the right tool
whenever the loss is squared error.  R² falls out of the same
moments (SSE = Σy² − 2βᵀXᵀy + βᵀXᵀXβ), so no second scan.

``correlation_pairs`` computes the Pearson matrix over any set of
numeric columns in the same one-pass style: per pair, the co-moment
aggregation (the pair list is columns², driver-side metadata — the
DATA pass is still single).

Null discipline: a row enters a fit/pair only if BOTH of its values
are non-null (pairwise deletion, matching SQL's ``regr_*``/``corr``
aggregates, which the cross-engine oracle uses directly).

Cross-engine: ``tools/extra_oracles.py::x_ols`` — DuckDB
``regr_slope/regr_intercept/regr_r2/corr`` replica — and the
``linreg`` query in ``__spark_entry__.py`` — the d=2 normal
equations solved by Cramer's rule in SQL, coefficients matching to
6 dp.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _ols_cols(x: Column, y: Column) -> dict[str, Column]:
    both = x.isNotNull() & y.isNotNull()
    xs = F.when(both, x)
    ys = F.when(both, y)
    return {
        "n": F.count(xs),
        "sx": F.sum(xs),
        "sy": F.sum(ys),
        "sxy": F.sum(xs * ys),
        "sxx": F.sum(xs * xs),
        "syy": F.sum(ys * ys),
    }


def grouped_ols(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: list[str] | None = None,
    min_points: int = 2,
) -> DataFrame:
    """Per-group OLS fit of ``y = slope·x + intercept``:
    ``(group..., n, slope, intercept, r2)``.

    Groups with fewer than ``min_points`` complete (x, y) pairs, or
    with zero x-variance, yield NULL slope/intercept/r2 (degenerate
    fit), matching SQL ``regr_*`` semantics.
    """
    if min_points < 2:
        raise ValueError(f"min_points must be >= 2, got {min_points}")
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    m = _ols_cols(x, y)
    agg = df.groupBy(*(group_cols or [])).agg(
        m["n"].alias("_n"),
        m["sx"].alias("_sx"),
        m["sy"].alias("_sy"),
        m["sxy"].alias("_sxy"),
        m["sxx"].alias("_sxx"),
        m["syy"].alias("_syy"),
    )
    n = F.col("_n")
    # co-moments around the mean (numerically the standard two-pass
    # identity; fine at double precision for analytics use)
    ssxx = F.col("_sxx") - F.col("_sx") * F.col("_sx") / n
    ssyy = F.col("_syy") - F.col("_sy") * F.col("_sy") / n
    ssxy = F.col("_sxy") - F.col("_sx") * F.col("_sy") / n
    ok = (n >= min_points) & (ssxx > 0)
    slope = F.when(ok, ssxy / ssxx)
    intercept = F.when(
        ok, (F.col("_sy") - slope * F.col("_sx")) / n
    )
    # r² = ssxy² / (ssxx·ssyy); constant-y fits give NULL (0/0), the
    # regr_r2 convention for zero y-variance is 1.0 when the fit is
    # exact — follow SQL: ssyy = 0 => r2 = 1
    r2 = F.when(ok & (ssyy > 0), ssxy * ssxy / (ssxx * ssyy)).when(
        ok & (ssyy <= 0), F.lit(1.0)
    )
    return agg.select(
        *(group_cols or []),
        n.cast("long").alias("n"),
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )


def fit_linear_model(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    l2: float = 0.0,
) -> dict:
    """Exact multi-feature linear regression (ridge when ``l2>0``)
    via one-pass normal-equation moments; returns ``{"weights":
    [...], "bias": float, "n": int, "r2": float | None,
    "feature_cols": [...]}``.

    Minimizes ``‖Xβ − y‖² + l2·‖w‖²`` (bias unpenalized, the
    standard convention; ``l2`` is absolute, not per-row).  Rows
    with any NULL feature or label are dropped.  Exactly collinear
    features with ``l2=0`` raise — add a ridge term or drop the
    redundant column.  ``r2`` is in-sample, NULL for constant y.
    """
    if not feature_cols:
        raise ValueError("feature_cols must be non-empty")
    if len(set(feature_cols)) != len(feature_cols):
        raise ValueError(f"duplicate features: {feature_cols}")
    if l2 < 0:
        raise ValueError(f"l2 must be >= 0, got {l2}")
    import numpy as np

    d = len(feature_cols)
    xs = [F.col(c).cast("double") for c in feature_cols]
    y = F.col(label_col).cast("double")
    cond = y.isNotNull()
    for x in xs:
        cond = cond & x.isNotNull()
    aggs = [F.count(F.lit(1)).alias("_n"), F.sum(y).alias("_sy"),
            F.sum(y * y).alias("_syy")]
    for i, x in enumerate(xs):
        aggs.append(F.sum(x).alias(f"_s{i}"))
        aggs.append(F.sum(x * y).alias(f"_s{i}y"))
        for j in range(i, d):
            aggs.append(F.sum(x * xs[j]).alias(f"_s{i}_{j}"))
    row = df.where(cond).agg(*aggs).collect()[0]
    n = int(row["_n"])
    if n == 0:
        raise ValueError("no complete rows to fit on")
    # augmented system over [1, x_0..x_{d-1}]
    A = np.zeros((d + 1, d + 1))
    r = np.zeros(d + 1)
    A[0, 0] = n
    r[0] = row["_sy"]
    for i in range(d):
        A[0, i + 1] = A[i + 1, 0] = row[f"_s{i}"]
        r[i + 1] = row[f"_s{i}y"]
        for j in range(i, d):
            A[i + 1, j + 1] = A[j + 1, i + 1] = row[f"_s{i}_{j}"]
        A[i + 1, i + 1] += l2
    try:
        beta = np.linalg.solve(A, r)
    except np.linalg.LinAlgError as e:
        raise ValueError(
            "singular normal equations (collinear features?); "
            "set l2 > 0 or drop a redundant column"
        ) from e
    syy, sy = float(row["_syy"]), float(row["_sy"])
    sse = syy - 2.0 * float(beta @ r) + float(beta @ A @ beta)
    if l2 > 0:  # A carries the penalty; SSE should not
        sse -= l2 * float(beta[1:] @ beta[1:])
    sst = syy - sy * sy / n
    r2 = 1.0 - sse / sst if sst > 0 else None
    return {
        "weights": [float(b) for b in beta[1:]],
        "bias": float(beta[0]),
        "n": n,
        "r2": r2,
        "feature_cols": list(feature_cols),
    }


def apply_linear_model(
    df: DataFrame, model: dict, prediction_col: str = "prediction"
) -> DataFrame:
    """Add ``w·x + b`` as ``prediction_col`` — pure Column
    arithmetic against the literal coefficients, no join, no UDF."""
    z = F.lit(float(model["bias"]))
    for c, wj in zip(model["feature_cols"], model["weights"]):
        z = z + F.col(c).cast("double") * F.lit(float(wj))
    return df.withColumn(prediction_col, z)


def correlation_pairs(
    df: DataFrame,
    cols: list[str],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Pearson correlation for every unordered column pair:
    ``(group..., col_a, col_b, n, corr)`` — one data pass, pairwise
    null deletion per pair, NULL corr when either side is constant
    or fewer than 2 complete pairs survive.
    """
    if len(cols) < 2:
        raise ValueError("need at least two columns")
    if len(set(cols)) != len(cols):
        raise ValueError(f"columns must be distinct, got {cols}")
    pairs = [
        (a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]
    ]
    aggs = []
    for a, b in pairs:
        m = _ols_cols(
            F.col(a).cast("double"), F.col(b).cast("double")
        )
        for k, c in m.items():
            aggs.append(c.alias(f"_{k}_{a}_{b}"))
    agg = df.groupBy(*(group_cols or [])).agg(*aggs)
    rows = []
    for a, b in pairs:
        n = F.col(f"_n_{a}_{b}")
        sx, sy = F.col(f"_sx_{a}_{b}"), F.col(f"_sy_{a}_{b}")
        sxy = F.col(f"_sxy_{a}_{b}")
        sxx, syy = F.col(f"_sxx_{a}_{b}"), F.col(f"_syy_{a}_{b}")
        ssxx = sxx - sx * sx / n
        ssyy = syy - sy * sy / n
        ssxy = sxy - sx * sy / n
        ok = (n >= 2) & (ssxx > 0) & (ssyy > 0)
        rows.append(
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                n.cast("long").alias("n"),
                F.when(ok, ssxy / F.sqrt(ssxx * ssyy)).alias(
                    "corr"
                ),
            )
        )
    return agg.select(
        *(group_cols or []),
        F.explode(F.array(*rows)).alias("_p"),
    ).select(
        *(group_cols or []),
        "_p.col_a",
        "_p.col_b",
        "_p.n",
        "_p.corr",
    )
