"""Dataset-shift statistics — PSI / KL between a reference and a new
sample of the same table.

The stream charts (``operators/ewma``/``cusum``/``seasonal``) watch
ONE stream over time; a training-data pipeline also needs the batch
question: "is this week's snapshot distributed like the corpus the
model was tuned on?"  The standard gate is the Population Stability
Index over reference-quantile bins (the credit-scoring PSI; > 0.25 is
the conventional 'shifted' threshold) plus the KL divergence on the
same bins:

    PSI = Σ_b (p_new(b) − p_ref(b)) · ln(p_new(b) / p_ref(b))
    KL  = Σ_b p_new(b) · ln(p_new(b) / p_ref(b))

Binning discipline: cut-points are the REFERENCE's equal-frequency
quantiles (rounded before binning — the ``quantile_bin``
reproducibility rule), so a perfectly stable column lands ~1/B mass
per bin on both sides regardless of its shape.  Zero-count bins get
Laplace-style epsilon mass (both formulas blow up on empty bins; the
epsilon is documented, not hidden).

Spark shape: per column, ONE aggregate over the reference produces
B−1 cut-points (driver-scale); each side then bins with the JVM
strictly-below fold and partial-aggregates to B counts — nothing but
(column, bin) counts ever shuffles, and all requested columns ride
the same two scans via a single exploded (col, bin) frame.

``categorical_stability``: the same PSI/KL over category frequencies
— categories present in the reference keep their identity, everything
else (including NULL-as-its-own-category) folds into ``__other__`` so
new unseen categories register as shift instead of crashing the
alignment.

Cross-engine: ``__spark_entry__.py`` query ``psi`` — DuckDB replica of
cut-points, binning, smoothing, and both statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _bin_counts(
    df: DataFrame, cols: list[str], cuts: dict[str, list[float]]
) -> DataFrame:
    """(col, bin, n) for every requested column in one scan: each row
    explodes to |cols| (col, bin) pairs via the strictly-below fold
    against that column's broadcast cut-point literal."""
    entries = []
    for c in cols:
        arr = F.array(*[F.lit(v) for v in cuts[c]])
        x = F.col(c).cast("double")
        b = F.when(
            x.isNotNull(),
            F.aggregate(
                arr,
                F.lit(0),
                lambda acc, cv: acc
                + F.when(x > cv, F.lit(1)).otherwise(F.lit(0)),
            ),
        )
        entries.append(
            F.struct(F.lit(c).alias("col"), b.alias("bin"))
        )
    return (
        df.select(F.explode(F.array(*entries)).alias("_e"))
        .select(F.col("_e.col").alias("col"), F.col("_e.bin").alias("bin"))
        .where(F.col("bin").isNotNull())
        .groupBy("col", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def population_stability(
    ref: DataFrame,
    new: DataFrame,
    cols: list[str],
    n_bins: int = 10,
    eps: float = 1e-4,
    round_digits: int = 6,
    approx: bool = False,
) -> DataFrame:
    """(col, psi, kl, n_ref, n_new) per numeric column — PSI/KL of
    ``new`` against ``ref`` over the reference's ``n_bins``
    equal-frequency bins.  NULL values are excluded from both sides
    (compare NULL RATES separately if they matter — a rate is one
    number, not a distribution).

    ``approx=True`` fits the cut-points with ``percentile_approx``
    (a partial-aggregatable sketch) instead of the exact
    ``percentile`` — the quantile_bin trade: the exact aggregate
    BUFFERS the reference's values through the exchange (measured
    ~51 MB shuffle at 10 M rows × 3 cols vs ~4.6 MB approx — the
    sketch state), which becomes the scan itself at 100 TB.  PSI is a binned heuristic; sketch
    cut-points shift bin EDGES slightly, not the statistic's
    meaning."""
    if not cols:
        raise ValueError("cols must be non-empty")
    if len(set(cols)) != len(cols):
        raise ValueError(f"cols must be distinct, got {cols}")
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    if eps <= 0:
        raise ValueError(f"eps must be > 0, got {eps}")
    probs = [i / n_bins for i in range(1, n_bins)]
    parr = F.array(*[F.lit(p) for p in probs])

    def cut_agg(c):
        x = F.col(c).cast("double")
        q = (
            F.percentile_approx(x, parr, 10_000)
            if approx
            else F.percentile(x, parr)
        )
        return F.transform(q, lambda v: F.round(v, round_digits)).alias(c)

    cut_row = ref.agg(*[cut_agg(c) for c in cols]).collect()[0]
    cuts = {c: [float(v) for v in (cut_row[c] or [])] for c in cols}

    spark = ref.sparkSession
    rc = _bin_counts(ref, cols, cuts).select(
        "col", "bin", F.col("n").alias("n_ref")
    )
    nc = _bin_counts(new, cols, cuts).select(
        "col", "bin", F.col("n").alias("n_new")
    )
    # full (col × bin) grid so zero-count bins exist on BOTH sides —
    # the shared literal-relation helper (LocalRelation-style, no
    # Python->JVM RDD scan; cols × n_bins is a handful of constants)
    from qualityassurancetool_spark.functions.literals import (
        literal_rows_df,
    )

    grid = literal_rows_df(
        spark,
        [(c, b) for c in cols for b in range(n_bins)],
        "col string, bin int",
    )
    j = (
        grid.join(rc, ["col", "bin"], "left")
        .join(nc, ["col", "bin"], "left")
        .fillna(0, ["n_ref", "n_new"])
    )
    # per-col totals as WINDOW sums over j — j is (cols × n_bins) rows
    # by construction, so the window is driver-scale; the previous
    # `j.groupBy(col) → broadcast-join back to j` referenced j twice,
    # which re-ran the whole rc/nc subtree (both full input scans +
    # explodes) once under the broadcast and once on the probe side
    # (guide §2.4: remove duplicated work feeding a shuffle).  Long
    # sums are exact, so t_ref/t_new are bit-identical to the join
    # formulation.
    wcol = Window.partitionBy("col")
    j = j.select(
        "col",
        "bin",
        "n_ref",
        "n_new",
        F.sum("n_ref").over(wcol).alias("t_ref"),
        F.sum("n_new").over(wcol).alias("t_new"),
    )
    e = F.lit(float(eps))
    p_ref = F.greatest(F.col("n_ref") / F.col("t_ref"), e)
    p_new = F.greatest(F.col("n_new") / F.col("t_new"), e)
    terms = j.select(
        "col",
        "n_ref",
        "n_new",
        ((p_new - p_ref) * F.log(p_new / p_ref)).alias("_psi"),
        (p_new * F.log(p_new / p_ref)).alias("_kl"),
    )
    return terms.groupBy("col").agg(
        F.sum("_psi").alias("psi"),
        F.sum("_kl").alias("kl"),
        F.sum("n_ref").cast("long").alias("n_ref"),
        F.sum("n_new").cast("long").alias("n_new"),
    )


def categorical_stability(
    ref: DataFrame,
    new: DataFrame,
    col: str,
    max_categories: int = 100,
    eps: float = 1e-4,
) -> DataFrame:
    """(category, p_ref, p_new, psi_term, kl_term) + the (col-level)
    totals as one summary row (category = NULL): PSI and KL over
    category frequencies.  The reference's ``max_categories`` most
    frequent values keep their identity (count desc, value asc
    tie-break); everything else — unseen categories, the long tail,
    NULL — folds into ``__other__``.

    Sentinel collision: a REAL category literally named ``__other__``
    or ``__null__`` would silently merge with the fold/NULL buckets —
    the guard below raises instead of conflating them (rename such
    values upstream, or pre-bucket the column yourself)."""
    if max_categories < 1:
        raise ValueError(
            f"max_categories must be >= 1, got {max_categories}"
        )
    if eps <= 0:
        raise ValueError(f"eps must be > 0, got {eps}")
    c = F.coalesce(F.col(col).cast("string"), F.lit("__null__"))
    # ONE job for the sentinel-collision guard (two separate
    # limit(1).count() actions cost two extra full-scan jobs)
    sentinel_pred = F.col(col).cast("string").isin(
        "__other__", "__null__"
    )
    n_sentinel = (
        ref.select(F.col(col))
        .where(sentinel_pred)
        .unionAll(new.select(F.col(col)).where(sentinel_pred))
        .limit(1)
        .count()
    )
    if n_sentinel:
        raise ValueError(
            f"column {col!r} contains a literal '__other__'/'__null__' "
            "category, which would merge with the fold/NULL sentinel "
            "buckets — rename those values upstream"
        )
    top = [
        r["v"]
        for r in (
            ref.groupBy(c.alias("v"))
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("v").asc())
            .limit(max_categories)
            .collect()
        )
    ]
    keep = F.when(c.isin(top), c).otherwise(F.lit("__other__"))

    def freq(df, name):
        return df.groupBy(keep.alias("category")).agg(
            F.count(F.lit(1)).alias(name)
        )

    spark = ref.sparkSession
    from qualityassurancetool_spark.functions.literals import (
        literal_rows_df,
    )

    cats = literal_rows_df(
        spark,
        [(v,) for v in sorted(set(top) | {"__other__"})],
        "category string",
    )
    j = (
        cats.join(freq(ref, "n_ref"), "category", "left")
        .join(freq(new, "n_new"), "category", "left")
        .fillna(0, ["n_ref", "n_new"])
    )
    # totals (and the summary row's sums) as WINDOW aggregates over the
    # ≤ max_categories+1-row frame: the previous `j.agg → crossJoin(j)`
    # and `per_cat.agg → union(per_cat)` each referenced their child
    # twice, re-running BOTH freq scans once per reference (4 full
    # input scans per call).  One window pass over the tiny aligned
    # frame leaves exactly two scans — the minimum two frequency
    # passes (guide §2.4).
    wall = Window.partitionBy()
    e = F.lit(float(eps))
    jj = j.select(
        "category",
        "n_ref",
        "n_new",
        F.sum("n_ref").over(wall).alias("t_ref"),
        F.sum("n_new").over(wall).alias("t_new"),
    )
    p_ref = F.greatest(F.col("n_ref") / F.col("t_ref"), e)
    p_new = F.greatest(F.col("n_new") / F.col("t_new"), e)
    per_cat = jj.select(
        "category",
        p_ref.alias("p_ref"),
        p_new.alias("p_new"),
        ((p_new - p_ref) * F.log(p_new / p_ref)).alias("psi_term"),
        (p_new * F.log(p_new / p_ref)).alias("kl_term"),
    )
    # the (category = NULL) summary row is generated by the SAME pass:
    # every row carries the window sums; the first row (stable
    # category order) additionally emits the summary struct via one
    # explode — no second evaluation of the per-category tree
    annotated = per_cat.select(
        "category",
        "p_ref",
        "p_new",
        "psi_term",
        "kl_term",
        F.sum("psi_term").over(wall).alias("_tpsi"),
        F.sum("kl_term").over(wall).alias("_tkl"),
        F.row_number()
        .over(Window.partitionBy().orderBy("category"))
        .alias("_rn"),
    )
    self_row = F.struct(
        F.col("category").alias("category"),
        F.col("p_ref").alias("p_ref"),
        F.col("p_new").alias("p_new"),
        F.col("psi_term").alias("psi_term"),
        F.col("kl_term").alias("kl_term"),
    )
    total_row = F.struct(
        F.lit(None).cast("string").alias("category"),
        F.lit(None).cast("double").alias("p_ref"),
        F.lit(None).cast("double").alias("p_new"),
        F.col("_tpsi").alias("psi_term"),
        F.col("_tkl").alias("kl_term"),
    )
    rows = F.when(
        F.col("_rn") == 1, F.array(self_row, total_row)
    ).otherwise(F.array(self_row))
    return annotated.select(F.explode(rows).alias("_r")).select("_r.*")
