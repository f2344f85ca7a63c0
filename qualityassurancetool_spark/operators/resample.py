"""Time-series resampling: fixed-frequency grid + gap interpolation.

The missing half of the reference's reshaping surface: ``pivot_export``
aligns existing observations and ``downsample_transfer`` thins them
(reference ``src/aums_data_request.py`` best-per-second export), but
nothing UPSAMPLES — regularizing irregular sensor streams onto a fixed
grid (the input shape models, rollups and cross-stream joins want).
This operator fills the seam: per stream, generate the tick grid
spanning the stream's observed range and value each tick from its
neighbors.

Methods (per tick ``t`` with previous observation ``(pt, pv)`` and
next ``(nt, nv)``):

- ``linear`` — ``pv + (nv−pv)·(t−pt)/(nt−pt)``; exact hits return the
  observed value; ticks before the first / after the last observation
  are NULL (no extrapolation).
- ``ffill`` — ``pv``; NULL before the first observation.
- ``nearest`` — the closer of ``pv``/``nv`` (ties toward the earlier
  observation, matching the as-of join's tie discipline).

Spark shape, all declarative, ONE input scan and ONE window pass:
duplicate timestamps pre-aggregate to a single row per (stream,
epoch) carrying both neighbor picks and the duplicate count; grid
ticks generate per inter-observation interval from a lag over that
deduplicated stream (so a long stream's grid is spread across its
rows, never one giant sequence); tick and observation rows emerge
from one generate, and the ordered windows per stream compute
last/next-non-null value+timestamp (``last(..., ignorenulls)`` over
running frames).  Scale: the window partitions by stream — the same
low-cardinality consideration as the QC chain (``window_strategy``
discussion in docs/SCALE.md) applies when streams ≪ cores.

Cross-engine: ``__spark_entry__.py`` query ``resample`` replicates grid
generation, neighbor windows and the interpolation arithmetic in
DuckDB (values at 6 dp).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_METHODS = ("linear", "ffill", "nearest")


def resample_interpolate(
    df: DataFrame,
    id_col: str = "datastream_id",
    ts_col: str = "phenomenon_time",
    value_col: str = "result",
    freq_seconds: int = 60,
    method: str = "linear",
) -> DataFrame:
    """Fixed-frequency per-stream grid ``(id_col, grid_ts, value,
    n_src)`` — ``value`` per the chosen method, ``n_src`` the count of
    source observations landing EXACTLY on that tick (0 for filled
    ticks; >1 flags duplicate timestamps — no averaging: among
    exact-duplicate timestamps the LARGEST value wins, a
    deterministic, engine-portable choice)."""
    if method not in _METHODS:
        raise ValueError(f"method must be one of {_METHODS}, got {method}")
    if freq_seconds < 1:
        raise ValueError(f"freq_seconds must be >= 1, got {freq_seconds}")
    step = F.lit(freq_seconds)
    obs = df.select(
        F.col(id_col).alias("_id"),
        F.col(ts_col).cast("timestamp").alias("_ts"),
        F.col(value_col).cast("double").alias("_v"),
    ).where(F.col("_ts").isNotNull())
    # ONE input scan (was three: span agg, union branch, duplicate-count
    # agg — guide §2.4).  Duplicate-timestamp rows pre-aggregate to one
    # row per (stream, epoch) carrying BOTH neighbor picks: the forward
    # window's order (_v asc, last wins) picked the LARGEST non-null
    # duplicate, the reversed window's order (_v desc, last wins) the
    # SMALLEST — max/min reproduce exactly that, and n_src rides along
    # instead of a third scan + join.
    src_agg = obs.groupBy(
        "_id", F.unix_timestamp("_ts").alias("_epoch")
    ).agg(
        F.max("_v").alias("_v_prev"),
        F.min("_v").alias("_v_next"),
        F.count(F.lit(1)).cast("int").alias("_n_src"),
    )
    # grid ticks generate per INTER-OBSERVATION interval (prev, cur]
    # from a lag over the deduplicated stream — same tick set as the
    # old per-stream sequence(ceil(min), max): the first row owns
    # [ceil(first/step)·step, first] (non-empty only for an on-grid
    # first observation), every later row the ticks strictly after its
    # predecessor.  This also spreads a long stream's grid generation
    # across its observation rows instead of exploding the whole span
    # from ONE row (a year of minutes was one 525k-element sequence in
    # a single task).  An interval containing no tick yields an empty
    # array — sequence(start > stop) would throw.
    w_id = Window.partitionBy("_id").orderBy("_epoch")
    with_prev = src_agg.select(
        "*", F.lag("_epoch").over(w_id).alias("_prev_epoch")
    )
    lstep = step.cast("long")
    start = F.when(
        F.col("_prev_epoch").isNull(),
        (F.ceil(F.col("_epoch") / step) * step).cast("long"),
    ).otherwise(
        ((F.floor(F.col("_prev_epoch") / step) + 1) * lstep).cast("long")
    )
    ticks = F.when(
        start <= F.col("_epoch"),
        F.sequence(start, F.col("_epoch"), lstep),
    ).otherwise(F.array().cast("array<long>"))
    # each observation row emits its preceding ticks plus itself via a
    # single generate, already in stream order; the lag window's
    # exchange on _id is the only shuffle (the neighbor windows below
    # re-sort but do not re-partition)
    tick_struct = lambda t: F.struct(  # noqa: E731
        t.alias("_epoch"),
        F.lit(0).alias("_is_obs"),
        F.lit(None).cast("double").alias("_v_prev"),
        F.lit(None).cast("double").alias("_v_next"),
        F.when(t == F.col("_epoch"), F.col("_n_src"))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("_n_src"),
    )
    obs_struct = F.struct(
        F.col("_epoch").alias("_epoch"),
        F.lit(1).alias("_is_obs"),
        F.col("_v_prev").alias("_v_prev"),
        F.col("_v_next").alias("_v_next"),
        F.col("_n_src").alias("_n_src"),
    )
    u = with_prev.select(
        "_id",
        F.explode(
            F.concat(F.transform(ticks, tick_struct), F.array(obs_struct))
        ).alias("_r"),
    ).select("_id", "_r.*")
    # observation rows sort BEFORE the grid tick sharing their epoch
    # (is_obs desc) so an exact hit's "previous observation" is itself.
    #
    # BOTH neighbor lookups run as RUNNING frames (unboundedPreceding →
    # currentRow): Spark evaluates those incrementally (O(rows)), while
    # a [currentRow, unboundedFollowing] frame re-aggregates from
    # scratch per row — O(rows²) per stream, measured 5.7 s → 255 s
    # from 1 M → 10 M rows before this rewrite (round-9 rehearsal).
    # The "next observation" therefore uses the exactly-REVERSED order,
    # where last(...ignorenulls) over the running frame IS the first
    # following non-null.  (epoch, is_obs) is unique after the
    # pre-aggregation, so no value tie-break is needed.
    w_prev = (
        Window.partitionBy("_id")
        .orderBy(F.col("_epoch"), F.col("_is_obs").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("_id")
        .orderBy(F.col("_epoch").desc(), F.col("_is_obs").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    obs_epoch = F.when(F.col("_is_obs") == 1, F.col("_epoch"))
    prev_val = F.when(F.col("_is_obs") == 1, F.col("_v_prev"))
    next_val = F.when(F.col("_is_obs") == 1, F.col("_v_next"))
    annotated = u.select(
        "_id",
        "_epoch",
        "_is_obs",
        "_n_src",
        F.last(obs_epoch, ignorenulls=True).over(w_prev).alias("_pt"),
        F.last(prev_val, ignorenulls=True).over(w_prev).alias("_pv"),
        F.last(obs_epoch, ignorenulls=True).over(w_next).alias("_nt"),
        F.last(next_val, ignorenulls=True).over(w_next).alias("_nv"),
    ).where(F.col("_is_obs") == 0)
    exact = F.col("_pt") == F.col("_epoch")
    if method == "linear":
        interp = F.when(exact, F.col("_pv")).otherwise(
            F.when(
                F.col("_pt").isNotNull() & F.col("_nt").isNotNull(),
                F.col("_pv")
                + (F.col("_nv") - F.col("_pv"))
                * (F.col("_epoch") - F.col("_pt")).cast("double")
                / (F.col("_nt") - F.col("_pt")).cast("double"),
            )
        )
    elif method == "ffill":
        interp = F.col("_pv")
    else:  # nearest; tie -> earlier observation
        interp = F.when(exact, F.col("_pv")).otherwise(
            F.when(F.col("_pt").isNull(), F.col("_nv"))
            .when(F.col("_nt").isNull(), F.col("_pv"))
            .when(
                (F.col("_epoch") - F.col("_pt"))
                <= (F.col("_nt") - F.col("_epoch")),
                F.col("_pv"),
            )
            .otherwise(F.col("_nv"))
        )
    return annotated.select(
        F.col("_id").alias(id_col),
        F.timestamp_seconds("_epoch").alias("grid_ts"),
        interp.alias("value"),
        F.col("_n_src").alias("n_src"),
    )
