"""Alert episodes — collapse per-row anomaly flags into operational
incidents.

Every chart in the engine (range/z-score/EWMA/CUSUM/seasonal) emits
per-ROW flags; an operator watching a 100 TB flag stream needs
INCIDENTS: "stream 12 was anomalous from 03:10 to 03:55 (41 rows,
peak 98.2)".  This is the classic gaps-and-islands collapse: flagged
rows whose neighbors are closer than ``max_gap`` merge into one
episode; a quiet gap longer than ``max_gap`` closes it.

Spark shape: filter to flagged rows FIRST (the scan predicate — at
sane anomaly rates the windowed set is orders of magnitude smaller
than the input), one window on the group key for the lag-gap episode
boundaries + running episode ids, then an aggregate on
(group, episode) — same key prefix, the sort is reused.  No UDF.

Cross-engine: ``__spark_entry__.py`` query ``episodes`` — DuckDB
islands replica over a synthetic threshold flag on the events stream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from qualityassurancetool_spark.functions.timeutils import (
    epoch_micros,
    parse_timedelta_seconds,
)


def flag_episodes(
    df: DataFrame,
    flag: Column | str,
    ts_col: str,
    group_cols: list[str] | None = None,
    max_gap: str | float = "1h",
    value_col: str | None = None,
    min_rows: int = 1,
) -> DataFrame:
    """(group_cols…, episode, start, end, n_rows, duration_s[,
    peak_value]) — one row per alert episode, ``episode`` numbered
    1..N per group in time order.

    ``flag``: boolean column (name or expression) selecting anomalous
    rows; NULL counts as not-flagged (unknown ≠ alert).  Rows with a
    NULL timestamp cannot be placed in an episode and are ignored.
    ``min_rows`` drops blips shorter than the given row count (the
    standard debounce).
    """
    gap_s = parse_timedelta_seconds(max_gap)
    if gap_s <= 0:
        raise ValueError(f"max_gap must be > 0, got {max_gap!r}")
    if min_rows < 1:
        raise ValueError(f"min_rows must be >= 1, got {min_rows}")
    g = group_cols or []
    fl = F.col(flag) if isinstance(flag, str) else flag
    rows = df.where(
        fl.isNotNull() & fl & F.col(ts_col).isNotNull()
    ).select(
        *g,
        F.col(ts_col).alias("_ts"),
        *(
            [F.col(value_col).cast("double").alias("_v")]
            if value_col
            else []
        ),
    )
    w = Window.partitionBy(*g).orderBy("_ts")
    prev = F.lag("_ts").over(w)
    # exact integer-microsecond epochs (a double cast keeps sub-second
    # parts for TIMESTAMP but cannot cast TIMESTAMP_NTZ at all —
    # tz-less parquet reads as NTZ under Spark 4; epoch_micros handles
    # both and unix_timestamp would truncate sub-second gaps)
    ts_us = epoch_micros(F.col("_ts"))
    prev_us = epoch_micros(prev)
    new_ep = F.when(
        prev.isNull()
        | ((ts_us - prev_us) / 1e6 > F.lit(float(gap_s))),
        1,
    ).otherwise(0)
    eps = rows.withColumn(
        "episode",
        F.sum(new_ep).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    aggs = [
        F.min("_ts").alias("start"),
        F.max("_ts").alias("end"),
        F.count(F.lit(1)).alias("n_rows"),
        ((F.max(ts_us) - F.min(ts_us)) / 1e6).alias("duration_s"),
    ]
    if value_col:
        # NaN-ignoring peak: Spark's max orders NaN greater than any
        # double, so one NaN reading would otherwise poison the episode
        # peak; the streaming twin (streaming/episodes.py) skips NaN in
        # its running max, and this pins the same convention — a peak is
        # the largest REAL value seen (NULL if the episode saw only NaN)
        aggs.append(
            F.max(F.when(~F.isnan("_v"), F.col("_v"))).alias("peak_value")
        )
    out = eps.groupBy(*g, "episode").agg(*aggs)
    if min_rows > 1:
        out = out.where(F.col("n_rows") >= min_rows)
        # renumber after the debounce so episode ids stay dense
        w_e = Window.partitionBy(*g).orderBy("start")
        out = out.withColumn(
            "episode", F.row_number().over(w_e).cast("long")
        )
    return out
