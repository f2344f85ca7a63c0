"""The flagship end-to-end QC plan (reference lifecycle §3.1 re-expressed
as one Catalyst DAG): observations ⟕ broadcast thresholds → gradient →
strict range on (value, gradient, zscore) → rolling z-score on still-good
rows → severity-merged flag — then flag histogram / write-back.

Check order matters semantically (flags merge cumulatively and the z-score
guard reads the flag state), exactly like the reference's hand-ordered
pandas flow — but here order is expressed in ONE lazy plan, so Catalyst
still sees a single optimized DAG with a single shuffle per window family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qualityassurancetool_spark.config import QCConfig
from qualityassurancetool_spark.flags import (
    QualityFlags,
    flag_from_bool,
    flag_merge,
)
from qualityassurancetool_spark.operators.gradient import gradient_column
from qualityassurancetool_spark.operators.range_check import out_of_range_bool
from qualityassurancetool_spark.operators.zscore import calc_zscore


def run_qc_pipeline(
    observations: DataFrame,
    config: QCConfig,
    spark: SparkSession,
    stream_key: str = "observation_type",
    flag_col: str = "qc_flag",
) -> DataFrame:
    """Apply range/gradient/zscore checks per the config; returns the
    observations with the merged ``qc_flag``."""
    # window_strategy: bucketed routes EVERY window stage of the chain
    # through the streams×buckets twins — the measured fix for low
    # stream cardinality, where a plain per-stream window caps
    # parallelism at n_streams cores (docs/SCALE.md QC rehearsal)
    bucketed = getattr(config, "window_strategy", "window") == "bucketed"

    # BOTH window stages run on the un-joined observations: neither
    # gradient nor z-score reads a threshold column, and the broadcast
    # threshold join only widens every shuffled/halo-replicated row by
    # ~8 columns, so joining AFTER the windows shuffles the slim frame
    # (output-identical: the z-score's only-good guard masks the OUTPUT
    # by flag state, never the window membership — reference
    # src/main.py:750 computes the stats over all rows too)
    df = observations

    # gradient (np.gradient parity, per stream)
    if bucketed:
        from qualityassurancetool_spark.operators.partitioned_windows import (
            calc_gradient_bucketed,
        )

        df = calc_gradient_bucketed(
            df, group_col=stream_key,
            order_extra=["iot_id"] if "iot_id" in df.columns else [],
        )
    else:
        # ONE user repartition on the stream key feeds both windows (the
        # bucketed twin's partition count): AQE coalesced the windows'
        # own exchange by bytes into a single task, though a window's
        # cost grows with rows × frame rows; it never coalesces a user
        # repartition
        n_parts = spark.sparkContext.defaultParallelism
        df = df.repartition(n_parts, stream_key).withColumn(
            "gradient",
            gradient_column(
                "result", "phenomenon_time", [stream_key],
                ["iot_id"] if "iot_id" in df.columns else []
            ),
        )

    # raw (unguarded) rolling z-score, still on the slim frame
    frame = getattr(config, "zscore_frame", "trailing")
    if bucketed or getattr(config, "zscore_strategy", "window") == "bucketed":
        from qualityassurancetool_spark.operators.partitioned_windows import (
            calc_zscore_bucketed,
        )

        df = calc_zscore_bucketed(
            df,
            rolling_time_window=config.zscore_time_window,
            group_col=stream_key,
            frame=frame,
        )
    else:
        df = calc_zscore(
            df,
            rolling_time_window=config.zscore_time_window,
            group_col=stream_key,
            frame=frame,
        )

    thresholds = config.thresholds_df(spark)
    df = df.join(
        F.broadcast(thresholds),
        df[stream_key].cast("string") == thresholds["stream_id"],
        "left",
    ).drop("stream_id")

    # strict range on the raw value + gradient range, folded in ONE merge:
    # neither flag reads the pre-merge flag state and severity-max is
    # associative, so a single rank→greatest→code pass replaces two nested
    # code→rank→code translations (smaller expression, one fewer plan
    # analysis pass at build time)
    range_flag = flag_from_bool(
        out_of_range_bool(
            F.col("result"), F.col("qc_range_min"), F.col("qc_range_max")
        ),
        flag_on_true=QualityFlags.BAD,
    )
    grad_flag = flag_from_bool(
        out_of_range_bool(
            F.col("gradient"), F.col("qc_gradient_min"), F.col("qc_gradient_max")
        ),
        flag_on_true=QualityFlags.BAD,
    )
    df = df.withColumn(
        flag_col, flag_merge(F.col(flag_col), range_flag, grad_flag)
    )

    # the z-score check applies only to rows still ≤ PROBABLY_GOOD
    # (semantic guard, reference src/main.py:750) — the guard masks the
    # SCORE by the post-range/gradient flag state; the stats themselves
    # were computed above, pre-join, over all rows (as the reference's
    # pandas rolling does).
    #
    # NEGATIVE RESULT (optimization round 11): folding these three
    # stages into ONE withColumns by substituting the intermediate
    # flag/zscore EXPRESSIONS (instead of re-reading the just-written
    # columns) was measured 23x SLOWER to build (0.28 s -> 6.4 s for
    # qc_full_pipeline): the substituted flag algebra nests
    # multiplicatively (out_of_range_bool and flag_from_bool each
    # reference their argument 2-4x, so the range+gradient merge tree
    # was embedded ~25x in the fused projection) and Catalyst analyzes
    # every embedded copy.  Sequential withColumn keeps each rank→
    # greatest→code tree analyzed exactly once — here column re-reads
    # ARE the cheap form.
    from qualityassurancetool_spark.flags import still_good_mask

    df = df.withColumn(
        "zscore", F.when(still_good_mask(flag_col), F.col("zscore"))
    )
    z_flag = flag_from_bool(
        out_of_range_bool(
            F.col("zscore"), F.col("qc_zscore_min"), F.col("qc_zscore_max")
        ),
        flag_on_true=QualityFlags.BAD,
    )
    df = df.withColumn(flag_col, flag_merge(F.col(flag_col), z_flag))
    return df


def flag_histogram(df: DataFrame, flag_col: str = "qc_flag") -> DataFrame:
    """A1: per-flag counts (the reference's run summary,
    ``src/main.py:471-474,807``)."""
    return (
        df.groupBy(F.col(flag_col).alias("flag"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("flag")
    )
