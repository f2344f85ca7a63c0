"""As-of join with time tolerance + dependent-quantity QC propagation
(reference J3/J4: ``qc_dependent_quantity_base`` / ``_secondary``, call
sites ``src/main.py:464-470,784-805``; semantics pinned by the test matrix
``tests/test_qc.py:604-971`` and ``README.adoc:257-268``).

Semantics: each **dependent** observation is paired with the **independent**
observation nearest in time with ``|Δt| ≤ tolerance``.
 - base: the dependent inherits the independent's flag (severity-merge);
   unmatched dependents optionally get ``flag_when_missing``.
 - secondary: if the matched independent's *value* is outside ``range_``,
   the dependent is flagged BAD (flags themselves are not linked).

Physical design (scale-first): a naive range join ``|t_d − t_i| ≤ tol`` is a
per-overlap cartesian.  Instead we bucket both sides by
``floor(epoch_us / tol_us)`` and explode the *dependent* side to its three
candidate buckets (b−1, b, b+1): any independent row within tolerance must
land in one of those.  The join is then a plain equi-join on
``(stream-pair key, bucket)`` which Spark executes as a shuffled (or
broadcast) hash join with bounded fan-out; the nearest partner is picked
with one partial-aggregable ``min(struct)`` per dependent row (no sort —
see the comment in :func:`asof_nearest_join`).  Cost: O(n·3) join rows
instead of O(n²).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from qualityassurancetool_spark.flags import (
    QualityFlags,
    flag_merge,
)
from qualityassurancetool_spark.functions.timeutils import (
    epoch_micros,
    parse_timedelta_seconds,
)


def asof_nearest_join(
    dependent: DataFrame,
    independent: DataFrame,
    tolerance: str | float,
    dep_ts: str = "phenomenon_time",
    ind_ts: str = "phenomenon_time",
    ind_prefix: str = "ind_",
    salt: int | None = None,
) -> DataFrame:
    """Generic nearest-within-tolerance as-of join.

    Returns ``dependent`` columns plus the matched independent's columns
    prefixed with ``ind_prefix`` (null where no partner within tolerance).
    Ties on |Δt| break on the smaller independent timestamp, then any
    ``iot_id`` column if present (fully deterministic).

    ``salt=R`` splits each (bucket) join key into R sub-keys: the
    independent side gets a content-hash salt, the dependent side
    replicates each exploded row across all R salts.  Identical output
    (the nearest-pick aggregation groups on the dependent row id, so it
    folds across salt copies) — use when one tolerance bucket holds a
    pathological share of the independent side (burst / stuck sensor)
    and the metered straggler factor matters more than the ×R dependent
    replication (measured head-to-head in docs/SCALE.md)."""
    tol_us = int(parse_timedelta_seconds(tolerance) * 1_000_000)
    if tol_us <= 0:
        raise ValueError("tolerance must be positive")

    dep = dependent.withColumn("_dep_us", epoch_micros(dep_ts)).withColumn(
        "_dep_row", F.monotonically_increasing_id()
    )
    ind = independent.select(
        *[F.col(c).alias(f"{ind_prefix}{c}") for c in independent.columns]
    ).withColumn("_ind_us", epoch_micros(f"{ind_prefix}{ind_ts}"))

    # dependent side explodes to 3 candidate buckets; independent keeps 1.
    # The tolerance predicate lives in the join condition so an exploded copy
    # whose bucket holds only out-of-tolerance partners still survives as an
    # unmatched (null) row — unmatched dependents must NOT be dropped.
    dep_b = dep.withColumn(
        "_bucket",
        F.explode(
            F.array(
                (F.floor(F.col("_dep_us") / tol_us) - 1).cast("long"),
                F.floor(F.col("_dep_us") / tol_us).cast("long"),
                (F.floor(F.col("_dep_us") / tol_us) + 1).cast("long"),
            )
        ),
    )
    ind_b = ind.withColumn(
        "_ind_bucket", F.floor(F.col("_ind_us") / tol_us).cast("long")
    )

    cond = (F.col("_bucket") == F.col("_ind_bucket")) & (
        F.abs(F.col("_dep_us") - F.col("_ind_us")) <= tol_us
    )
    if salt is not None:
        if salt < 2:
            raise ValueError("salt must be >= 2 (or None)")
        # content-hash salt on the independent side (µs + id when
        # present) spreads a hot bucket across R reduce partitions
        salt_src = [F.col("_ind_us")]
        if f"{ind_prefix}iot_id" in ind_b.columns:
            salt_src.append(F.col(f"{ind_prefix}iot_id"))
        ind_b = ind_b.withColumn(
            "_salt", F.pmod(F.xxhash64(*salt_src), F.lit(salt)).cast("int")
        )
        dep_b = dep_b.withColumn(
            "_dep_salt",
            F.explode(
                F.sequence(F.lit(0).cast("int"), F.lit(salt - 1).cast("int"))
            ),
        )
        cond = cond & (F.col("_dep_salt") == F.col("_salt"))

    joined = dep_b.join(ind_b, cond, how="left")

    # nearest pick as ONE min(struct) hash aggregation instead of a
    # row_number window: partial aggregation ships a single candidate per
    # (dep row, map task) and there is no sort — measured 1.4x faster at
    # 10M rows (docs/SCALE.md, "As-of join"), identical output.
    # Ordering fields replicate ORDER BY (|Δt|, ind_ts, ind_id) ASC NULLS
    # LAST: real candidates never have null ordering fields (the join
    # condition requires the ind side), and unmatched left-join rows
    # coalesce to +inf/maxint sentinels so they lose to any real match.
    _SENTINEL = 1 << 62
    ord_fields = [
        F.coalesce(
            F.abs(F.col("_dep_us") - F.col("_ind_us")).cast("double"),
            F.lit(float("inf")),
        ).alias("_o0"),
        F.coalesce(F.col("_ind_us"), F.lit(_SENTINEL)).alias("_o1"),
    ]
    iot = f"{ind_prefix}iot_id"
    if iot in ind.columns:
        ord_fields.append(
            F.coalesce(F.col(iot).cast("long"), F.lit(_SENTINEL)).alias("_o2")
        )
    payload = [F.col(c).alias(f"_p{k}") for k, c in enumerate(ind.columns)]
    cand = F.struct(*ord_fields, *payload)
    dep_cols = [c for c in dep.columns if c not in ("_dep_us", "_dep_row")]
    best = joined.groupBy("_dep_row", *dep_cols).agg(F.min(cand).alias("_m"))
    return best.select(
        *dep_cols,
        *[F.col(f"_m._p{k}").alias(c) for k, c in enumerate(ind.columns)],
    ).drop("_ind_us")


def _materialize_once(df: DataFrame, enabled: bool) -> DataFrame:
    """Optionally cut the lineage so the three branches below (dependent /
    independent / passthrough) read one materialized result instead of
    re-executing the whole upstream plan per branch.

    In the reference-chain capstone the input here is the entire
    region→outlier→velocity→threshold window chain; Spark executes that
    chain once per branch (no common-subplan reuse across join/union arms
    with different pushed filters).  At 100 TB that re-execution re-reads
    and re-shuffles the whole table twice more, so ``materialize=True``
    (lazy local checkpoint) is the right setting.  It is OFF by default
    because at bench scale (10^5 rows) the trade inverts: the checkpoint
    forces physical planning + whole-stage-codegen compilation of the
    upstream chain at build time AND for the downstream plan — measured
    ~2x slower end-to-end than just executing the cheap chain three times
    (compile time dominates row work)."""
    return df.localCheckpoint(eager=False) if enabled else df


def asof_nearest_context(
    df: DataFrame,
    is_candidate,
    tolerance: str | float,
    payload_cols: list[str],
    ts_col: str = "phenomenon_time",
    id_col: str = "iot_id",
    out_col: str = "_asof",
    bucket: str | float | None = None,
) -> DataFrame:
    """Single-pass window-strategy as-of: annotate EVERY row of ``df`` with
    the nearest row satisfying ``is_candidate`` within ``tolerance``
    (struct of ``payload_cols`` in ``out_col``; null when no candidate).

    Where :func:`asof_nearest_join` splits the input into branches and
    joins (re-executing the upstream plan once per branch), this keeps the
    table in ONE flow: rows are hashed into fixed time buckets, candidate
    rows are replicated into the neighbor buckets whose rows may need them
    as context (halo bounded by the tolerance — replication factor
    1 + 2*tol/bucket), and within each bucket two RANGE-frame window
    aggregates pick the nearest candidate on each side:

      prev = max(struct(ts, -id, payload))  over range [-tol, 0]
      next = min(struct(ts,  id, payload))  over range [0, +tol]

    min/max over the struct encode the tie order (|Δt|, then smaller
    candidate ts, then smaller id) exactly as :func:`asof_nearest_join`'s
    ordering fields; the cross-side compare prefers ``prev`` on equal |Δt|
    (the smaller timestamp).  One shuffle on (bucket), no join, no branch
    re-execution — at 100 TB the upstream chain is read and shuffled once
    instead of three times.  Parallelism = number of buckets (time-uniform
    by construction), vs. the join strategy's 3-way bucket explode.

    Reference semantics: ``qc_dependent_quantity_base``
    (/root/reference/src/main.py:464-470) — nearest within ±tolerance.
    """
    tol_us = int(parse_timedelta_seconds(tolerance) * 1_000_000)
    if tol_us <= 0:
        raise ValueError("tolerance must be positive")
    bucket_us = (
        int(parse_timedelta_seconds(bucket) * 1_000_000)
        if bucket is not None
        else 8 * tol_us
    )

    in_cols = df.columns
    t = epoch_micros(ts_col)
    cand = F.when(is_candidate, F.lit(True)).otherwise(F.lit(False))
    # candidate at time t is context for rows in [t-tol, t+tol]; native
    # bucket must come FIRST in the sequence only by value, so compute
    # explicitly: non-candidates stay native-only.  The bucket bounds are
    # written over the raw ts expression (not the _t_us column) so the
    # whole annotation is ONE projection — each extra withColumn re-ran
    # Catalyst analysis over the full upstream chain at build time.
    b_native = F.floor(t / F.lit(bucket_us))
    b_lo = F.floor((t - F.lit(tol_us)) / F.lit(bucket_us))
    b_hi = F.floor((t + F.lit(tol_us)) / F.lit(bucket_us))
    exploded = df.select(
        "*",
        t.alias("_t_us"),
        cand.alias("_is_cand"),
        F.explode(
            F.when(cand, F.sequence(b_lo, b_hi)).otherwise(
                F.array(b_native)
            )
        ).alias("_bucket"),
    )

    neg_id = (-F.col(id_col)).cast("long").alias("_tie")
    pos_id = F.col(id_col).cast("long").alias("_tie")
    payload = [F.col(c).alias(f"_p_{c}") for c in payload_cols]
    prev_s = F.when(
        F.col("_is_cand"), F.struct(F.col("_t_us").alias("_ts"), neg_id, *payload)
    )
    next_s = F.when(
        F.col("_is_cand"), F.struct(F.col("_t_us").alias("_ts"), pos_id, *payload)
    )
    w = Window.partitionBy("_bucket").orderBy("_t_us")
    prev = F.max(prev_s).over(w.rangeBetween(-tol_us, 0))
    nxt = F.min(next_s).over(w.rangeBetween(0, tol_us))

    # windows run over native rows AND halo copies; only then drop copies.
    # _native is NOT a bucket-constant predicate (it reads _t_us too), so
    # Catalyst cannot push this filter below the Window — halo rows stay
    # in every frame, exactly as before the projection fusion.  The final
    # select below already prunes _native; no separate drop pass.
    annotated = exploded.select(
        *in_cols,
        (F.floor(F.col("_t_us") / F.lit(bucket_us)) == F.col("_bucket"))
        .alias("_native"),
        F.col("_t_us").alias("_row_us"),
        prev.alias("_prev"),
        nxt.alias("_next"),
    ).where(F.col("_native"))
    prev_dt = F.col("_row_us") - F.col("_prev._ts")
    next_dt = F.col("_next._ts") - F.col("_row_us")
    best = F.when(
        F.col("_prev").isNotNull()
        & (F.col("_next").isNull() | (prev_dt <= next_dt)),
        F.col("_prev"),
    ).otherwise(F.col("_next"))
    # one projection instead of withColumn(_best) + withColumn(out_col) +
    # select: the best expression is substituted into the struct fields
    # (runtime subexpression elimination dedups it; build-time analysis
    # of the deep upstream plan runs once instead of three times)
    return annotated.select(
        *in_cols,
        F.when(
            best.isNotNull(),
            F.struct(
                best["_ts"].alias("ts_us"),
                *[best[f"_p_{c}"].alias(c) for c in payload_cols],
            ),
        ).alias(out_col),
    )


def qc_dependent_quantity_base(
    df: DataFrame,
    independent,
    dependent,
    dt_tolerance: str | float = "0.5s",
    stream_col: str = "datastream_id",
    ts_col: str = "phenomenon_time",
    flag_col: str = "qc_flag",
    flag_when_missing: int | None = None,
    materialize: bool = False,
    strategy: str = "join",
) -> DataFrame:
    """Directly-linked flags: dependent inherits the time-matched
    independent's flag (severity-merge).  Returns ``df`` with the dependent
    stream's flags updated; all other rows pass through unchanged.  See
    :func:`_materialize_once` for when to set ``materialize``.

    ``strategy="window"`` uses the single-pass
    :func:`asof_nearest_context` (one consumer of ``df``, no branch
    re-execution) — preferred when ``df`` is itself an expensive chain;
    ``"join"`` keeps the bucketed-join formulation (preferred when the
    dependent stream is a small slice of a cheap scan, where filtering
    first avoids windowing the whole table)."""
    if strategy == "window":
        is_ind = F.col(stream_col) == F.lit(independent)
        ann = asof_nearest_context(
            df,
            is_candidate=is_ind,
            tolerance=dt_tolerance,
            payload_cols=[flag_col],
            ts_col=ts_col,
        )
        ind_flag = F.col(f"_asof.{flag_col}")
        new_flag = flag_merge(F.col(flag_col), ind_flag)
        if flag_when_missing is not None:
            new_flag = F.when(
                ind_flag.isNull(),
                flag_merge(
                    F.col(flag_col),
                    F.lit(int(flag_when_missing)).cast("tinyint"),
                ),
            ).otherwise(new_flag)
        # replace the flag and prune _asof in ONE projection (withColumn
        # then drop each re-analyzed the whole upstream chain per call)
        merged = (
            F.when(F.col(stream_col) == F.lit(dependent), new_flag)
            .otherwise(F.col(flag_col))
            .alias(flag_col)
        )
        return ann.select(
            *[merged if c == flag_col else c for c in df.columns]
        )
    df = _materialize_once(df, materialize)
    dep_rows = df.where(F.col(stream_col) == F.lit(dependent))
    ind_rows = df.where(F.col(stream_col) == F.lit(independent)).select(
        "iot_id", ts_col, flag_col
    )
    other_rows = df.where(
        (F.col(stream_col) != F.lit(dependent)) | F.col(stream_col).isNull()
    )

    matched = asof_nearest_join(
        dep_rows, ind_rows, dt_tolerance, dep_ts=ts_col, ind_ts=ts_col
    )
    new_flag = flag_merge(F.col(flag_col), F.col(f"ind_{flag_col}"))
    if flag_when_missing is not None:
        new_flag = F.when(
            F.col(f"ind_{flag_col}").isNull(),
            flag_merge(
                F.col(flag_col),
                F.lit(int(flag_when_missing)).cast("tinyint"),
            ),
        ).otherwise(new_flag)
    updated = matched.withColumn(flag_col, new_flag).select(*df.columns)
    return other_rows.unionByName(updated)


def qc_dependent_quantity_secondary(
    df: DataFrame,
    independent,
    dependent,
    range_: tuple[float, float],
    dt_tolerance: str | float = "0.5s",
    stream_col: str = "datastream_id",
    ts_col: str = "phenomenon_time",
    flag_col: str = "qc_flag",
    value_col: str = "result",
    materialize: bool = False,
    strategy: str = "join",
) -> DataFrame:
    """Value-linked check: matched independent's value outside ``range_``
    (strict bounds, like the range check) ⇒ dependent flagged BAD.  See
    :func:`_materialize_once` for when to set ``materialize`` and
    :func:`qc_dependent_quantity_base` for the strategy choice."""
    lo, hi = range_
    if strategy == "window":
        is_ind = F.col(stream_col) == F.lit(independent)
        ann = asof_nearest_context(
            df,
            is_candidate=is_ind,
            tolerance=dt_tolerance,
            payload_cols=[value_col],
            ts_col=ts_col,
        )
        ind_val = F.col(f"_asof.{value_col}")
        bad = ~((ind_val > F.lit(lo)) & (ind_val < F.lit(hi)))
        new_flag = F.when(
            ind_val.isNotNull() & bad,
            flag_merge(
                F.col(flag_col), F.lit(int(QualityFlags.BAD)).cast("tinyint")
            ),
        ).otherwise(F.col(flag_col))
        # same single-projection tail as qc_dependent_quantity_base
        merged = (
            F.when(F.col(stream_col) == F.lit(dependent), new_flag)
            .otherwise(F.col(flag_col))
            .alias(flag_col)
        )
        return ann.select(
            *[merged if c == flag_col else c for c in df.columns]
        )
    df = _materialize_once(df, materialize)
    dep_rows = df.where(F.col(stream_col) == F.lit(dependent))
    ind_rows = df.where(F.col(stream_col) == F.lit(independent)).select(
        "iot_id", ts_col, value_col
    )
    other_rows = df.where(
        (F.col(stream_col) != F.lit(dependent)) | F.col(stream_col).isNull()
    )

    matched = asof_nearest_join(
        dep_rows, ind_rows, dt_tolerance, dep_ts=ts_col, ind_ts=ts_col
    )
    bad = ~(
        (F.col(f"ind_{value_col}") > F.lit(lo))
        & (F.col(f"ind_{value_col}") < F.lit(hi))
    )
    new_flag = F.when(
        F.col(f"ind_{value_col}").isNotNull() & bad,
        flag_merge(
            F.col(flag_col), F.lit(int(QualityFlags.BAD)).cast("tinyint")
        ),
    ).otherwise(F.col(flag_col))
    updated = matched.withColumn(flag_col, new_flag).select(*df.columns)
    return other_rows.unionByName(updated)
