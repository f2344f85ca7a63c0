"""KMV (k-minimum-values / bottom-k) distinct sketch.

Bar-Yossef et al. 2002 ("Counting distinct elements in a data
stream") via the Beyer et al. 2007 SIGMOD treatment ("On synopses for
distinct-value estimation under multiset operations") — the
set-algebra complement to ``operators/hll``: HLL gives a tighter
distinct count per byte, but KMV sketches COMPOSE under union and
intersection, so two corpus snapshots' sketches answer "how similar
are these sets" (Jaccard, overlap, union size) without touching the
raw data again.  That is the 100 TB shape for corpus-drift audits:
sketch each day's URL/doc-id set once (k longs per group), compare
any pair of days later at k-row cost.

Estimator: with hashes uniform on [0, 2^60), the k-th smallest
distinct hash U_(k) gives ``D̂ = (k−1) · 2^60 / U_(k)`` (unbiased;
σ/D ≈ 1/√(k−2)).  Fewer than k distinct hashes → the sketch IS the
set, estimate = exact count.  Jaccard (Beyer §5): take X = the k
smallest of A ∪ B (computable from the two sketches alone);
``Ĵ = |X ∩ A ∩ B| / |X|``.

Spark shape, all declarative and integer-exact (portable md5 hash, no
floats until the final division):

- **sketch** — optional partition-local bottom-k prune (sort within
  partitions, zero shuffle) → distinct → ``orderBy.limit(k)``
  (TakeOrderedAndProject: per-partition top-k heaps, driver merge).
- **grouped sketch** — distinct (group, h) → row_number window ≤ k:
  one shuffle of 8-byte hashes per distinct key, never the raw keys.
- **merge / Jaccard** — unions and window row_numbers over frames of
  ≤ 2k rows per group: metadata-scale.

Cross-engine: ``tools/extra_oracles.py::x_kmv`` replicates sketch,
estimate and pairwise Jaccard in DuckDB — hash-set exact, estimates
at 4 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from qualityassurancetool_spark.functions.hashing import md5_long

_SALT = "kmv:"
_SPACE = float(1 << 60)  # md5_long range


def _check_k(k: int) -> int:
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    return k


def _hashes(df: DataFrame, key_col: str) -> DataFrame:
    return (
        df.where(F.col(key_col).isNotNull())
        .select(
            md5_long(F.col(key_col).cast("string"), salt=_SALT).alias("h")
        )
    )


def kmv_sketch(
    df: DataFrame, key_col: str, k: int = 256, prune: bool = True
) -> DataFrame:
    """The k smallest distinct hashes of ``key_col`` — one column
    ``h``, ≤ k rows.  ``prune=True`` cuts each partition to its local
    bottom-k first (sort-within-partition, NO shuffle) so the distinct
    shuffle carries ≤ partitions × k hashes instead of every distinct
    key — the read path for billion-key inputs."""
    _check_k(k)
    hashes = _hashes(df, key_col)
    if prune:
        # dense_rank, NOT row_number: with duplicate hashes in a
        # partition, row_number's slots fill with copies and can evict
        # distinct values that belong in the global bottom-k.
        # dense_rank <= k keeps every copy of the k smallest DISTINCT
        # values — a superset of what the global answer needs.  Spark
        # plans this as a map-side WindowGroupLimit (Partial) BEFORE
        # the exchange, so each partition ships <= k distinct values.
        w = Window.partitionBy(F.spark_partition_id()).orderBy("h")
        hashes = (
            hashes.withColumn("_dr", F.dense_rank().over(w))
            .where(F.col("_dr") <= k)
            .drop("_dr")
        )
    return hashes.distinct().orderBy("h").limit(k)


def kmv_sketch_by(
    df: DataFrame, group_cols: list[str], key_col: str, k: int = 256
) -> DataFrame:
    """Per-group bottom-k sketch: group cols + ``pos`` (1-based rank)
    + ``h``.

    Scale path: a partition-local dense_rank prune (map-side
    WindowGroupLimit, see :func:`kmv_sketch`) cuts each partition to
    its ≤ k smallest distinct hashes PER GROUP before anything
    shuffles, so the shuffle carries ≤ partitions × groups × k hash
    rows — metered flat vs the distinct-every-key route, which grows
    linearly with corpus cardinality (docs/SCALE.md, "Round-5:
    distinct-sketch family")."""
    _check_k(k)
    hashes = df.where(F.col(key_col).isNotNull()).select(
        *group_cols,
        md5_long(F.col(key_col).cast("string"), salt=_SALT).alias("h"),
    )
    w_local = Window.partitionBy(
        F.spark_partition_id(), *group_cols
    ).orderBy("h")
    pruned = (
        hashes.withColumn("_dr", F.dense_rank().over(w_local))
        .where(F.col("_dr") <= k)
        .drop("_dr")
        .distinct()
    )
    w = Window.partitionBy(*group_cols).orderBy("h")
    return (
        pruned.withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= k)
        .select(*group_cols, "pos", "h")
    )


def kmv_estimate(sketch: DataFrame, k: int = 256) -> DataFrame:
    """One row ``(n_hashes, kth_hash, est_distinct)`` from a
    single-set sketch (the ``h`` column of :func:`kmv_sketch`)."""
    _check_k(k)
    agg = sketch.agg(
        F.count(F.lit(1)).cast("long").alias("n_hashes"),
        F.max("h").alias("kth_hash"),
    )
    return agg.select(
        "n_hashes",
        "kth_hash",
        F.when(F.col("n_hashes") < k, F.col("n_hashes").cast("double"))
        .otherwise(
            F.lit(float(k - 1) * _SPACE) / F.col("kth_hash").cast("double")
        )
        .alias("est_distinct"),
    )


def kmv_estimate_by(
    sketch: DataFrame, group_cols: list[str], k: int = 256
) -> DataFrame:
    """Per-group ``(n_hashes, kth_hash, est_distinct)`` from a
    :func:`kmv_sketch_by` table."""
    _check_k(k)
    agg = sketch.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_hashes"),
        F.max("h").alias("kth_hash"),
    )
    return agg.select(
        *group_cols,
        "n_hashes",
        "kth_hash",
        F.when(F.col("n_hashes") < k, F.col("n_hashes").cast("double"))
        .otherwise(
            F.lit(float(k - 1) * _SPACE) / F.col("kth_hash").cast("double")
        )
        .alias("est_distinct"),
    )


def kmv_merge(a: DataFrame, b: DataFrame, k: int = 256) -> DataFrame:
    """Union sketch: bottom-k of the hash union — the sketch of
    A ∪ B, computed from the sketches alone (≤ 2k input rows)."""
    _check_k(k)
    return (
        a.select("h")
        .unionByName(b.select("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def kmv_set_compare(
    sketches: DataFrame,
    group_col: str,
    k: int = 256,
) -> DataFrame:
    """Pairwise set comparison between EVERY pair of groups in a
    :func:`kmv_sketch_by` table: for groups (ga < gb) emit
    ``n_union_sample`` (|X| ≤ k), ``n_both`` (|X ∩ A ∩ B|),
    ``jaccard`` = n_both / n_union_sample, and
    ``est_union`` (KMV estimate of |A ∪ B|).

    Everything is sketch-scale: the union frame per pair is ≤ 2k rows,
    built by a self-join on hash — no raw data touched.  With G
    groups the work is G²/2 · k rows: G is metadata cardinality
    (days, langs, snapshots), so this stays driver-trivial."""
    _check_k(k)
    groups = sketches.select(F.col(group_col).alias("g")).distinct()
    gpairs = (
        groups.alias("x")
        .crossJoin(groups.alias("y"))
        .where(F.col("x.g") < F.col("y.g"))
        .select(F.col("x.g").alias("ga"), F.col("y.g").alias("gb"))
    )
    u = (
        gpairs.join(
            sketches.select(
                F.col(group_col).alias("ga"), "h"
            ).withColumn("in_a", F.lit(1)),
            "ga",
        )
        .select("ga", "gb", "h", "in_a", F.lit(0).alias("in_b"))
        .unionByName(
            gpairs.join(
                sketches.select(
                    F.col(group_col).alias("gb"), "h"
                ).withColumn("in_b", F.lit(1)),
                "gb",
            ).select("ga", "gb", "h", F.lit(0).alias("in_a"), "in_b")
        )
        .groupBy("ga", "gb", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w = Window.partitionBy("ga", "gb").orderBy("h")
    x = u.withColumn("pos", F.row_number().over(w)).where(
        F.col("pos") <= k
    )
    out = x.groupBy("ga", "gb").agg(
        F.count(F.lit(1)).cast("long").alias("n_union_sample"),
        F.sum(
            (F.col("in_a") * F.col("in_b")).cast("long")
        ).alias("n_both"),
        F.max("h").alias("kth_hash"),
    )
    return out.select(
        "ga",
        "gb",
        "n_union_sample",
        "n_both",
        (F.col("n_both") / F.col("n_union_sample")).alias("jaccard"),
        F.when(
            # union sample smaller than k → we saw the whole union
            F.col("n_union_sample") < k,
            F.col("n_union_sample").cast("double"),
        )
        .otherwise(
            F.lit(float(k - 1) * _SPACE) / F.col("kth_hash").cast("double")
        )
        .alias("est_union"),
    )
