"""HyperLogLog — approximate distinct counts with BOUNDED state.

Flajolet / Fusy / Gandouet / Meunier 2007 ("HyperLogLog: the analysis
of a near-optimal cardinality estimation algorithm"), the third leg of
the mergeable-summary family next to ``operators/cms`` (point
frequencies) and ``operators/heavy_hitters`` (top keys): HLL answers
"how many DISTINCT keys" with ``m = 2^p`` small registers, whatever
the key cardinality.  Standard error ≈ 1.04/√m (p=12 → ~1.6 %).  The
reference's uniqueness checks (SURVEY §2.4 A4–A6) are exact; at 100 TB
an exact ``countDistinct`` per (domain, day) shuffles every distinct
key — the HLL register table shuffles ≤ ``groups × m`` bytes-scale
rows and day-level sketches roll up to month/corpus level WITHOUT
rescanning (Agarwal et al. 2013 mergeable-summaries property).

Spark shape, all declarative (no UDF):

- **hash** — one portable ``md5_long`` (60-bit).  Register index =
  ``h & (m−1)`` (low bits); the rank word ``w`` is the next 48 bits
  ``(h >> p) & (2^48 − 1)`` — disjoint from the index bits for any
  p ≤ 12, and pure INTEGER ops (a ``floor(h/m)`` route would round
  through double past 2^53 and lose low bits).  Rank
  ``r = 49 − length(bin(w))`` (``bin`` gives the minimal binary
  string in Spark AND DuckDB, so no float ``log2`` edge cases),
  ``w = 0 → r = 49``.
- **build** — ``groupBy(bucket).agg(max(r))``: partial aggregation
  means the shuffle carries at most ``partitions × m`` rows.
- **merge** — union + groupBy max (registers are max-counters).
- **estimate** — the FP-fragile part is kept exact-integer:
  ``S = Σ 2^(49−r)`` over all m registers (absent register → r=0 →
  2^49) is an exact long sum, so the raw estimate
  ``α_m · m² · 2^49 / S`` is ONE double division — bit-reproducible
  across engines.  Small-range correction (E ≤ 2.5 m with empty
  registers): linear counting ``m · ln(m / V)``.  The 2^32 large-range
  correction is dropped: with a 48-bit rank word it only matters past
  ~10^13 distinct keys per group.

Cross-engine: ``__spark_entry__.py`` query ``hll_distinct`` replicates hash,
registers and the estimate in DuckDB — register-exact, estimate
compared at 4 dp (one ``ln`` call is the only libm dependence).
Streaming twin: ``streaming/hll.py`` (fixed register-vector state).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qualityassurancetool_spark.functions.hashing import md5_long

_SALT = "hll:"
_RANK_BITS = 48  # rank word width; r in [1, 49]
_POW = _RANK_BITS + 1  # exponent base for the exact-integer sum


def _alpha(m: int) -> float:
    """The standard HLL bias constant α_m (Flajolet et al. §4)."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _check_p(p: int) -> int:
    if not 4 <= p <= 12:
        # p>12 would overlap the rank word's 48 bits inside the 60-bit
        # md5_long; p<4 has no published alpha and huge error anyway.
        raise ValueError(f"p must be in [4, 12], got {p}")
    return 1 << p


def _bucket_rank(key_col: str, p: int) -> tuple[F.Column, F.Column]:
    """(bucket, rank) Columns for one key — integer bit ops only."""
    m = _check_p(p)
    h = md5_long(F.col(key_col).cast("string"), salt=_SALT)
    w = F.shiftright(h, p).bitwiseAND(F.lit((1 << _RANK_BITS) - 1))
    r = F.when(w == 0, F.lit(_POW)).otherwise(
        F.lit(_POW) - F.length(F.bin(w))
    )
    return h.bitwiseAND(F.lit(m - 1)).cast("int"), r.cast("int")


def hll_registers(df: DataFrame, key_col: str, p: int = 12) -> DataFrame:
    """Register table ``(bucket int, r int)`` over non-null keys —
    at most ``2^p`` rows (absent buckets are implicit r=0)."""
    bucket, r = _bucket_rank(key_col, p)
    return (
        df.where(F.col(key_col).isNotNull())
        .select(bucket.alias("bucket"), r.alias("r"))
        .groupBy("bucket")
        .agg(F.max("r").alias("r"))
    )


def hll_merge(*sketches: DataFrame) -> DataFrame:
    """Union register tables built with the same ``p`` — registers are
    max-counters, so merge = groupBy max.  Day sketches roll up to
    month/corpus without rescanning the raw keys."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("bucket").agg(F.max("r").alias("r"))


def _estimate_cols(m: int, sum_pow: F.Column, n_regs: F.Column) -> F.Column:
    """The HLL estimate from the exact-integer register sum.

    ``sum_pow`` = Σ 2^(49−r) over PRESENT registers (long-exact);
    absent registers contribute 2^49 each, added here so callers agg
    only over present rows.  ``n_regs`` = present-register count."""
    zeros = F.lit(m) - n_regs
    s_full = sum_pow + zeros.cast("long") * F.lit(1 << _POW)
    raw = F.lit(_alpha(m) * m * m * float(1 << _POW)) / s_full.cast(
        "double"
    )
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    return F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0), linear
    ).otherwise(raw)


def hll_estimate(sketch: DataFrame, p: int = 12) -> DataFrame:
    """One row ``(n_registers, max_r, sum_pow, est_distinct)`` from a
    register table.  ``sum_pow`` is the exact-integer Σ 2^(49−r) over
    present registers — the reproducible core of the estimate."""
    m = _check_p(p)
    agg = sketch.agg(
        F.count(F.lit(1)).cast("long").alias("n_registers"),
        F.max("r").alias("max_r"),
        F.sum(
            F.pow(F.lit(2.0), F.lit(_POW) - F.col("r")).cast("long")
        ).alias("sum_pow"),
    )
    return agg.select(
        "n_registers",
        "max_r",
        "sum_pow",
        _estimate_cols(
            m, F.coalesce(F.col("sum_pow"), F.lit(0)), F.col("n_registers")
        ).alias("est_distinct"),
    )


def hll_distinct_by(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    p: int = 12,
) -> DataFrame:
    """Approximate distinct ``key_col`` per group in ONE pass — the
    (domain, day)-style rollup shape.  Output: group cols +
    ``(n_registers, max_r, sum_pow, est_distinct)``.

    Shuffle: ≤ ``groups × m`` pre-aggregated register rows (two
    partial-agged groupBys), never one row per distinct key — compare
    exact ``countDistinct``'s full key shuffle."""
    m = _check_p(p)
    bucket, r = _bucket_rank(key_col, p)
    regs = (
        df.where(F.col(key_col).isNotNull())
        .select(*group_cols, bucket.alias("bucket"), r.alias("r"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("r").alias("r"))
    )
    agg = regs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_registers"),
        F.max("r").alias("max_r"),
        F.sum(
            F.pow(F.lit(2.0), F.lit(_POW) - F.col("r")).cast("long")
        ).alias("sum_pow"),
    )
    return agg.select(
        *group_cols,
        "n_registers",
        "max_r",
        "sum_pow",
        _estimate_cols(m, F.col("sum_pow"), F.col("n_registers")).alias(
            "est_distinct"
        ),
    )


def hll_error_bound(p: int) -> float:
    """The published standard error 1.04/√m for a given precision."""
    return 1.04 / math.sqrt(float(_check_p(p)))
