"""Count-Min sketch — approximate frequencies with BOUNDED state.

Cormode & Muthukrishnan 2005 ("An improved data stream summary: the
count-min sketch and its applications"), the mergeable-summary
complement to ``operators/heavy_hitters``: Misra–Gries answers "which
keys are frequent" EXACTLY but only above a share floor; the CMS
answers point frequency queries for ANY key with a one-sided error
bound — estimate ≥ true count, and ≤ true + e/width · N with
probability ≥ 1 − (1/2)^depth-ish — out of ``depth × width`` integer
cells total, regardless of key cardinality.  That makes it the right
shape for corpus-frequency audit services at 100 TB: the sketch table
is a few thousand rows whatever the vocabulary is.

Spark shape, all declarative:

- **build** — ``depth`` (row, col) cell coordinates per item via the
  portable md5 hash family (salt ‖ row ‖ key), one partial-agged
  groupBy: the shuffle carries at most ``partitions × depth × width``
  pre-aggregated cells, never one record per key.
- **merge** — sketches are counters: union + groupBy(row, col) sum.
  Day-level sketches roll up to month/corpus level without rescanning
  (the Agarwal et al. "Mergeable Summaries" property).
- **query** — keys expand to their ``depth`` cells, broadcast-join the
  sketch, ``min`` per key; absent cells count 0.

Cross-engine: ``__spark_entry__.py`` query ``cms`` replicates the hash
family, build and query in DuckDB — cell-exact, not just bound-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qualityassurancetool_spark.functions.hashing import md5_long

_SALT = "cms:"


def _cell(key: F.Column, row: int, width: int) -> F.Column:
    """Column: the cell column index of ``key`` in hash row ``row``."""
    h = md5_long(key, salt=f"{_SALT}{row}:")
    return F.pmod(h, F.lit(width))


def cms_build(
    df: DataFrame,
    key_col: str,
    width: int = 2048,
    depth: int = 4,
) -> DataFrame:
    """Sketch table ``(row, col, n)`` over non-null keys — at most
    ``depth × width`` rows (absent cells are implicit zeros)."""
    if width < 1 or depth < 1:
        raise ValueError(f"width/depth must be >= 1, got {width}/{depth}")
    keyed = df.select(F.col(key_col).cast("string").alias("_k")).where(
        F.col("_k").isNotNull()
    )
    cells = keyed.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _cell(F.col("_k"), r, width).alias("col"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("_c")
    ).select("_c.row", "_c.col")
    return cells.groupBy("row", "col").agg(F.count(F.lit(1)).alias("n"))


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Pointwise sum of sketch tables built with the SAME (width,
    depth) — the mergeable-summary rollup."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("row", "col").agg(F.sum("n").alias("n"))


def cms_query(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    width: int = 2048,
    depth: int = 4,
) -> DataFrame:
    """``(key_col, est)`` point-frequency estimates for each key row —
    min over the key's ``depth`` cells; never underestimates.  The
    sketch is metadata-scale by construction and broadcasts."""
    cells = keys.select(F.col(key_col)).distinct().select(
        key_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _cell(
                            F.col(key_col).cast("string"), r, width
                        ).alias("col"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("_c"),
    ).select(key_col, "_c.row", "_c.col")
    joined = cells.join(F.broadcast(sketch), ["row", "col"], "left")
    return joined.groupBy(key_col).agg(
        F.min(F.coalesce(F.col("n"), F.lit(0))).alias("est")
    )
