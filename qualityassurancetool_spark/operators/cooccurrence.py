"""Bipartite co-occurrence projection — item–item edges from
user–item interactions ("users who touched A also touched B").

The projection is the canonical market-basket / related-content /
co-citation primitive, and it is where naive dataflow dies at scale:
pair generation is quadratic in a user's basket size, so one crawler
account or bot session with 10^6 items would emit 10^12 pairs from a
single task (the same last-reducer shape as triangle counting's hub
wedge problem, ``operators/graph.triangle_count``).  The operator
therefore takes a ``max_per_user`` cap applied DETERMINISTICALLY
(the lexicographically smallest items win, so reruns and engines
agree) before any pair is formed — the standard practice from
co-citation analysis, where power users are truncated rather than
allowed to densify the graph quadratically.

Two physical regimes (picked by whether a cap is set, because the
cap changes what is safe to materialize):
 - CAPPED: one shuffle on the user key builds each user's sorted
   distinct item array; pair generation is a JVM higher-order
   ``transform × slice`` nested comprehension over that array (no
   Python UDF, no self-join scan of the interaction table), and the
   final (a, b) count is a partial-agg shuffle of item-pair keys
   only.  Per-task work and the per-row array are bounded by
   cap²/2.
 - UNCAPPED: the comprehension would materialize a user's whole
   pair array as ONE row before exploding — a 30 k-item bot basket
   is 450 M structs in a single task's heap, an executor OOM (not a
   slowdown; metered in docs/SCALE.md, "Event-stream analytics").  So the
   uncapped path uses the streaming self-join on the user key
   instead: quadratic WORK remains the caller's explicit choice,
   but pairs stream through the partial aggregation, spill, and
   finish.

Cross-engine: ``tools/extra_oracles.py::x_cooccurrence`` — DuckDB
row_number-capped self-join replica.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def cooccurrence(
    interactions: DataFrame,
    user_col: str = "user_id",
    item_col: str = "item_id",
    max_per_user: int | None = None,
    min_count: int = 1,
) -> DataFrame:
    """Item-pair co-occurrence counts: ``(item_a, item_b, n_users)``
    with ``item_a < item_b`` canonical ordering, counting DISTINCT
    users (duplicate interactions collapse first).

    ``max_per_user``: keep only each user's smallest ``max_per_user``
    distinct items before pairing — the quadratic-blowup guard.
    ``min_count``: drop pairs seen by fewer users (support floor).
    """
    if max_per_user is not None and max_per_user < 2:
        raise ValueError(
            f"max_per_user must be >= 2 (or None), got {max_per_user}"
        )
    ui = (
        interactions.select(
            F.col(user_col).alias("_u"), F.col(item_col).alias("_i")
        )
        .where(F.col("_u").isNotNull() & F.col("_i").isNotNull())
        .distinct()
    )
    if max_per_user is None:
        # UNCAPPED regime: the HOF comprehension below would
        # materialize a user's ENTIRE pair array as one row before
        # exploding — a 30k-item bot basket is 450M structs in a
        # single task's heap, an OOM, not a slowdown (metered:
        # docs/SCALE.md, "Event-stream analytics").  The self-join formulation
        # streams pairs through the partial aggregation instead:
        # quadratic WORK is still the caller's risk, but it spills
        # and finishes rather than killing the executor.
        left = ui.select("_u", F.col("_i").alias("item_a"))
        right = ui.select("_u", F.col("_i").alias("item_b"))
        out = (
            left.join(right, "_u")
            .where(F.col("item_a") < F.col("item_b"))
            .groupBy("item_a", "item_b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        )
        if min_count > 1:
            out = out.where(F.col("n_users") >= min_count)
        return out
    basket = ui.groupBy("_u").agg(
        F.array_sort(F.collect_list("_i")).alias("_items")
    )
    basket = basket.select(
        "_u", F.slice("_items", 1, max_per_user).alias("_items")
    )
    items = F.col("_items")
    n = F.size(items)
    # all ordered pairs (items[i], items[j]) with i < j: for each
    # position, pair its element with every later element — stays
    # entirely inside whole-stage codegen
    pairs = F.flatten(
        F.transform(
            items,
            lambda x, i: F.transform(
                F.slice(items, i + 2, n),
                lambda y: F.struct(
                    x.alias("item_a"), y.alias("item_b")
                ),
            ),
        )
    )
    out = (
        basket.select(F.explode(pairs).alias("_p"))
        .groupBy(
            F.col("_p.item_a").alias("item_a"),
            F.col("_p.item_b").alias("item_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )
    if min_count > 1:
        out = out.where(F.col("n_users") >= min_count)
    return out
