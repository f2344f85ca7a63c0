"""PageRank over an edge DataFrame — domain/document authority scores.

Training-data curation weighs sources by link authority (the OpenWebText
"karma" filter, Common-Crawl domain ranking): given a (src, dst) edge
table, produce a stationary-ish importance score per node.  Complements
``operators/components`` (connected components) as the second classic
iterative-graph workload.

Spark shape (Page et al. 1999; the standard dataflow formulation):
 - edges are hash-partitioned ONCE on ``src`` and persisted by the
   caller for iteration (every round's contribution join then reuses
   that partitioning — one shuffle of the rank table per round, the
   irreducible PageRank cost, and none of the edge table);
 - each round is contribs = edges ⋈ ranks (rank/out_degree, partial-agg
   summed by dst) + the dangling-mass scalar folded in as a broadcast
   one-row crossJoin (lazy — no driver action in the loop body);
 - the rank table is ``localCheckpoint``-ed each round: it is referenced
   TWICE per round (contributions and dangling mass), so without
   lineage truncation the logical plan doubles per round — exponential
   analysis cost that OOMs the driver after ~8 rounds (the
   ``components.py`` discipline; substitute ``checkpoint()`` on a real
   cluster for executor-loss tolerance).

Scores are damped sums of double terms: cross-engine runs agree to
~1e-12 relative, so the oracle compares ranks rounded to 8 dp
(``tools/extra_oracles.py::x_pagerank`` — fixed-iteration chained-CTE
SQL replica, sign-normalized like every rounded oracle output).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _ckpt_rdd_id(df: DataFrame) -> int | None:
    """Block-manager RDD id backing an eager ``localCheckpoint`` frame
    (the analyzed plan is a LogicalRDD over the checkpointed RDD).
    Returns None if the plan shape is not the expected LogicalRDD —
    callers then simply skip the explicit free and fall back to the
    ContextCleaner's GC-driven cleanup."""
    try:
        return df._jdf.queryExecution().analyzed().rdd().id()
    except Exception:
        return None


def _free_ckpt(df: DataFrame, rdd_id: int | None) -> None:
    """Explicitly drop the blocks of a SUPERSEDED localCheckpoint.

    Iterative operators checkpoint per round; without this, every
    round's blocks stay in the block manager until the driver happens
    to GC the py4j handles (the ContextCleaner is reference-queue
    driven), so repeated invocations in one session accumulate
    hundreds of MB of dead checkpoint blocks.  Only ever call this on
    a frame that is never referenced again — a freed checkpoint
    cannot be recomputed (lineage was truncated)."""
    if rdd_id is None:
        return
    try:
        jrdd = df.sparkSession.sparkContext._jsc.getPersistentRDDs().get(
            rdd_id
        )
        if jrdd is not None:
            jrdd.unpersist(False)
    except Exception:
        pass


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    tol: float | None = None,
) -> DataFrame:
    """``(node, rank)`` after ``iters`` synchronous rounds from a
    uniform start.  Nodes are everything appearing as src or dst;
    parallel edges count once per occurrence (weight them upstream by
    pre-aggregating if that is not wanted); nodes without out-edges
    (dangling) redistribute their mass uniformly — ranks sum to 1
    every round.

    ``tol``: when set, stop early once ``max |Δrank|`` over nodes
    drops below it (one extra max-agg job per round — the L∞ residual,
    the standard power-iteration stop); ``iters`` then caps the worst
    case.  Graphs with 2-cycles can oscillate without damping ever
    converging pointwise — the cap, not the tolerance, ends those."""
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    if tol is not None and tol <= 0:
        raise ValueError(f"tol must be > 0, got {tol}")
    if not (0.0 <= damping <= 1.0):
        raise ValueError(f"damping must be in [0, 1], got {damping}")

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        nodes.unpersist()
        return nodes.withColumn("rank", F.lit(0.0))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg")).persist()
    deg.count()

    ranks = nodes.withColumn("rank", F.lit(1.0 / n)).localCheckpoint()
    ranks_id = _ckpt_rdd_id(ranks)
    for _ in range(iters):
        contribs = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("out_deg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        dangling = (
            ranks.join(
                deg.withColumnRenamed("src", "node"), "node", "left_anti"
            )
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dang"))
        )
        new_ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("_dang") / F.lit(float(n))
                    )
                ).alias("rank"),
            )
            .localCheckpoint()  # truncate lineage: see module docstring
        )
        new_id = _ckpt_rdd_id(new_ranks)
        if tol is not None:
            delta = (
                new_ranks.withColumnRenamed("rank", "_new")
                .join(ranks, "node")
                .agg(F.max(F.abs(F.col("_new") - F.col("rank"))).alias("d"))
                .collect()[0]["d"]
            )
            # the delta agg was the old checkpoint's last reference
            _free_ckpt(ranks, ranks_id)
            ranks, ranks_id = new_ranks, new_id
            if delta is not None and delta < tol:
                break
        else:
            _free_ckpt(ranks, ranks_id)
            ranks, ranks_id = new_ranks, new_id
    nodes.unpersist()
    deg.unpersist()
    return ranks


def pagerank_sql(
    edges_cte: str,
    iters: int = 5,
    damping: float = 0.85,
    round_dp: int = 8,
) -> str:
    """Chained-CTE SQL replica of :func:`pagerank` for a fixed
    iteration count — the cross-engine oracle twin.  ``edges_cte`` is a
    SELECT yielding (src, dst).  Emits (node, rank_r) with rank rounded
    to ``round_dp`` and -0.0-normalized."""
    d = damping
    parts = [
        f"edges AS ({edges_cte})",
        "nodes AS (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges)",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)",
        "deg AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src)",
        "r0 AS (SELECT node, 1.0 / n AS rank FROM nodes, nn)",
    ]
    for i in range(iters):
        p, q = f"r{i}", f"r{i + 1}"
        parts.append(
            f"""{q} AS (
  WITH contrib AS (
    SELECT e.dst AS node, SUM(r.rank / deg.out_deg) AS contrib
    FROM edges e JOIN {p} r ON e.src = r.node JOIN deg ON e.src = deg.src
    GROUP BY e.dst
  ),
  dang AS (
    SELECT COALESCE(SUM(r.rank), 0.0) AS dang FROM {p} r
    WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.src = r.node)
  )
  SELECT nodes.node,
         (1.0 - {d}) / nn.n
           + {d} * (COALESCE(c.contrib, 0.0) + dang.dang / nn.n) AS rank
  FROM nodes LEFT JOIN contrib c ON nodes.node = c.node, nn, dang
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, round(rank, {round_dp}) + 0.0 AS rank_r"
        f" FROM r{iters}"
    )


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts over an UNDIRECTED graph (self-loops
    dropped, direction/duplicates collapsed): ``(node, n_triangles)``
    for every node in at least one triangle.

    The node-iterator shape with the classic degree-ordering bound
    (Suri & Vassilvitskii 2011, "Counting triangles and the curse of
    the last reducer"): orient each canonical edge from its
    lower-(degree, id) endpoint to the higher one, so wedges are only
    generated at a triangle's SMALLEST-degree vertex — a high-degree
    hub never fans out its full neighbor square, which is exactly the
    last-reducer pathology on power-law web graphs.  Three shuffles
    total (degrees, wedge build, closing-edge semi-join), each on
    8-byte node keys; Catalyst plans the closing check as an equi-join
    on the (v, w) pair.

    Cross-engine: ``tools/extra_oracles.py::x_triangles`` — DuckDB
    canonical u<v<w triple-join replica."""
    e = (
        edges.select(
            F.col(src).cast("long").alias("a"),
            F.col(dst).cast("long").alias("b"),
        )
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient: lower (degree, id) endpoint -> higher
    ed = (
        e.join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(
                F.struct(F.col("v").alias("s"), F.col("u").alias("t"))
            )
            .alias("o")
        )
        .select("o.s", "o.t")
    )
    e1 = ed.select(F.col("s").alias("w0"), F.col("t").alias("w1"))
    e2 = ed.select(F.col("s").alias("w0"), F.col("t").alias("w2"))
    wedges = e1.join(e2, "w0").where(F.col("w1") < F.col("w2"))
    # the closing edge may be oriented either way between w1 and w2
    closing = ed.select(
        F.least("s", "t").alias("c1"), F.greatest("s", "t").alias("c2")
    )
    tris = wedges.join(
        closing,
        (F.least("w1", "w2") == F.col("c1"))
        & (F.greatest("w1", "w2") == F.col("c2")),
        "leftsemi",
    )
    per_node = (
        tris.select(F.col("w0").alias("node"))
        .unionAll(tris.select(F.col("w1").alias("node")))
        .unionAll(tris.select(F.col("w2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return per_node


LOCAL_EDGE_THRESHOLD = 1_000_000  # ~16 MB of (long, long) rows on the driver


def _k_core_local(
    spark, pdf, k: int, max_iters: int
) -> DataFrame:
    """Driver-side synchronous peel over an Arrow-collected
    metadata-scale edge list (pandas frame of canonical distinct
    (u, v) rows).  Simulates the SAME wave-at-a-time Matula–Beck
    rounds as the distributed path — including the ``max_iters``
    budget and its non-convergence raise — so the two strategies are
    observationally identical (property-tested against each other).

    Vectorized (round 12): the dict/adjacency-list form spent ~3 s of
    interpreted Python on a 600 k-edge graph (2 appends + 2 dict
    increments per edge just to BUILD adjacency, then one dict op per
    edge touch in the waves — the whole sf1 kcore bench row).  The
    same synchronous waves in numpy — dense node indices from
    ``np.unique``, degrees via ``bincount``, each wave one boolean
    mask over the edge arrays — run the identical wave partition in
    C: a removed edge decrements its still-alive endpoint exactly
    once, nodes fall into wave ``w+1`` exactly when their
    post-wave-``w`` degree drops under ``k``."""
    import numpy as np
    import pandas as pd

    u = pdf.iloc[:, 0].to_numpy(dtype=np.int64, copy=False)
    v = pdf.iloc[:, 1].to_numpy(dtype=np.int64, copy=False)
    uniq, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    ui, vi = inv[: len(u)], inv[len(u):]
    nn = len(uniq)
    deg = np.bincount(ui, minlength=nn) + np.bincount(vi, minlength=nn)
    alive_n = np.ones(nn, dtype=bool)
    alive_e = np.ones(len(ui), dtype=bool)
    waves = 0
    wave = deg < k
    while wave.any():
        waves += 1
        if waves > max_iters:
            raise RuntimeError(_KCORE_NONCONVERGED.format(max_iters=max_iters))
        alive_n[wave] = False
        hit = alive_e & (wave[ui] | wave[vi])
        hu, hv = ui[hit], vi[hit]
        dec = np.bincount(
            hu[alive_n[hu]], minlength=nn
        ) + np.bincount(hv[alive_n[hv]], minlength=nn)
        deg = deg - dec
        alive_e &= ~hit
        wave = alive_n & (deg < k)
    # Arrow-path createDataFrame (pandas in, int64 columns): the frame
    # lands as JVM-side Arrow batches, so downstream actions scan
    # InternalRows directly — a list-of-tuples parallelize would pay a
    # Python-worker round trip to unpickle the rows on EVERY action
    # (~0.4 s per count at 5k rows)
    out = pd.DataFrame(
        {
            "node": uniq[alive_n],
            "degree": deg[alive_n].astype(np.int64),
        }
    )
    return spark.createDataFrame(out, schema="node long, degree long")


_KCORE_NONCONVERGED = (
    "k_core did not converge within max_iters={max_iters}; "
    "raise max_iters — peel depth is the graph's degeneracy "
    "ordering length (long chain/lattice graphs peel "
    "O(diameter) rounds)"
)


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 200,
    strategy: str = "auto",
) -> DataFrame:
    """The k-core of an UNDIRECTED graph (self-loops dropped,
    direction/duplicates collapsed): the maximal subgraph in which
    every node has degree >= k.  Returns ``(node, degree)`` with the
    WITHIN-CORE degree — the spam/boilerplate-site peel filter of
    web-graph curation (low-core pages are link-farm leaves; the
    deep core is the densely-cross-linked hub mass).

    Matula–Beck peeling as dataflow: each round computes degrees
    (one partial-agg shuffle of 8-byte node keys, checkpointed —
    node-sized), counts the UNDER-degree nodes, and if any exist
    ANTI-joins the edge table against that peel wave.  The wave —
    not the surviving-node set — is the join dimension: it is the
    shrinking fringe (small every round for power-law graphs), so
    AQE turns both anti-joins into runtime broadcasts and the edge
    table never shuffles inside the loop; at a scale where a wave
    is genuinely huge AQE falls back to a shuffled join on its own
    (no local-only hint baked in).  The fixpoint test is the wave
    count itself — the final confirming round costs one degree agg
    and no edge-table work at all (round-11 optimization; the
    previous shape semi-joined survivors twice per round, shuffling
    the edge table, and paid a full extra join round to observe
    ``|e'| == |e|``).  Exactly TWO driver actions per round (the
    eager checkpoints; the wave count rides the node-sized deg
    checkpoint) — an emptied-out edge table needs no special case,
    its degree agg is empty so the fixpoint test fires.  The EDGE
    table only ever shrinks and text/payloads never enter the loop;
    rounds are bounded by the peel depth of the degeneracy
    ordering.  ``localCheckpoint`` truncates lineage per round (the
    ``components.py``/``pagerank`` discipline; use ``checkpoint()``
    on a real cluster for executor-loss tolerance), and each
    round's checkpoint blocks are explicitly freed as soon as the
    next round's checkpoint supersedes them — repeated k_core calls
    in one session previously accumulated every round's edge blocks
    until a driver GC happened to run.

    ``strategy``: ``"distributed"`` always runs the iterative peel;
    ``"local"`` Arrow-collects the canonical edge list and peels on
    the driver; ``"auto"`` (default) probe-collects up to
    ``LOCAL_EDGE_THRESHOLD + 1`` edges and picks — the same
    honest-default precedent as ``connected_components``: a graph
    under ~16 MB of (long, long) rows pays more in per-round job
    scheduling (2 driver actions x peel depth) than the whole local
    peel costs, while anything larger falls through to the
    distributed path, which re-executes the canonicalize pipeline.
    The local path simulates the SAME synchronous waves, including
    the ``max_iters`` budget and its non-convergence raise, so both
    strategies are observationally identical (property-tested
    against each other).

    Cross-engine: ``__spark_entry__.py`` query ``kcore`` — DuckDB
    fixed-depth unrolled-peel replica over a cascade graph built to
    converge within the unroll budget (the Spark side iterates to
    the true fixpoint; the test asserts the budget was enough).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if strategy not in ("auto", "distributed", "local"):
        raise ValueError(f"unknown strategy {strategy!r}")
    canon = (
        edges.select(
            F.col(src).cast("long").alias("a"),
            F.col(dst).cast("long").alias("b"),
        )
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
    )
    if strategy == "auto":
        # probe-collect (the connected_components discipline): ONE
        # execution of the dedup/canonicalize pipeline decides the
        # strategy AND supplies the local path's input; only on
        # overflow does the distributed path re-execute it.  Arrow
        # transfer keeps the driver ceiling at ~16 MB of long pairs.
        probe = canon.limit(LOCAL_EDGE_THRESHOLD + 1).toPandas()
        if len(probe) <= LOCAL_EDGE_THRESHOLD:
            return _k_core_local(edges.sparkSession, probe, k, max_iters)
    elif strategy == "local":
        return _k_core_local(
            edges.sparkSession, canon.toPandas(), k, max_iters
        )
    e = canon.localCheckpoint()
    e_id = _ckpt_rdd_id(e)
    for _ in range(max_iters + 1):
        # one pass over the checkpointed edges emits both endpoints;
        # the agg result is node-sized — checkpoint it so the wave
        # count and the anti-join dimension share one computation
        deg = (
            e.select(
                F.explode(F.array(F.col("u"), F.col("v"))).alias("node")
            )
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
            .localCheckpoint()
        )
        deg_id = _ckpt_rdd_id(deg)
        bad = deg.where(F.col("degree") < k)
        if bad.count() == 0:
            # no under-degree node => fixpoint; every endpoint of e
            # is in deg, so this IS the within-core degree sheet
            # (an emptied-out edge table lands here too: empty deg).
            # The result derives only from deg's blocks — the edge
            # checkpoint is dead weight from here on.
            _free_ckpt(e, e_id)
            return deg.where(F.col("degree") >= k).select(
                "node", F.col("degree").cast("long").alias("degree")
            )
        new_e = (
            e.join(bad.select(F.col("node").alias("u")), "u", "left_anti")
            .join(bad.select(F.col("node").alias("v")), "v", "left_anti")
            .select("u", "v")
            .localCheckpoint()
        )
        # new_e materialized eagerly from (e, deg): both superseded
        _free_ckpt(e, e_id)
        _free_ckpt(deg, deg_id)
        e, e_id = new_e, _ckpt_rdd_id(new_e)
    # genuinely unconverged — returning the degree>=k filter here
    # would present an intermediate peel state as "the core" (a
    # ~500-node path at k=2 peels only 2 endpoints per round,
    # needing ~250 rounds)
    raise RuntimeError(_KCORE_NONCONVERGED.format(max_iters=max_iters))
