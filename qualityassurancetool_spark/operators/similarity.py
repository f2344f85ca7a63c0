"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — queries broadcast against the corpus,
dot products as sequential ``zip_with``/``aggregate`` folds (deterministic
left-to-right accumulation in double — bit-reproducible across engines,
unlike parallel float reductions).  Scale path: LSH bucketing via random
hyperplanes (deterministic md5-seeded) so each query probes one bucket
neighborhood instead of the full corpus; and an IVF-style coarse
quantization with driver-literal centroids (the broadcast-dim analog).

Physical-plan notes (these shaped the implementation):

- **Norms are precomputed per row, never per candidate pair.**  Inlining
  ``cosine_similarity(q, c)`` after the candidate join re-evaluates both
  L2 norms for every pair (Catalyst has no CSE inside higher-order-function
  lambdas), tripling the fold work.  Each side carries its norm through
  the join instead; the float op order (``dot / (norm_a * norm_b)``) is
  unchanged, so results are bit-identical.
- **All hyperplanes live in ONE nested array literal** (planes transposed
  to ``planes_by_dim[d][p]``), and all plane dot products accumulate in a
  single left-to-right fold.  The naive form — one ``F.lit`` per weight —
  builds an 8x64-node expression tree through py4j one call at a time
  (~2 s of driver time per fresh plan) and bloats codegen; the transposed
  literal is a single Literal node.  Per-plane accumulation order over
  dims is identical, so bucket ids are bit-identical to the naive form.
- **Centroid assignment is join-free and shuffle-free**: centroids are
  collected (they are a small dim by construction — the 100 TB design
  broadcasts them) into one nested literal, and each row picks its
  ``n_nearest`` centroids with an ``array_sort`` over (dist, id) structs.
  The previous corpus×centroids broadcast join + window ``row_number``
  shuffled the whole corpus by vec_id just to rank centroids per row.

At 100 TB the corpus side stays partitioned; only queries broadcast.  Top-k
per query is a window ``row_number`` — shuffle bounded by candidate count.

Reference parity: the reference has no similarity search; this is a
driver-contract scale operator (BASELINE.json north star).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window


def dot_product(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double precision (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot_product(a, b) / denom)


def _pair_cosine(qvec: Column, cvec: Column, qnorm: Column, cnorm: Column) -> Column:
    """Cosine from precomputed norms — same op order as
    :func:`cosine_similarity` (``dot / (norm_q * norm_c)``), bit-identical,
    but each norm is evaluated once per row instead of once per pair."""
    denom = qnorm * cnorm
    return F.when(denom > 0, dot_product(qvec, cvec) / denom)


def _topk_by_cosine(scored: DataFrame, query_id_col: str, k: int) -> DataFrame:
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        # a NULL cosine (zero-norm vector: _pair_cosine's denom guard)
        # is "no defined similarity", not a candidate: desc sorts nulls
        # last but row_number still ranks them into a top-k with < k
        # finite rows, which broke fold-vs-gemm row-count parity (the
        # GEMM kernels drop non-finite scores) — review finding, round 8.
        # The null test rides ABOVE the window with the rank filter: a
        # where() below it gets predicate-pushed under the projection
        # and re-evaluates the O(dim) cosine fold per pair (measured
        # +40 % on sim_topk); DESC sorts nulls last, so rank ∧ not-null
        # is the same set at one fold.
        scored.withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") <= k) & F.col("cosine").isNotNull())
        .drop("_rn")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    strategy: str = "fold",
) -> DataFrame:
    """Exact top-k cosine neighbors per query (excluding self-matches).

    ``queries`` must be small; the corpus never moves.  Deterministic
    tie-break on (similarity desc, corpus id asc).  Two physical
    strategies, same results at 6-dp rounding:

    - ``"fold"`` (default): pure Column sequential folds —
      bit-reproducible left-to-right accumulation (the
      cross-engine-exact mode), and faster for SMALL query sets where
      Arrow/worker overhead would dominate (measured: 8 queries ×
      5 k × 64-dim corpus runs ~25 % faster than GEMM);
    - ``"gemm"``: queries collect to a numpy matrix, the corpus streams
      through ``mapInPandas`` Arrow batches, each batch scores ALL
      queries with one dense matmul and emits only its local top-k per
      query (global top-k ⊆ union of per-batch top-ks), so the shuffle
      is ``batches × queries × k`` rows.  The scale path once
      queries × dims is large enough for BLAS to beat the fold — the
      fold is O(pairs × dims) in generated code, GEMM amortizes across
      the whole query matrix (GEMM sums in a different float order;
      identical after the 6-dp round).
    """
    if strategy == "gemm":
        return _brute_force_topk_gemm(
            corpus, queries, k, vec_col, id_col, query_id_col
        )
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("_qvec"),
        l2_norm(F.col(vec_col)).alias("_qnorm"),
    )
    from qualityassurancetool_spark.functions.partitioning import (
        ensure_min_parallelism,
    )

    c = ensure_min_parallelism(corpus).withColumn(
        "_cnorm", l2_norm(F.col(vec_col))
    )
    joined = c.alias("c").join(
        F.broadcast(q), F.col(query_id_col) != F.col(f"c.{id_col}")
    )
    scored = joined.select(
        F.col(query_id_col),
        F.col(f"c.{id_col}").alias("neighbor_id"),
        _pair_cosine(
            F.col("_qvec"), F.col(f"c.{vec_col}"), F.col("_qnorm"), F.col("_cnorm")
        ).alias("cosine"),
    )
    return _topk_by_cosine(scored, query_id_col, k)


def _brute_force_topk_gemm(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str,
    id_col: str,
    query_id_col: str,
) -> DataFrame:
    """GEMM scoring path of :func:`brute_force_topk` (see its docstring).
    Rows with a zero denominator are dropped (the fold path's null
    cosines are likewise filtered in ``_topk_by_cosine``)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    q_rows = queries.select(id_col, vec_col).orderBy(id_col).collect()
    # id column TYPES follow the inputs (string ids are as legal as
    # longs — the mmr_rerank lesson; np.int64 casts rejected them).
    # object-dtype id arrays keep numpy broadcasting for the self-match
    # mask while never coercing the values.
    q_ids = np.asarray([r[0] for r in q_rows], dtype=object)
    schema = T.StructType(
        [
            T.StructField(query_id_col, queries.schema[id_col].dataType),
            T.StructField("neighbor_id", corpus.schema[id_col].dataType),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    if not q_rows:
        # the fold path returns an empty frame here; np.linalg.norm on
        # a (0,) matrix would raise instead (review finding, round 8)
        return queries.sparkSession.createDataFrame([], schema)
    q_mat = np.asarray([list(r[1]) for r in q_rows], dtype=np.float64)
    q_norms = np.linalg.norm(q_mat, axis=1)

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # pre-sort the batch by id: a STABLE argsort on -cosine then
            # preserves id-ascending among ties — same order as
            # np.lexsort((ids, -cos)) but valid for any sortable id type
            pdf = pdf.sort_values(id_col, kind="stable")
            ids = pdf[id_col].to_numpy()
            mat = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            norms = np.linalg.norm(mat, axis=1)
            denom = norms[:, None] * q_norms[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (mat @ q_mat.T) / denom
            cos[~np.isfinite(cos)] = -np.inf
            cos[ids[:, None] == q_ids[None, :]] = -np.inf  # self-matches
            kk = min(k, cos.shape[0])
            out_q, out_n, out_c = [], [], []
            for j in range(cos.shape[1]):
                # exact local top-k under the FINAL global order
                # (cosine desc, id asc) — a plain argpartition could cut a
                # boundary tie the global id tie-break would have kept
                order = np.argsort(-cos[:, j], kind="stable")[:kk]
                rows = order[cos[order, j] > -np.inf]
                out_q.append(np.full(len(rows), q_ids[j], dtype=object))
                out_n.append(ids[rows])
                out_c.append(cos[rows, j])
            yield pd.DataFrame(
                {
                    query_id_col: np.concatenate(out_q)
                    if out_q
                    else np.array([], dtype=object),
                    "neighbor_id": np.concatenate(out_n)
                    if out_n
                    else np.array([], dtype=object),
                    "cosine": np.concatenate(out_c)
                    if out_c
                    else np.array([], dtype=np.float64),
                }
            )

    from qualityassurancetool_spark.functions.partitioning import (
        ensure_min_parallelism,
    )

    scored = (
        ensure_min_parallelism(corpus)
        .select(id_col, vec_col)
        .mapInPandas(kernel, schema)
    )
    return _topk_by_cosine(scored, query_id_col, k)


def l2_sq(a: Column, b: Column) -> Column:
    """Sequential-fold squared L2 distance (deterministic, like
    :func:`dot_product`)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def nearest_centroids(
    vec: Column, cent_ids: list[int], cent_vecs: list[list[float]], n_nearest: int
) -> Column:
    """Array of the ``n_nearest`` centroid ids for ``vec``, nearest first
    (squared-L2, deterministic tie-break on centroid id).  Centroids are a
    single nested literal — no join, no shuffle, tiny expression tree.

    Distance accumulation order over dims matches :func:`l2_sq` exactly,
    and (dist, id) struct sort matches ``ORDER BY dist ASC, id ASC``, so
    assignments are bit-identical to the join+window formulation.

    The built tree is memoized per (input expression, centroid
    contents, n_nearest): the fold construction costs O(1) py4j round
    trips per centroid and is fully parameter-determined, so repeated
    query builds in a session reuse the JVM expression (exprmemo).
    """
    from qualityassurancetool_spark.functions.exprmemo import memoized_expr
    from qualityassurancetool_spark.functions.literals import (
        double_matrix_literal,
        long_array_literal,
    )

    ids_t = tuple(int(i) for i in cent_ids)
    vecs_t = tuple(tuple(float(x) for x in v) for v in cent_vecs)

    def _build() -> Column:
        dists = F.transform(
            double_matrix_literal(vecs_t),
            lambda cv: l2_sq(vec, cv),
        )
        pairs = F.zip_with(
            dists,
            long_array_literal(ids_t),
            lambda d, i: F.struct(d.alias("d"), i.alias("i")),
        )
        return F.transform(
            F.slice(F.array_sort(pairs), 1, n_nearest), lambda s: s["i"]
        )

    # column_key retains exprIds, so DataFrame-bound columns from
    # different frames key apart (round-11 advisor); a by-VALUE key
    # for the input column, never id()
    from qualityassurancetool_spark.functions.exprmemo import column_key

    return memoized_expr(
        ("nearest_centroids", column_key(vec), ids_t, vecs_t, int(n_nearest)),
        _build,
    )


def _collect_centroids(
    centroids: DataFrame, cent_id_col: str, cent_vec_col: str
) -> tuple[list[int], list[list[float]]]:
    """Collect the (small) centroid dim to driver lists, ordered by id.
    Exactly one Spark job per call (the dim is sorted on the driver: an
    ``orderBy`` would add a range-sampling job and a shuffle stage), so
    a refit written over the same path is read afresh by the next
    build."""
    rows = centroids.select(cent_id_col, cent_vec_col).collect()
    rows.sort(key=lambda r: (r[0] is not None, r[0]))
    return [r[0] for r in rows], [list(r[1]) for r in rows]


def _assign_to(
    corpus: DataFrame,
    ids: list[int],
    vecs: list[list[float]],
    n_nearest: int,
    vec_col: str,
) -> DataFrame:
    near = nearest_centroids(F.col(vec_col), ids, vecs, n_nearest)
    exploded = corpus.select(
        "*", F.posexplode(near).alias("_pos", "cluster_id")
    )
    if n_nearest == 1:
        return exploded.drop("_pos")
    return exploded.withColumn("_cent_rank", F.col("_pos") + 1).drop("_pos")


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    n_nearest: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cent_id_col: str = "cent_id",
    cent_vec_col: str = "cent_vec",
) -> DataFrame:
    """Assign each vector to its ``n_nearest`` centroids by squared-L2
    (deterministic tie-break on centroid id).  Centroids are collected to a
    driver literal (small dim by design); the corpus never shuffles.
    Output: corpus columns + ``cluster_id`` (+ ``_cent_rank`` when
    n_nearest > 1).

    The assignment always goes through ``posexplode`` (a Generate), even
    for n_nearest=1: downstream joins on ``cluster_id`` make Catalyst
    infer ``isnotnull(cluster_id)``, and with a plain ``withColumn`` that
    filter is substituted through the Project and pushed into the source
    scan — re-evaluating the whole argmin fold on the raw (possibly
    single-split) scan, serially, and then again in the Project.  A
    Generate is a substitution barrier: the fold runs exactly once per
    row, after any repartition."""
    ids, vecs = _collect_centroids(centroids, cent_id_col, cent_vec_col)
    return _assign_to(corpus, ids, vecs, n_nearest, vec_col)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-style approximate top-k: corpus vectors live in their nearest
    centroid's inverted list; each query scores only the lists of its
    ``nprobe`` nearest centroids.

    The 100 TB shape: centroids are a broadcast/literal dim (10^3-10^5
    rows); the corpus is partitioned/bucketed by ``cluster_id`` so a query
    touches ``nprobe/n_centroids`` of the data; queries broadcast.  Work
    ratio vs brute force ~= nprobe / n_centroids.
    """
    from qualityassurancetool_spark.functions.partitioning import (
        ensure_min_parallelism,
    )

    # one centroid collect feeds both assignment sites
    ids, vecs = _collect_centroids(centroids, "cent_id", "cent_vec")
    c_assigned = _assign_to(
        ensure_min_parallelism(corpus), ids, vecs, 1, vec_col
    ).withColumn("_cnorm", l2_norm(F.col(vec_col)))
    q_assigned = _assign_to(
        queries.select(
            F.col(id_col).alias(query_id_col),
            F.col(vec_col).alias("_qvec"),
            l2_norm(F.col(vec_col)).alias("_qnorm"),
        ),
        ids,
        vecs,
        nprobe,
        "_qvec",
    ).select(query_id_col, "_qvec", "_qnorm", "cluster_id")
    joined = c_assigned.alias("c").join(
        F.broadcast(q_assigned).alias("q"),
        (F.col("c.cluster_id") == F.col("q.cluster_id"))
        & (F.col(query_id_col) != F.col(f"c.{id_col}")),
    )
    scored = joined.select(
        F.col(query_id_col),
        F.col(f"c.{id_col}").alias("neighbor_id"),
        _pair_cosine(
            F.col("_qvec"), F.col(f"c.{vec_col}"), F.col("_qnorm"), F.col("_cnorm")
        ).alias("cosine"),
    )
    return _topk_by_cosine(scored, query_id_col, k)


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from md5 — reproducible
    across runs/engines without RNG state."""
    import hashlib

    vals = []
    for d in range(dim):
        h = hashlib.md5(f"plane{plane_idx}:{d}".encode()).hexdigest()
        # map 8 hex chars to [-1, 1)
        vals.append(int(h[:8], 16) / float(2 ** 31) - 1.0)
    return vals


def lsh_bucket_id(vec: Column, dim: int, n_planes: int = 8) -> Column:
    """Random-hyperplane LSH bucket (n_planes sign bits → int).

    All planes ship as one transposed nested literal and all dot products
    accumulate in a single fold; per-plane accumulation order over dims —
    and therefore every bucket id — is bit-identical to evaluating
    :func:`dot_product` per plane.

    The tree is memoized per (input expression, dim, n_planes) — the
    planes are md5-deterministic, so the parameters fully determine
    the expression and repeated query builds reuse it (exprmemo).
    """
    from qualityassurancetool_spark.functions.exprmemo import memoized_expr
    from qualityassurancetool_spark.functions.literals import (
        double_matrix_literal,
        long_array_literal,
    )

    def _build() -> Column:
        planes = [_hyperplane(dim, p) for p in range(n_planes)]
        planes_by_dim = tuple(
            tuple(planes[p][d] for p in range(n_planes)) for d in range(dim)
        )
        powers = tuple(1 << p for p in range(n_planes))
        partial = F.zip_with(
            vec,
            double_matrix_literal(planes_by_dim),
            lambda x, ps: F.transform(ps, lambda w: x.cast("double") * w),
        )
        dots = F.aggregate(
            partial,
            F.array_repeat(F.lit(0.0), n_planes),
            lambda acc, a: F.zip_with(acc, a, lambda u, v: u + v),
        )
        return F.aggregate(
            F.zip_with(
                dots,
                long_array_literal(powers),
                lambda d, pw: F.when(d >= 0, pw).otherwise(F.lit(0)),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    from qualityassurancetool_spark.functions.exprmemo import column_key

    return memoized_expr(
        ("lsh_bucket_id", column_key(vec), int(dim), int(n_planes)), _build
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: only corpus vectors in the query's LSH bucket are
    scored.  ~2^n_planes× less work than brute force; recall depends on
    bucket granularity (callers trade n_planes for recall)."""
    from qualityassurancetool_spark.functions.partitioning import (
        ensure_min_parallelism,
    )

    c = (
        ensure_min_parallelism(corpus)
        .withColumn("_bucket", lsh_bucket_id(F.col(vec_col), dim, n_planes))
        .withColumn("_cnorm", l2_norm(F.col(vec_col)))
    )
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("_qvec"),
        l2_norm(F.col(vec_col)).alias("_qnorm"),
        lsh_bucket_id(F.col(vec_col), dim, n_planes).alias("_qbucket"),
    )
    joined = c.alias("c").join(
        F.broadcast(q),
        (F.col("c._bucket") == F.col("_qbucket"))
        & (F.col(query_id_col) != F.col(f"c.{id_col}")),
    )
    scored = joined.select(
        F.col(query_id_col),
        F.col(f"c.{id_col}").alias("neighbor_id"),
        _pair_cosine(
            F.col("_qvec"), F.col(f"c.{vec_col}"), F.col("_qnorm"), F.col("_cnorm")
        ).alias("cosine"),
    )
    return _topk_by_cosine(scored, query_id_col, k)


def blocked_cosine_pairs(
    df: DataFrame,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
) -> DataFrame:
    """All same-block vector pairs with cosine >= threshold, computed as one
    dense GEMM per block (``V @ V.T`` in float64 BLAS) inside
    ``applyInPandas``.

    This is the scale path for pairwise near-dup scoring: an n-vector block
    costs one n x n matrix multiply (BLAS, ~10 GFLOP/s/core) instead of
    n^2/2 interpreted higher-order-function folds — measured ~40x less CPU
    per pair at 64 dims.  Blocks shuffle by ``block_col``; the caller must
    bound block size (label blocking here; at 100 TB an LSH-bucket prefix
    caps blocks so each GEMM fits a worker — see ``lsh_bucket_id``).

    Float semantics: products are float64 (inputs upcast like SQL
    ``CAST(x AS DOUBLE)``); BLAS accumulates in a different order than a
    sequential fold, so raw cosines can differ from the fold path in the
    last ulps.  All consumers round to 6 dp, where both paths agree.
    """
    from pyspark.sql.types import DoubleType, StructField, StructType

    # id TYPES follow the input (string ids are as legal as longs —
    # the mmr_rerank lesson; the hardcoded "long" DDL rejected them)
    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField(f"{id_col}_a", id_type),
            StructField(f"{id_col}_b", id_type),
            StructField("cosine", DoubleType()),
        ]
    )

    def score(pdf):
        import numpy as np
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame(
                {f"{id_col}_a": [], f"{id_col}_b": [], "cosine": []}
            )
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        mat = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col].iloc[order]]
        )
        nrm = np.sqrt((mat * mat).sum(axis=1))
        gram = (mat @ mat.T) / np.outer(nrm, nrm)
        iu, ju = np.triu_indices(len(ids), k=1)
        cos = gram[iu, ju]
        keep = cos >= threshold
        return pd.DataFrame(
            {
                f"{id_col}_a": ids[iu[keep]],
                f"{id_col}_b": ids[ju[keep]],
                "cosine": cos[keep],
            }
        )

    return df.select(id_col, block_col, vec_col).groupBy(block_col).applyInPandas(
        lambda _, pdf: score(pdf), out_schema
    )


# ------------------------------------------------------------ quantization

def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    out_vec: str = "qvec",
    out_scale: str = "qscale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``q = round(v/s)`` with
    ``s = max|v| / 127`` — the standard storage/bandwidth reduction for
    ANN at corpus scale (4× smaller vectors, dot products stay rank-
    faithful to ~1e-2 relative).  Pure Column exprs: one ``aggregate``
    fold for the scale, one ``transform`` for the components; no Python.

    Zero vectors get scale 0 and all-zero components (dequantizes to the
    zero vector exactly)."""
    from qualityassurancetool_spark.functions.partitioning import (
        compute_behind_barrier,
    )

    v = F.col(vec_col)
    amax = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    s = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(0.0))
    # the scale is referenced TWICE inside the transform lambda: stage
    # it behind a barrier like l2_normalize does, or CollapseProject
    # inlines the O(dim) max-abs fold at both references and the fold
    # re-runs per element (no CSE inside HOF lambdas — review finding)
    df = compute_behind_barrier(df, {out_scale: s})
    q = F.transform(
        v,
        lambda x: F.when(F.col(out_scale) > 0, F.round(x / F.col(out_scale)))
        .otherwise(F.lit(0.0))
        .cast("tinyint"),
    )
    return df.withColumn(out_vec, q)


def dequantize_int8(
    qvec: Column,
    scale: Column,
) -> Column:
    """Inverse of :func:`quantize_int8` (float array; max per-component
    error = scale/2)."""
    return F.transform(qvec, lambda x: x.cast("double") * scale)


def exact_rerank(
    candidates: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact-distance rerank of an ANN candidate list — the standard
    second stage over PQ/IVFADC shortlists (Jégou et al. 2011 §V.C):
    search with cheap approximate distances at high k, then re-score
    only the shortlist against the raw vectors and keep the true top-k.
    Recovers the ADC families' quantization-induced ranking errors;
    the recall ceiling becomes "is the true neighbor in the probed
    shortlist at all".

    ``candidates``: (query_id, neighbor_id) — typically ``pq_topk`` /
    ``ivfadc_topk`` output at ``k=R`` (R ≈ 3–10×k).  Cost: ONE
    broadcast-semi-shaped join of the (queries × R)-row shortlist
    against the corpus by id — the corpus never scores outside the
    shortlist — plus the per-pair exact distance.  Output:
    (query_id, neighbor_id, cosine|l2_dist), top-k per query,
    deterministic tie-break on neighbor id.
    """
    if metric not in ("cosine", "l2"):
        raise ValueError(f"metric must be 'cosine' or 'l2', got {metric!r}")
    # shortlists are often UNIONS (multi-probe, PQ+IVF): dedup pairs
    # here — a duplicate pair would otherwise occupy two top-k slots.
    # The distinct is over the query-sized shortlist, not the corpus.
    cand = candidates.select(query_id_col, "neighbor_id").distinct()
    qv = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        l2_norm(F.col(vec_col)).alias("_qnorm"),
    )
    # shortlist × query-vectors: both sides are query-sized — broadcast;
    # then ONE broadcast hash join hydrates candidate vectors from the
    # corpus scan (the corpus never scores outside the shortlist)
    pairs = cand.join(F.broadcast(qv), query_id_col)
    cvec = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cvec"),
        l2_norm(F.col(vec_col)).alias("_cnorm"),
    )
    hydrated = cvec.join(F.broadcast(pairs), "neighbor_id")
    if metric == "cosine":
        # norms precomputed per SIDE, cosine via _pair_cosine — the
        # module rule (one fold per pair, not three; a query in R pairs
        # must not recompute its norm R times — review finding)
        scored = hydrated.select(
            query_id_col,
            "neighbor_id",
            _pair_cosine(
                F.col("_qvec"), F.col("_cvec"),
                F.col("_qnorm"), F.col("_cnorm"),
            ).alias("cosine"),
        )
        return _topk_by_cosine(scored, query_id_col, k)
    scored = hydrated.select(
        query_id_col,
        "neighbor_id",
        F.sqrt(l2_sq(F.col("_qvec"), F.col("_cvec"))).alias("l2_dist"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("l2_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def l2_normalize(
    df: DataFrame, vec_col: str = "embedding", out_col: str | None = None
) -> DataFrame:
    """Unit-normalize a vector column (``out_col`` defaults to
    replacing ``vec_col``).  Run this ONCE at ingest when serving the
    ADC families: on unit vectors L2 ordering ≡ cosine ordering
    (‖a−b‖² = 2 − 2·cos), so PQ/IVFADC's L2-trained codes rank by the
    metric queries actually want — the recall gap measured in
    `tools/ann_recall.py` between ADC (L2) and the cosine ground truth
    is largely this mismatch.  Zero vectors pass through unchanged
    (null would poison downstream folds; callers filter them).
    Row-local; one fold for the norm, one transform."""
    out = out_col or vec_col
    # the norm is referenced inside the transform lambda: stage it
    # behind a barrier so it is not re-evaluated per element (no CSE
    # inside HOF lambdas)
    from qualityassurancetool_spark.functions.partitioning import (
        compute_behind_barrier,
    )

    staged = compute_behind_barrier(df, {"_vnorm": l2_norm(F.col(vec_col))})
    unit = F.when(
        F.col("_vnorm") > 0,
        F.transform(
            F.col(vec_col), lambda x: x.cast("double") / F.col("_vnorm")
        ),
    ).otherwise(F.transform(F.col(vec_col), lambda x: x.cast("double")))
    return staged.withColumn(out, unit).drop("_vnorm")


def mmr_rerank(
    candidates: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    score_col: str = "cosine",
) -> DataFrame:
    """Maximal Marginal Relevance diversification of an ANN shortlist
    (Carbonell & Goldstein, SIGIR 1998): greedily select ``k`` results
    per query maximizing ``lam·sim(q,d) − (1−lam)·max_{s∈S} sim(d,s)``
    — near-duplicate hits in the shortlist stop crowding out coverage
    (retrieval for data curation surfaces the SAME boilerplate page N
    times without this).

    ``candidates``: (query_id, neighbor_id, score_col) — a
    ``brute_force_topk`` / ``exact_rerank`` / ``*_topk`` shortlist at
    generous k.  Returns (query_id, neighbor_id, score_col, mmr_rank)
    with mmr_rank ∈ [1, k] in selection order.

    Scale shape: shortlists are (queries × m) rows by contract — tiny.
    One hash join pulls each candidate's vector from the corpus (the
    corpus never moves), then the greedy loop runs per-query in an
    Arrow ``applyInPandas`` over ≤ m vectors with numpy pairwise sims —
    O(k·m) per query on metadata-scale data.  Ties (equal MMR score)
    break on smaller neighbor id, so selection is total-order
    deterministic.  CONTRACT: every candidate's ``neighbor_id`` must
    exist in ``corpus`` — the vector join is inner, so a shortlist
    computed against a newer index than the corpus frame silently loses
    the missing rows; validate upstream when the two can drift."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not (0.0 <= lam <= 1.0):
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    cand = candidates.select(
        query_id_col, "neighbor_id", F.col(score_col).cast("double")
    )
    withv = cand.join(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_v")
        ),
        "neighbor_id",
    )
    # id column TYPES follow the inputs (string corpus ids are as legal
    # here as longs — review finding; hardcoded LongType rejected them)
    qid_type = candidates.schema[query_id_col].dataType
    nid_type = corpus.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField(query_id_col, qid_type),
            StructField("neighbor_id", nid_type),
            StructField(score_col, DoubleType()),
            StructField("mmr_rank", IntegerType()),
        ]
    )

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            [score_col, "neighbor_id"], ascending=[False, True]
        ).reset_index(drop=True)
        X = np.stack(pdf["_v"].map(np.asarray, "ignore").to_numpy())
        X = X.astype(np.float64)
        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0] = 1.0
        U = X / norms[:, None]
        sims = U @ U.T  # candidate-candidate cosine, m x m
        rel = pdf[score_col].to_numpy()
        ids = pdf["neighbor_id"].to_numpy()
        chosen: list[int] = []
        remaining = list(range(len(pdf)))
        while remaining and len(chosen) < k:
            if chosen:
                red = sims[np.ix_(remaining, chosen)].max(axis=1)
            else:
                red = np.zeros(len(remaining))
            mmr = lam * rel[remaining] - (1 - lam) * red
            # argmax with smaller-id tie-break (type-generic: negating
            # the score, not the id, so string ids work too)
            best = min(
                range(len(remaining)),
                key=lambda i: (-mmr[i], ids[remaining[i]]),
            )
            chosen.append(remaining.pop(best))
        return pd.DataFrame(
            {
                query_id_col: pdf[query_id_col].iloc[chosen].to_numpy(),
                "neighbor_id": ids[chosen],
                score_col: rel[chosen],
                "mmr_rank": np.arange(1, len(chosen) + 1, dtype="int32"),
            }
        )

    return withv.groupBy(query_id_col).applyInPandas(pick, out_schema)
