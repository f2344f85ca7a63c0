"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the conf is chosen so the same code path
scales to a multi-executor cluster: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), Arrow on (pandas-UDF fast path), sensible
shuffle-partition default for the local scale (overridable by env).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _install_jvm_function_handle_cache() -> None:
    """Memoize PySpark's JVM function-handle lookup (driver-side only).

    Every ``F.<name>(...)`` call resolves the JVM-side function through
    ``_get_jvm_function``, which performs TWO py4j reflection round
    trips (``sc._jvm.functions`` view lookup + ``getattr`` member
    scan) before the actual invocation trip.  Reflection commands are
    the most expensive py4j traffic (~1 ms each: full member scan
    JVM-side), and an engine that builds thousands of Column
    expressions per query pays them constantly — measured 30.4k → 24.4k
    round trips and ~16 → ~10 s for one full 43-query build pass at
    sf0.1.  The returned ``JavaMember`` handles stay valid for the
    lifetime of the gateway; entries are keyed per function name and
    revalidated against the CURRENT SparkContext identity, so a
    stopped-and-recreated session never sees a stale handle (first use
    per name re-fetches).  Pure driver metadata — no query result,
    plan, or data is cached."""
    try:
        from pyspark.sql.functions import builtin as _builtin
    except ImportError:  # pragma: no cover - future pyspark layout
        return
    orig = getattr(_builtin, "_get_jvm_function", None)
    if orig is None or getattr(orig, "_qat_handle_cache", False):
        return
    cache: dict = {}

    def cached_get(name, sc):
        ent = cache.get(name)
        if ent is not None and ent[0] is sc:
            return ent[1]
        fn = orig(name, sc)
        cache[name] = (sc, fn)
        return fn

    cached_get._qat_handle_cache = True  # idempotence guard
    _builtin._get_jvm_function = cached_get


def _install_py4j_seq_fastpath() -> None:
    """Replace PySpark's per-element list→JVM conversion with a
    chunked fixed-arity build (driver-side only).

    py4j's ``ListConverter`` creates a ``java.util.ArrayList`` and
    calls ``add`` once PER ELEMENT — every round trip is a blocking
    socket exchange, so a 10-column ``select`` pays ~12 trips just to
    ship the column list, and one full 43-query build pass was
    measured at 902 list conversions / 2,141 element adds.  py4j can
    pass multiple JavaObject references in ONE call command, and
    ``java.util.List.of`` has fixed-arity overloads up to 10 elements,
    so the fast path builds the list in ceil(n/10) calls (plus one
    ``addAll`` each past the first chunk) through handles cached per
    SparkContext — including ``PythonUtils.toSeq`` itself, whose
    ``sc._jvm`` view lookup + member reflection cost 2 more trips per
    call in the stock path.  ``_create_column_from_name`` /
    ``_create_column_from_literal`` (the ``F.col``-by-string and
    Python-literal paths, 3 trips each stock) go through the same
    cached handles.  Falls back to the stock converter for empty
    lists and lists containing ``None`` (``List.of`` rejects nulls).
    Pure driver metadata — no query result, plan, or data is cached."""
    try:
        from pyspark.sql.classic import column as _ccol
    except ImportError:  # pragma: no cover - future pyspark layout
        return
    orig_to_seq = getattr(_ccol, "_to_seq", None)
    if orig_to_seq is None or getattr(orig_to_seq, "_qat_fast", False):
        return
    orig_from_name = _ccol._create_column_from_name
    orig_from_literal = _ccol._create_column_from_literal
    state: dict = {}

    def _handles(sc):
        if state.get("sc") is not sc:
            jvm = sc._jvm
            fresh = {
                "sc": sc,
                "list_of": jvm.java.util.List.of,
                "array_list": jvm.java.util.ArrayList,
                "to_seq": jvm.PythonUtils.toSeq,
                "fn_col": jvm.functions.col,
                "fn_lit": jvm.functions.lit,
            }
            state.clear()
            state.update(fresh)
        return state

    def fast_to_seq(sc, cols, converter=None):
        if converter:
            cols = [converter(c) for c in cols]
        else:
            cols = list(cols)
        n = len(cols)
        if n == 0 or any(c is None for c in cols):
            return orig_to_seq(sc, cols)
        st = _handles(sc)
        if n <= 10:
            jl = st["list_of"](*cols)
        else:
            jl = st["array_list"]()
            for i in range(0, n, 10):
                jl.addAll(st["list_of"](*cols[i : i + 10]))
        return st["to_seq"](jl)

    fast_to_seq._qat_fast = True

    def fast_from_name(name):
        from pyspark.core.context import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None or sc._jvm is None:
            return orig_from_name(name)
        return _handles(sc)["fn_col"](name)

    def fast_from_literal(literal):
        from pyspark.core.context import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None or sc._jvm is None:
            return orig_from_literal(literal)
        return _handles(sc)["fn_lit"](_ccol.enum_to_value(literal))

    fast_from_name._qat_fast = True
    fast_from_literal._qat_fast = True

    import sys as _sys

    _ccol._to_seq = fast_to_seq
    _ccol._create_column_from_name = fast_from_name
    _ccol._create_column_from_literal = fast_from_literal
    # modules that did `from ...classic.column import _to_seq` hold
    # their own binding — rebind every loaded pyspark module that
    # imported the stock helpers by value
    for mod in list(_sys.modules.values()):
        name = getattr(mod, "__name__", "")
        if not name.startswith("pyspark") or name == _ccol.__name__:
            continue
        if getattr(mod, "_to_seq", None) is orig_to_seq:
            mod._to_seq = fast_to_seq
        if getattr(mod, "_create_column_from_name", None) is orig_from_name:
            mod._create_column_from_name = fast_from_name
        if (
            getattr(mod, "_create_column_from_literal", None)
            is orig_from_literal
        ):
            mod._create_column_from_literal = fast_from_literal


_install_jvm_function_handle_cache()
_install_py4j_seq_fastpath()


def get_spark(app_name: str = "qualityassurancetool-spark") -> SparkSession:
    # Python workers are separate processes that must import this package
    # for pickled-by-reference kernels (mapInPandas/applyInPandas); make
    # sure the package root rides along even when the driver script runs
    # from another directory (cluster deployments ship a wheel instead).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_parts = os.environ.get("QAT_SHUFFLE_PARTITIONS", cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # dirty-data tolerance: div-by-zero / overflow yield null instead of
        # failing a 1000-executor job on one duplicate timestamp
        .config("spark.sql.ansi.enabled", "false")
        # read INT64 TIMESTAMP(NANOS) parquet columns as long (Spark has no
        # ns timestamp); schema.load_table converts to µs TimestampType
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("QAT_DRIVER_MEM", "8g"))
        # UI off for throughput
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow batches crossing the Python boundary are additionally
        # byte-bounded (Spark 4 knob; guide §4.2): the 10 000-record
        # default lets a partition of ~1 MB binary cells (multimodal
        # decode kernels) form one ~128 MB batch per task — measured
        # interleaved at 4096×1 MB rows: 3.59 → 2.89 s median and the
        # whole-partition-batch memory spikes (10.3 s outlier) gone
        # with a 64m bound.  Narrow-row paths are unaffected (the
        # record cap still applies; whichever bound hits first wins).
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            os.environ.get("QAT_ARROW_MAX_BYTES_PER_BATCH", "64m"),
        )
        # call-site capture for DataFrame error context costs ~4 py4j
        # round-trips + a Python stack walk on EVERY DataFrame/Column API
        # call — about half the driver-side plan-build time of the larger
        # QC chains. This is an engine, not a notebook: trade the enriched
        # error call-sites for build throughput.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # static conf, read once at first-session creation: the generated-
        # class cache defaults to 100 entries; a full query-suite pass
        # produces several hundred codegen units, so structurally-shared
        # stages (same text-analysis or scan subplans across queries) get
        # LRU-evicted and Janino-recompiled. Classes are weakly referenced
        # — a bigger cache costs only metadata.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
    )
    # shuffle files live until the driver JVM GCs their
    # ShuffleDependency (ContextCleaner), and Spark's fallback periodic
    # GC fires every 30 MIN — a multi-pass disk-bound job (the
    # band-batched minhash at 100 M docs) accumulates every pass's
    # shuffle files and fills the disk long before that (round-10
    # rehearsal: 19 GB of dead shuffle files at ENOSPC).  QAT_PERIODIC_GC
    # (e.g. "2min") tightens the interval for such runs; unset keeps
    # Spark's default.
    gc_interval = os.environ.get("QAT_PERIODIC_GC")
    if gc_interval:
        builder = builder.config(
            "spark.cleaner.periodicGC.interval", gc_interval
        )
    return builder.getOrCreate()
