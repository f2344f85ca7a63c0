"""The correctness gate hash-checks only the first 50 entries of
``queries()``, so that prefix is frozen: the exact names (and order) the
round-12 gate checked.  ``queries()``, ``oracle_sql()``, the bench rows
and the oracle harness all read ``__spark_entry__.CATALOG``; these tests
pin what each of them sees."""

from __future__ import annotations

import importlib.util
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

GATE_PREFIX = [
    "qc_range_flags", "qc_gradient", "qc_zscore", "qc_full_pipeline",
    "qc_reference_chain", "funnel", "qc_asof_dependent", "qc_velocity",
    "qc_spatial_outlier", "qc_stabilization", "pivot_export", "resample",
    "heavy_hitters_by", "bm25", "cms", "multipattern", "ml_eval", "ewma",
    "cusum", "seasonal", "psi", "experiment", "episodes",
    "shipping_priority", "hll_distinct", "ddsketch_quantiles",
    "dedup_signatures", "dedup_minhash_lsh", "dedup_clusters",
    "decontaminate_overlap", "lang_quality_rollup", "curation_pipeline",
    "sim_topk", "ann_ivfadc", "qc_region_flags", "simhash_pairs",
    "isotonic", "maxsim", "kcore", "sessionize_events",
    "dedup_ngram_jaccard", "qc_depth_flags", "cohort", "linreg",
    "dedup_embedding_cosine", "media_features", "text_quality_filters",
    "sample_stratified", "pagerank", "scd2_lookup",
]

# the 45 rows bench.py has timed since round 12
BENCH_ROWS = {
    "ann_ivfadc", "bm25", "cms", "cohort", "curation_pipeline", "cusum",
    "ddsketch_quantiles", "decontaminate_overlap", "dedup_clusters",
    "dedup_embedding_cosine", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "dedup_signatures", "episodes", "ewma", "experiment", "funnel",
    "heavy_hitters_by", "hll_distinct", "isotonic", "kcore",
    "lang_quality_rollup", "linreg", "maxsim", "ml_eval", "multipattern",
    "pivot_export", "psi", "qc_asof_dependent", "qc_depth_flags",
    "qc_full_pipeline", "qc_gradient", "qc_range_flags",
    "qc_reference_chain", "qc_spatial_outlier", "qc_stabilization",
    "qc_zscore", "resample", "sample_stratified", "seasonal",
    "sessionize_events", "shipping_priority", "sim_topk", "simhash_pairs",
    "text_quality_filters",
}


def _entry():
    spec = importlib.util.spec_from_file_location(
        "entrymod_catalog", os.path.join(ROOT, "__spark_entry__.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def test_gate_prefix_is_frozen():
    assert len(GATE_PREFIX) == 50 == len(set(GATE_PREFIX))
    assert list(_entry().queries())[:50] == GATE_PREFIX


def test_every_catalog_row_has_a_builder_and_an_oracle():
    # a row without an oracle can no longer be declared (or benched)
    catalog = _entry().CATALOG
    names = [row[0] for row in catalog]
    assert len(names) == len(set(names))
    for name, fn, sql, kind in catalog:
        assert callable(fn), name
        assert isinstance(sql, str) and sql.strip(), name
        assert kind in ("bench", "declared", "retired"), name


def test_contract_views_are_the_gated_catalog_rows():
    m = _entry()
    declared = [name for name, _, _, kind in m.CATALOG if kind != "retired"]
    assert list(m.queries()) == declared
    assert list(m.oracle_sql()) == declared


def test_bench_rows_are_pinned():
    # a catalog edit must not silently change what bench.py measures
    bench = {name for name, _, _, kind in _entry().CATALOG if kind == "bench"}
    assert bench == BENCH_ROWS


def test_oracle_harness_loads_this_checkout():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracles

    assert check_oracles.load_entry().__file__ == os.path.join(
        ROOT, "__spark_entry__.py"
    )
