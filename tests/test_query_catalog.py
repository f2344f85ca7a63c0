"""The correctness gate hash-checks only the first 50 entries of
``queries()``, so that prefix is frozen: the exact names (and order) the
round-12 gate checked.  Every declared query, inside the prefix
or after it, stays covered by a SQL oracle or a ``tools/extra_oracles``
check."""

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


def test_every_declared_query_has_an_oracle():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from extra_oracles import EXTRA_CHECKS

    m = _entry()
    covered = set(m.oracle_sql()) | {
        name.removeprefix("x_") for name in EXTRA_CHECKS
    }
    assert [q for q in m.queries() if q not in covered] == []
