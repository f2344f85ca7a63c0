"""Physical-plan regression gate over the whole declared query surface:
no accidental cartesian products, broadcast-nested-loop joins only where
they are the intended strategy, and the capstone chain keeps its
single-scan / no-Python shape.  Catches plan regressions the value
oracles can't see."""

from __future__ import annotations

import importlib.util
import os

import pytest

# queries whose plan legitimately contains a BroadcastNestedLoopJoin
# (broadcast tiny-literal-dim fan-outs and the brute-force ANN baseline)
BNLJ_ALLOWED = {
    "sim_topk",
    "nearest_lookup",
    # dim build fans customer out against a 3-row version literal; the
    # SCD2 lookup itself is a BroadcastHashJoin on the natural key with
    # the BETWEEN as residual (asserted in tools/plan_audit.py)
    "scd2_lookup",
    # the quantile walk crosses the ~1k-cell sketch against a 4-row
    # broadcast probs literal — metadata-scale by construction
    "ddsketch_quantiles",
    # cuped_adjust broadcasts a 2-double (theta, mean-x) scalar frame
    # back onto the rows — the sanctioned scalar-broadcast pattern
    # (same shape as target_encode's prior)
    "experiment",
    # the shortlist fan-out (queries x pre-filtered candidate ids) is
    # the first-stage retriever's contract; the scoring join itself is
    # an equi-join on the shortlist keys
    "maxsim",
    # corpus stats (N, avgdl) attach: crossJoin of a ONE-ROW broadcast
    # aggregate over the persisted token frame — the same sanctioned
    # scalar-attach shape as experiment's CUPED theta (round-11)
    "bm25",
}


@pytest.fixture(scope="module")
def entrymod():
    spec = importlib.util.spec_from_file_location(
        "entrymod_audit",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "__spark_entry__.py",
        ),
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def _plan(df) -> str:
    s = df._jdf.queryExecution().executedPlan().toString()
    return s.split("== Initial Plan ==")[0]


def _final_plan(spark, df) -> str:
    """The final adaptive plan of an already-executed ``df`` (stage
    reuse only shows up at runtime)."""
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple"
    )
    s = df._jdf.queryExecution().explainString(mode)
    assert "isFinalPlan=true" in s, s
    return s.split("== Initial Plan ==")[0]


def test_no_cartesian_products_anywhere(spark, entrymod, sf_dir):
    offenders = []
    for name, fn in entrymod.queries().items():
        plan = _plan(fn(spark, sf_dir))
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if "BroadcastNestedLoop" in plan and name not in BNLJ_ALLOWED:
            offenders.append((name, "BroadcastNestedLoopJoin"))
    assert not offenders, offenders


def test_round3_operator_plan_shapes(spark, sf_dir):
    """The new training-data operators keep their designed physical
    shapes: broadcast model/vocab joins (never shuffled fact joins), a
    Generate barrier before the LM trigram lambda, TakeOrdered top-k for
    the vocabulary, and a shuffle-free mixture build."""
    from pyspark.sql import functions as F

    from qualityassurancetool_spark.operators.lm_score import (
        score_documents,
        train_char_lm,
    )
    from qualityassurancetool_spark.operators.mixing import mix_corpora
    from qualityassurancetool_spark.operators.vocab import (
        oov_stats,
        token_vocabulary,
    )
    from qualityassurancetool_spark.schema import load_table

    docs = load_table(spark, sf_dir, "documents")
    lm = train_char_lm(docs.where(F.col("lang") == "en"), max_grams=1000)
    p = _plan(score_documents(docs, lm))
    assert "BroadcastHashJoin" in p and "CartesianProduct" not in p
    assert "Generate" in p  # the no-CSE-in-HOF barrier is in place

    vocab = token_vocabulary(docs, top_k=50)
    assert "TakeOrdered" in _plan(vocab)

    p = _plan(oov_stats(docs, vocab))
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p

    mix = mix_corpora(
        {
            "en": docs.where(F.col("lang") == "en"),
            "o": docs.where(F.col("lang") != "en"),
        },
        {"en": 1.4, "o": 0.5},
    )
    p = _plan(mix)
    assert "Union" in p
    # membership + mix_key are row-local: no shuffle exchange at all
    assert "Exchange hashpartitioning" not in p
    assert "Exchange rangepartitioning" not in p


def test_reference_chain_shape(spark, entrymod, sf_dir):
    plan = _plan(entrymod.queries()["qc_reference_chain"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1      # upstream chain scanned once
    assert "MapInPandas" not in plan            # fully JVM-side
    assert "ArrowEvalPython" not in plan


def test_scans_prune_columns(spark, entrymod, sf_dir):
    """Queries that don't need the full table must not read it: the
    text queries read (doc_id, text) only; the TPC-H joins never read
    o_comment/l_comment."""
    import re

    builders = {name: fn for name, fn, _, _ in entrymod.CATALOG}

    def schemas(name):
        # catalog lookup: join_segment_revenue is a retired row
        plan = _plan(builders[name](spark, sf_dir))
        return re.findall(r"ReadSchema: ([^\n]+)", plan)

    for rs in schemas("lang_quality_rollup"):
        assert "n_chars" not in rs and "lang" not in rs.split("text")[0]
    for rs in schemas("join_segment_revenue"):
        assert "o_comment" not in rs and "c_comment" not in rs
    for rs in schemas("qc_gradient"):
        assert "props" not in rs  # events.props never needed


def test_round3b_operator_plan_shapes(spark, sf_dir):
    """Second-batch round-3 operators keep their designed shapes:
    join-free classifier scoring, barrier-staged fingerprint/span
    extraction (no O(n^2) inline regexp), TakeOrdered weighted top-k,
    and no cartesian anywhere."""
    from pyspark.sql import functions as F

    from qualityassurancetool_spark.operators.classifier import (
        score_linear,
    )
    from qualityassurancetool_spark.operators.fingerprint import (
        document_fingerprints,
        fingerprint_overlap_pairs,
    )
    from qualityassurancetool_spark.operators.sampling import (
        weighted_sample_topk,
    )
    from qualityassurancetool_spark.operators.span_dedup import (
        duplicated_span_dedup,
    )
    from qualityassurancetool_spark.schema import load_table

    docs = load_table(spark, sf_dir, "documents")

    # classifier scoring: no join, no exchange, no Python
    p = _plan(score_linear(docs, [0.0] * 64, 0.0, n_buckets=64))
    assert "Join" not in p and "EvalPython" not in p
    assert "Exchange" not in p  # embarrassingly parallel by design

    # fingerprint extraction: Generate barriers present, no Python
    p = _plan(document_fingerprints(docs))
    assert p.count("Generate") >= 3  # 2 barriers + the explode
    assert "EvalPython" not in p

    # pair join: every join is a plain shuffled/broadcast HASH join
    p = _plan(fingerprint_overlap_pairs(docs))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoop" not in p

    # span dedup: hash joins only, barrier-staged extraction
    p = _plan(duplicated_span_dedup(docs, window_tokens=20))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoop" not in p
    assert "EvalPython" not in p

    # global weighted top-k: TakeOrdered, not a full sort
    p = _plan(weighted_sample_topk(docs, 10, "n_chars"))
    assert "TakeOrdered" in p


def test_round5_promoted_query_plan_shapes(spark, entrymod, sf_dir):
    """The three round-5 promoted gate queries keep their designed
    physical shapes: multipattern is one Arrow pass with no Exchange at
    all; cms reduces to depth x width cells via partial aggregation
    (the exchange carries cell counts, never the token stream); bm25's
    corpus explode is semi-joined to matched query terms before any
    aggregation."""
    import re

    qs = entrymod.queries()
    mp = _plan(qs["multipattern"](spark, sf_dir))
    assert "Exchange" not in mp, mp
    assert "ArrowEvalPython" in mp or "MapInPandas" in mp

    cms = _plan(qs["cms"](spark, sf_dir))
    # partial_ rows before the exchange = map-side combine of the cells
    assert "partial_count" in cms or "partial_sum" in cms, cms

    bm_df = qs["bm25"](spark, sf_dir)
    bm_df.collect()
    bm = _final_plan(spark, bm_df)
    # round-12: no persisted token frame (a persist blocked AQE stage
    # reuse) — the tf aggregate's doc-keyed exchange runs ONCE and the
    # document-frequency side reads it back as a ReusedExchange (same
    # shape as tests/test_bm25.py::test_tf_exchange_reused_at_runtime,
    # asserted on the final adaptive plan).  The vocab match stays a
    # broadcast hash semi-join (O(1) per token; a vocab-array literal
    # filter measured ~40% slower at 1.2k terms).
    assert bm.count("InMemoryTableScan") == 0, bm
    live_tf = re.findall(r"\+- Exchange hashpartitioning\(doc_id", bm)
    reused_tf = [
        ln
        for ln in bm.splitlines()
        if "ReusedExchange" in ln
        and re.search(r"hashpartitioning\(doc_id", ln)
    ]
    assert len(live_tf) == 1 and len(reused_tf) == 1, bm
    assert "LeftSemi" in bm, bm
    # no Python anywhere in the scoring path
    assert "EvalPython" not in bm and "InPandas" not in bm, bm


def test_qc_chain_windows_run_on_slim_frame(spark, entrymod, sf_dir):
    """Round-5 reorder regression gate: the window stages must execute
    BEFORE the broadcast thresholds join, so the per-stream window sort
    never buffers the ~8 threshold columns (measured 135 -> 32 s at 10M
    rows / 5 streams).  In the executed plan, that means no Window
    operator appears downstream of the BroadcastHashJoin — i.e. every
    Window's subtree is join-free."""
    plan = _plan(entrymod.queries()["qc_full_pipeline"](spark, sf_dir))
    # plan trees print consumers first: the join must appear ABOVE every
    # Window (windows are the join's input), and both windows must share
    # ONE exchange on the stream key (the slim frame shuffles once)
    join_at = plan.index("BroadcastHashJoin")
    first_window = plan.index("Window [")
    assert join_at < first_window, plan
    assert plan.count("Window [") == 2, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # ... and that exchange is the user repartition, which AQE never
    # coalesces: a byte-coalesced stream shuffle ran the whole z-score
    # window of a cron window as ONE task
    stream_exchange = next(
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    )
    assert "REPARTITION_BY_NUM" in stream_exchange, plan


def test_shrinking_frame_rule_fires_and_resample_is_clean(spark, sf_dir):
    """The round-9 plan-audit rule: a [currentRow, unboundedFollowing]
    frame re-aggregates per row (O(rows²)/partition — resample shipped
    one, 255 s at 10 M rows).  The rule must FIRE on a deliberately
    quadratic plan and stay quiet on the rewritten resample."""
    import re

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from qualityassurancetool_spark.operators.resample import (
        resample_interpolate,
    )

    pat = re.compile(
        r"specifiedwindowframe\((?:Row|Range)Frame, "
        r"(?!unboundedpreceding\$\(\))[^,]+, "
        r"unboundedfollowing\$\(\)\)"
    )
    df = spark.range(10).select(
        (F.col("id") % 2).alias("g"),
        F.col("id").alias("t"),
        (F.col("id") * 1.0).alias("v"),
    )
    bad = df.select(
        F.first("v", ignorenulls=True)
        .over(
            Window.partitionBy("g")
            .orderBy("t")
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        .alias("nv")
    )
    assert pat.search(_plan(bad)), "rule must catch the shrinking frame"
    # whole-partition frames are O(n) (computed once) — NOT flagged
    whole = df.select(
        F.max("v")
        .over(
            Window.partitionBy("g").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("m")
    )
    assert not pat.search(_plan(whole))
    fixed = resample_interpolate(
        df.select(
            "g", F.timestamp_seconds(F.col("t") * 3600).alias("ts"), "v"
        ),
        id_col="g", ts_col="ts", value_col="v", freq_seconds=1800,
    )
    assert not pat.search(_plan(fixed)), "resample regressed to O(n^2)"


def test_sample_stratified_fold_not_inlined_into_filter(
    spark, entrymod, sf_dir
):
    # the sampling predicate references the derived stratum; without a
    # substitution barrier PushDownPredicates inlines the whole
    # language-scoring fold into the filter (~9 copies) and slides it
    # below the min-parallelism repartition (round-11 finding).  The
    # fold must appear exactly once in the physical plan.
    df = entrymod.queries()["sample_stratified"](spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert plan.count("aggregate(split") == 1, plan
