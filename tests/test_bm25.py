"""Okapi BM25 ranked retrieval (operators/bm25).
Cross-engine parity: the ``bm25`` query in __spark_entry__.py."""

import math

import pytest

from qualityassurancetool_spark.operators.bm25 import bm25_topk

DOCS = [
    (1, "the cat sat on the mat"),
    (2, "the dog chased the cat"),
    (3, "dogs and cats living together"),
    (4, "a completely unrelated document about spark plans"),
    (5, "cat cat cat cat"),
]
QUERIES = [(100, "the cat"), (200, "spark document"), (300, "zebra")]
K1, B = 1.2, 0.75


def _py_bm25():
    toks = {i: t.split() for i, t in DOCS}
    n = len(DOCS)
    avgdl = sum(len(v) for v in toks.values()) / n
    out = {}
    for qid, q in QUERIES:
        qterms = set(q.split())
        for did, dt in toks.items():
            matched = [t for t in qterms if t in dt]
            if not matched:
                continue
            s = 0.0
            for t in matched:
                tf = dt.count(t)
                df = sum(1 for v in toks.values() if t in v)
                idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
                s += idf * tf * (K1 + 1) / (
                    tf + K1 * (1 - B + B * len(dt) / avgdl)
                )
            out[(qid, did)] = (s, len(matched))
    return out


def test_bm25_matches_python_reference(spark):
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    queries = spark.createDataFrame(QUERIES, ["query_id", "query_text"])
    got = {
        (r["query_id"], r["doc_id"]): (r["score"], r["n_terms_matched"])
        for r in bm25_topk(docs, queries, k=10).collect()
    }
    want = _py_bm25()
    assert set(got) == set(want)
    for key in want:
        assert got[key][0] == pytest.approx(want[key][0], rel=1e-12)
        assert got[key][1] == want[key][1]
    # zebra matches nothing; no rows for query 300
    assert not any(q == 300 for q, _ in got)


def test_bm25_topk_ranking_and_cutoff(spark):
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    queries = spark.createDataFrame([(1, "cat")], ["query_id", "query_text"])
    rows = bm25_topk(docs, queries, k=2).orderBy("doc_id").collect()
    assert len(rows) == 2
    # hand-check for the single-term query "cat": doc 5 (tf=4, short)
    # saturates highest, doc 2 (tf=1, dl=5) beats doc 1 (tf=1, dl=6)
    # on length normalization — top-2 = {5, 2}
    assert {r["doc_id"] for r in rows} == {5, 2}
    with pytest.raises(ValueError):
        bm25_topk(docs, queries, k=0)


def test_precomputed_stats_equivalent(spark):
    from qualityassurancetool_spark.operators.bm25 import corpus_stats

    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    queries = spark.createDataFrame(QUERIES, ["query_id", "query_text"])
    st = corpus_stats(docs)
    assert st[0] == 5 and st[1] == pytest.approx(27 / 5)
    a = {
        (r["query_id"], r["doc_id"]): r["score"]
        for r in bm25_topk(docs, queries, k=10).collect()
    }
    b = {
        (r["query_id"], r["doc_id"]): r["score"]
        for r in bm25_topk(docs, queries, k=10, stats=st).collect()
    }
    assert a == b


def test_bm25_random_corpora_match_reference(spark):
    """Randomized parity: 20 deterministic pseudo-random corpora/query
    sets vs the pure-python formula (full score maps, no top-k cutoff
    ambiguity)."""
    import hashlib

    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]

    def rword(seed, j):
        h = hashlib.md5(f"{seed}:{j}".encode()).digest()
        return words[h[0] % len(words)]

    for trial in range(20):
        n_docs = 2 + trial % 4
        docs_py = {
            i: " ".join(rword(f"d{trial}-{i}", j) for j in range(3 + (i % 5)))
            for i in range(1, n_docs + 1)
        }
        queries_py = {
            100: " ".join(rword(f"q{trial}", j) for j in range(2)),
        }
        docs = spark.createDataFrame(
            sorted(docs_py.items()), ["doc_id", "text"]
        )
        queries = spark.createDataFrame(
            sorted(queries_py.items()), ["query_id", "query_text"]
        )
        got = {
            (r["query_id"], r["doc_id"]): (r["score"], r["n_terms_matched"])
            for r in bm25_topk(docs, queries, k=50).collect()
        }
        # python reference
        toks = {i: t.split() for i, t in docs_py.items()}
        n = len(toks)
        avgdl = sum(map(len, toks.values())) / n
        want = {}
        for qid, q in queries_py.items():
            for did, dt in toks.items():
                matched = [t for t in set(q.split()) if t in dt]
                if not matched:
                    continue
                sc = 0.0
                for t in matched:
                    tf = dt.count(t)
                    df_ = sum(1 for v in toks.values() if t in v)
                    idf = math.log(1 + (n - df_ + 0.5) / (df_ + 0.5))
                    sc += idf * tf * (K1 + 1) / (
                        tf + K1 * (1 - B + B * len(dt) / avgdl)
                    )
                want[(qid, did)] = (sc, len(matched))
        assert set(got) == set(want), f"trial {trial}"
        for key in want:
            assert got[key][0] == pytest.approx(want[key][0], rel=1e-12)
            assert got[key][1] == want[key][1]


def test_tf_exchange_reused_at_runtime(spark):
    # the tf aggregate (grouping keys doc/term/dl, one count buffer) is
    # referenced by both the scoring side and the document-frequency
    # aggregate; the two references must canonicalize identically so
    # AQE's stage cache runs the corpus explode + semi-join + shuffle
    # ONCE (round-11 optimization).  Static explain cannot show this —
    # assert on the FINAL executed adaptive plan.
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    qs = spark.createDataFrame(QUERIES, ["query_id", "query_text"])
    out = bm25_topk(docs, qs, k=3, persist=False)
    out.collect()
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert "isFinalPlan=true" in plan
    # the TF exchange specifically (hash-partitioned on the doc id
    # grouping keys) must be reused — a bare "Reused" in the plan can
    # be satisfied by the small vocab broadcast alone, which is what
    # masked the round-11 regression (the df side's pruned partial
    # aggregate broke canonical equality and the corpus shuffle ran
    # twice; round-12 fix: df = sum(least(tf, 1)))
    import re

    final = plan.split("== Initial Plan ==")[0]
    reused_tf = [
        ln
        for ln in final.splitlines()
        if "ReusedExchange" in ln
        and re.search(r"hashpartitioning\(doc_id", ln)
    ]
    live_tf = [
        ln
        for ln in final.splitlines()
        if re.search(r"\+- Exchange hashpartitioning\(doc_id", ln)
    ]
    assert reused_tf, final
    assert len(live_tf) == 1, final
