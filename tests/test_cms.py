"""Count-Min sketch (operators/cms).
Cross-engine parity: the ``cms`` query in __spark_entry__.py."""

import pytest
from pyspark.sql import functions as F

from qualityassurancetool_spark.operators.cms import (
    cms_build,
    cms_merge,
    cms_query,
)

W, D = 256, 4


def _stream(spark, pairs):
    rows = [(k,) for k, n in pairs for _ in range(n)]
    return spark.createDataFrame(rows, ["k"])


def test_never_underestimates_and_bounded_size(spark):
    pairs = [("a", 500), ("b", 100)] + [(f"z{i}", 1) for i in range(2000)]
    df = _stream(spark, pairs)
    sketch = cms_build(df, "k", width=W, depth=D)
    assert sketch.count() <= W * D  # bounded state, 2102 distinct keys
    keys = spark.createDataFrame(
        [(k,) for k, _ in pairs[:2]] + [("z7",), ("absent",)], ["k"]
    )
    est = {
        r["k"]: r["est"]
        for r in cms_query(sketch, keys, "k", width=W, depth=D).collect()
    }
    exact = {"a": 500, "b": 100, "z7": 1, "absent": 0}
    n_total = sum(n for _, n in pairs)
    for k, true in exact.items():
        assert est[k] >= true  # one-sided error
        # loose sanity ceiling: collisions can only add, not explode
        assert est[k] <= true + n_total
    # heavy keys dominate their cells: estimates stay close
    assert est["a"] - 500 < 100 and est["b"] - 100 < 100


def test_merge_equals_build_on_union(spark):
    a = _stream(spark, [("x", 10), ("y", 3)])
    b = _stream(spark, [("x", 5), ("w", 7)])
    merged = cms_merge(
        cms_build(a, "k", width=64, depth=3),
        cms_build(b, "k", width=64, depth=3),
    )
    direct = cms_build(a.unionByName(b), "k", width=64, depth=3)
    got = {(r["row"], r["col"]): r["n"] for r in merged.collect()}
    want = {(r["row"], r["col"]): r["n"] for r in direct.collect()}
    assert got == want  # mergeable-summary property, cell-exact


def test_nulls_skipped_and_validation(spark):
    df = spark.createDataFrame([("a",), (None,), ("a",)], ["k"])
    sketch = cms_build(df, "k", width=32, depth=2)
    est = cms_query(
        sketch, spark.createDataFrame([("a",)], ["k"]), "k", width=32, depth=2
    ).collect()[0]["est"]
    assert est >= 2
    with pytest.raises(ValueError):
        cms_build(df, "k", width=0)
    with pytest.raises(ValueError):
        cms_merge()


def test_numeric_keys_cast_consistently(spark):
    """Build on a long column, query with the same longs — the
    string-cast hash family must line up."""
    df = spark.range(100).select((F.col("id") % 10).alias("k"))
    sketch = cms_build(df, "k", width=128, depth=3)
    keys = spark.range(10).select(F.col("id").alias("k"))
    est = {
        r["k"]: r["est"]
        for r in cms_query(sketch, keys, "k", width=128, depth=3).collect()
    }
    for k in range(10):
        assert est[k] >= 10
