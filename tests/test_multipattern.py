"""Aho-Corasick multi-pattern matching (operators/multipattern).
Cross-engine parity: the ``multipattern`` query in __spark_entry__.py."""

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from qualityassurancetool_spark.operators.multipattern import (
    _scan,
    build_automaton,
    match_counts,
)


def _brute(pats, text):
    total, matched = 0, 0
    for p in pats:
        c = sum(
            1
            for i in range(len(text) - len(p) + 1)
            if text[i : i + len(p)] == p
        )
        total += c
        matched += c > 0
    return total, matched


def test_overlapping_and_suffix_outputs():
    # 'aa' in 'aaaa' -> 3 overlapping; 'ab'+'b' share a suffix state
    pats = ("aa", "ab", "b")
    auto = build_automaton(pats)
    for text in ("aaaa", "abab", "bbb", "xaybz", ""):
        assert _scan(auto, text) == _brute(pats, text), text


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab ", min_size=1, max_size=4).filter(str.strip),
        min_size=1,
        max_size=6,
        unique=True,
    ),
    st.text(alphabet="ab ", max_size=60),
)
def test_automaton_equals_bruteforce(pats, text):
    """Randomized AC ≡ position-scan brute force on a tiny alphabet
    (dense overlaps, shared prefixes/suffixes, space anchors)."""
    pats = tuple(sorted(set(pats)))
    assert _scan(build_automaton(pats), text) == _brute(pats, text)


def test_match_counts_dataframe(spark):
    docs = spark.createDataFrame(
        [
            (1, "The  QUICK  brown fox"),   # case+whitespace normalize
            (2, "quickquick"),              # overlap-free double hit
            (3, None),                      # null text -> zero matches
            (4, "nothing here"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["n_matches"], r["n_patterns_matched"])
        for r in match_counts(docs, ["quick", "quick b"]).collect()
    }
    # doc 1 normalized: "the quick brown fox" -> quick=1, "quick b"=1
    assert got[1] == (2, 2)
    assert got[2] == (2, 1)
    assert got[3] == (0, 0)
    assert got[4] == (0, 0)
    with pytest.raises(ValueError):
        match_counts(docs, ["  "])


def test_boundary_anchor_patterns_not_trimmed():
    pats = ("fast ", "fast")
    auto = build_automaton(
        tuple(sorted({re.sub(r"\s+", " ", p.lower()) for p in pats}))
    )
    assert _scan(auto, "fast fastest")[0] == 3  # 'fast'x2 + 'fast 'x1


def test_unicode_whitespace_parity_with_jvm_normalizer(spark):
    """U+2028 (LINE SEPARATOR) is NOT whitespace to Java regex \\s or
    DuckDB/RE2, so the Python kernel must not collapse it either
    (review finding) — 'bad\\u2028word' must NOT match 'bad word'."""
    docs = spark.createDataFrame(
        [(1, "bad word"), (2, "bad word"), (3, "bad\tword")],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["n_matches"]
        for r in match_counts(docs, ["bad word"]).collect()
    }
    assert got == {1: 0, 2: 1, 3: 1}  # tab IS ASCII whitespace


def test_boundary_anchors_match_at_document_edges(spark):
    """Advisor (r4): boundary-anchor patterns ('fast ', ' fast') must
    match a word at document start/end too — the normalized text is
    padded with one space each side, like badword_hit."""
    docs = spark.createDataFrame(
        [(1, "fast"), (2, "too fast"), (3, "fast cars"), (4, "breakfasts")],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["n_matches"], r["n_patterns_matched"])
        for r in match_counts(docs, ["fast ", " fast"]).collect()
    }
    assert got[1] == (2, 2)   # both anchors hit the lone word
    assert got[2] == (2, 2)   # doc-final word: right pad supplies 'fast '
    assert got[3] == (2, 2)   # doc-initial word: left pad supplies ' fast'
    assert got[4] == (0, 0)   # interior substring: neither anchor
