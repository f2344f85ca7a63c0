"""Multi-pattern substring search — Aho-Corasick over document text.

Every curation stack carries pattern lists: bad-word blocklists (the
C4 §2.2 "List of Dirty, Naughty…" filter), PII keyword screens,
license/boilerplate markers.  Scanning with one regex alternation per
pattern is O(text × patterns); the Aho-Corasick automaton (Aho &
Corasick 1975, "Efficient string matching: an aid to bibliographic
search" — public literature) matches ALL patterns in one pass,
O(text + matches), independent of pattern count.  Matches are counted
at every position (overlapping occurrences included), the classic AC
semantics.

Spark shape: the pattern list is driver metadata (thousands of short
strings).  The automaton builds ONCE PER PYTHON WORKER from the
broadcast pattern tuple (process-level cache keyed by the tuple — the
same executor-side-resolution trick as the multimodal decode kernels)
and the scan runs as an Arrow-batched ``mapInPandas`` — row-local, no
shuffle, only (id, counts) come back.  Text is normalized with the
corpus-standard ``normalize_text`` so counts line up with every other
text operator.

Cross-engine: ``__spark_entry__.py`` query ``multipattern`` replicates
the overlapping-occurrence counts in DuckDB with a position scan.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)

# ASCII whitespace only — the exact class Java regex \s (normalize_text)
# and DuckDB/RE2 \s match.  Python's \s is unicode-aware by default and
# would additionally collapse U+2028/U+0085/etc., silently diverging
# from every other text operator and from the cross-engine oracle.
_ASCII_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _normalize(t: str) -> str:
    """The corpus-standard normalize_text, byte-for-byte: lower,
    collapse ASCII whitespace runs to one space, trim spaces."""
    return _ASCII_WS.sub(" ", (t or "").lower()).strip(" ")


def build_automaton(patterns: tuple[str, ...]):
    """Aho-Corasick goto/fail/output tables for the pattern tuple.
    Returns (goto: list[dict[ch, state]], fail: list[int],
    out: list[list[int]]) — state 0 is the root."""
    goto: list[dict] = [{}]
    out: list[list[int]] = [[]]
    for idx, pat in enumerate(patterns):
        if not pat:
            raise ValueError("empty pattern")
        s = 0
        for ch in pat:
            nxt = goto[s].get(ch)
            if nxt is None:
                goto.append({})
                out.append([])
                nxt = len(goto) - 1
                goto[s][ch] = nxt
            s = nxt
        out[s].append(idx)
    # BFS failure links; output sets union along the failure chain
    from collections import deque

    fail = [0] * len(goto)
    q = deque()
    for ch, s in goto[0].items():
        q.append(s)
    while q:
        r = q.popleft()
        for ch, s in goto[r].items():
            q.append(s)
            f = fail[r]
            while f and ch not in goto[f]:
                f = fail[f]
            fail[s] = goto[f].get(ch, 0) if goto[f].get(ch, 0) != s else 0
            out[s] = out[s] + out[fail[s]]
    return goto, fail, out


def _scan(auto, text: str) -> tuple[int, int]:
    """(total overlapping matches, distinct patterns matched)."""
    goto, fail, out = auto
    s = 0
    total = 0
    seen: set[int] = set()
    for ch in text:
        while s and ch not in goto[s]:
            s = fail[s]
        s = goto[s].get(ch, 0)
        if out[s]:
            total += len(out[s])
            seen.update(out[s])
    return total, len(seen)


_AUTOMATON_CACHE: dict[tuple, object] = {}


def _cached_automaton(patterns: tuple[str, ...]):
    auto = _AUTOMATON_CACHE.get(patterns)
    if auto is None:
        auto = build_automaton(patterns)
        _AUTOMATON_CACHE[patterns] = auto
    return auto


def match_counts(
    df: DataFrame,
    patterns: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(id_col, n_matches, n_patterns_matched)`` per document —
    overlapping occurrences of any pattern in the NORMALIZED text
    (patterns are normalized the same way).  One Arrow kernel pass,
    no shuffle."""
    # patterns get the TEXT's case/whitespace-collapse normalization but
    # are NOT trimmed: a leading/trailing space in a pattern is a
    # deliberate word-boundary anchor ("fast " != "fast")
    norm_pats = tuple(
        sorted(
            {
                _ASCII_WS.sub(" ", p.lower())
                for p in patterns
                if p.strip()
            }
        )
    )
    if not norm_pats:
        raise ValueError("need at least one non-empty pattern")
    out_schema = StructType(
        [
            next(f for f in df.schema.fields if f.name == id_col),
            StructField("n_matches", LongType()),
            StructField("n_patterns_matched", IntegerType()),
        ]
    )
    cols = df.select(id_col, text_col)

    def kernel(batches):
        auto = _cached_automaton(norm_pats)
        for pdf in batches:
            # one leading/trailing space so boundary-anchor patterns
            # ("fast ", " fast") also match a word at document start/end
            # — same padding badword_hit uses (advisor finding; the
            # multipattern query's DuckDB oracle pads identically)
            texts = pdf[text_col].map(lambda t: " " + _normalize(t) + " ")
            res = texts.map(lambda t: _scan(auto, t))
            out = pdf[[id_col]].copy()
            out["n_matches"] = [r[0] for r in res]
            out["n_patterns_matched"] = [r[1] for r in res]
            yield out

    return cols.mapInPandas(kernel, out_schema)
