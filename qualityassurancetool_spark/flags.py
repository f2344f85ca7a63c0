"""Quality-flag algebra (SeaDataNet / NERC L20 vocabulary).

The reference stores flags as an *ordered categorical* whose priority is the
enum **definition order**, not the numeric L20 code (reference:
``README.adoc:172-175``; merge-with-``max`` call sites
``src/main.py:151,454,538-541``).  The L20 numeric codes do NOT sort by
severity (9 = "missing" must not outrank 4 = "bad"), so this module is the
single place that owns the code→severity-rank mapping; every merge goes
through :func:`flag_merge` which compares *ranks* and returns *codes*.

Spark representation: flags travel as ``ByteType`` L20 codes in data columns;
rank lookup is a ``CASE WHEN`` chain (whole-stage-codegen friendly — no join,
no UDF, no broadcast needed for a 10-entry map).
"""

from __future__ import annotations

from enum import IntEnum

from pyspark.sql import Column
from pyspark.sql import functions as F

from qualityassurancetool_spark.functions.exprmemo import memoized_expr


class QualityFlags(IntEnum):
    """L20 numeric codes (values) — severity is ``FLAG_SEVERITY``, not value."""

    NO_QUALITY_CONTROL = 0
    GOOD = 1
    PROBABLY_GOOD = 2
    PROBABLY_BAD = 3
    BAD = 4
    CHANGED = 5
    BELOW_DETECTION = 6
    IN_EXCESS = 7
    INTERPOLATED = 8
    MISSING = 9

    def __str__(self) -> str:  # parity with reference's str-enum behavior
        return str(self.value)


# Severity rank: higher = worse = wins a merge.  Benign/annotation codes
# (changed/interpolated/detection-limit) rank between "probably good" and
# "missing"; the two damning codes rank last.  This ordering reproduces the
# reference's observed merge outcomes (BAD and PROBABLY_BAD always win over
# GOOD/NO_QC/MISSING; see reference tests ``tests/test_qc.py:179-260``).
FLAG_SEVERITY: dict[int, int] = {
    QualityFlags.NO_QUALITY_CONTROL: 0,
    QualityFlags.GOOD: 1,
    QualityFlags.PROBABLY_GOOD: 2,
    QualityFlags.CHANGED: 3,
    QualityFlags.INTERPOLATED: 4,
    QualityFlags.BELOW_DETECTION: 5,
    QualityFlags.IN_EXCESS: 6,
    QualityFlags.MISSING: 7,
    QualityFlags.PROBABLY_BAD: 8,
    QualityFlags.BAD: 9,
}

# Inverse: rank -> code, used to translate a merged rank back to a code.
_RANK_TO_CODE: dict[int, int] = {r: c for c, r in FLAG_SEVERITY.items()}


# dense arrays for O(1) code<->rank translation (codes and ranks are both
# 0..9): element_at keeps the generated code tiny vs a 10-branch CASE
# chain, which matters because every QC query embeds several merges
_CODE_TO_RANK_ARR = [FLAG_SEVERITY[c] for c in sorted(FLAG_SEVERITY)]
_RANK_TO_CODE_ARR = [_RANK_TO_CODE[r] for r in sorted(_RANK_TO_CODE)]


# The two lookup-array Column objects are memoized (exprmemo): a Column
# wraps an immutable JVM expression, reusable across every plan in the
# JVM, and rebuilding one costs ~25 py4j round-trips — flag algebra is
# embedded in every QC query and every window of a cron loop.
def _lookup(key: str) -> Column:
    def _build() -> Column:
        if key == "code_to_rank":
            return F.array(*[F.lit(r) for r in _CODE_TO_RANK_ARR])
        return F.array(
            *[F.lit(code).cast("tinyint") for code in _RANK_TO_CODE_ARR]
        )

    return memoized_expr(("flag_lookup", key), _build)


def flag_rank(flag: Column | str) -> Column:
    """Column expression mapping an L20 code column to its severity rank.
    Codes outside 0..9 (or null) yield null (non-ANSI element_at)."""
    c = F.col(flag) if isinstance(flag, str) else flag
    idx = F.when((c >= 0) & (c <= 9), c.cast("int") + 1)
    return F.element_at(_lookup("code_to_rank"), idx)


def rank_to_flag(rank: Column) -> Column:
    """Inverse of :func:`flag_rank` as a Column expression."""
    idx = F.when((rank >= 0) & (rank <= 9), rank.cast("int") + 1)
    return F.element_at(_lookup("rank_to_code"), idx)


def flag_merge(*flags: Column | str) -> Column:
    """Severity-max merge of N flag columns (reference ``.combine(max)``,
    ``src/main.py:151,454``).  Null inputs are treated as NO_QUALITY_CONTROL
    (the reference's ``fill_value=QualityFlags.NO_QUALITY_CONTROL``).

    Implemented as ``greatest`` over ranks, translated back to a code —
    pure Column arithmetic, no shuffle, no UDF.
    """
    ranked = [
        F.coalesce(
            flag_rank(f),
            F.lit(FLAG_SEVERITY[QualityFlags.NO_QUALITY_CONTROL]),
        )
        for f in flags
    ]
    merged_rank = ranked[0] if len(ranked) == 1 else F.greatest(*ranked)
    return rank_to_flag(merged_rank)


def flag_overwrite(old: Column | str, new: Column | str) -> Column:
    """Last-writer-wins merge (reference ``lambda x, y: y`` with fill,
    ``src/main.py:573-575``): take *new* where non-null else keep *old*."""
    o = F.col(old) if isinstance(old, str) else old
    n = F.col(new) if isinstance(new, str) else new
    return F.coalesce(n, o)


def flag_from_bool(
    bool_col: Column,
    flag_on_true: int,
    flag_on_false: int = QualityFlags.NO_QUALITY_CONTROL,
    flag_on_nan: int | None = None,
) -> Column:
    """bool→flag mapping with explicit null handling (reference
    ``get_qc_flag_from_bool``, ``src/main.py:187-191``).

    ``flag_on_nan=None`` leaves nulls as NO_QUALITY_CONTROL-equivalent null
    so a later merge ignores them; pass a code to flag unknowns.
    """
    nan_lit = (
        F.lit(None).cast("tinyint")
        if flag_on_nan is None
        else F.lit(int(flag_on_nan)).cast("tinyint")
    )
    return (
        F.when(bool_col.isNull(), nan_lit)
        .when(bool_col, F.lit(int(flag_on_true)).cast("tinyint"))
        .otherwise(F.lit(int(flag_on_false)).cast("tinyint"))
    )


def flag_merge_sql(*flag_sql_exprs: str) -> str:
    """ANSI-SQL rendering of :func:`flag_merge` for DuckDB oracles.

    Produces ``rank→greatest→code`` with the same severity table so the
    driver's oracle comparison exercises the identical algebra.
    """

    def rank_case(e: str) -> str:
        whens = " ".join(
            f"WHEN {e} = {int(code)} THEN {rank}"
            for code, rank in FLAG_SEVERITY.items()
        )
        return f"COALESCE(CASE {whens} END, 0)"

    ranked = [rank_case(e) for e in flag_sql_exprs]
    merged = ranked[0] if len(ranked) == 1 else "GREATEST(" + ", ".join(ranked) + ")"
    whens = " ".join(
        f"WHEN {merged} = {rank} THEN {int(code)}" for rank, code in _RANK_TO_CODE.items()
    )
    return f"CAST(CASE {whens} END AS TINYINT)"


def apply_feature_flag(
    df,
    bool_col: Column,
    flag_on_true: int,
    flag_on_nan: int | None = None,
    overwrite: bool = True,
    feature_flag_col: str = "feature_qc_flag",
    flag_col: str = "qc_flag",
    merge_into_row_flag: bool = True,
):
    """Feature-level flag path (reference ``Df.FEATURE_QC_FLAG``,
    ``src/main.py:573-592,614-631``): a check whose subject is the
    *FeatureOfInterest* (the location entity) writes its flag to
    ``feature_qc_flag`` — created as null when absent — and, like the
    reference's double ``execute`` call, severity-merges the feature flag
    into the per-observation ``qc_flag`` as well.

    ``overwrite=True`` is the reference default
    (``cfg.reset.overwrite_feature_flags`` picks ``lambda x, y: y`` over
    ``max``): the new flag replaces the old where the check produced one
    (null bool + ``flag_on_nan=None`` → keeps the old).  ``False`` =
    severity-max merge.  Pure Column algebra, no shuffle.
    """
    new = flag_from_bool(
        bool_col,
        flag_on_true=flag_on_true,
        flag_on_nan=flag_on_nan,
    )
    if feature_flag_col not in df.columns:
        df = df.withColumn(feature_flag_col, F.lit(None).cast("tinyint"))
    merged = (
        flag_overwrite(F.col(feature_flag_col), new)
        if overwrite
        else flag_merge(F.col(feature_flag_col), new)
    )
    df = df.withColumn(feature_flag_col, merged)
    if merge_into_row_flag:
        df = df.withColumn(
            flag_col, flag_merge(F.col(flag_col), F.col(feature_flag_col))
        )
    return df


def combine_counts(a: dict, b: dict) -> dict:
    """Dict-merge summing/concatenating common keys (reference A8
    ``combine_dicts``, pinned at ``tests/test_qc.py:973-978``): ints/floats
    add, lists concatenate, disjoint keys pass through."""
    out = dict(a)
    for k, v in b.items():
        if k in out:
            out[k] = out[k] + v
        else:
            out[k] = v
    return out


def update_flag_history(
    history: dict[str, dict], label: str, counts: dict
) -> dict[str, dict]:
    """Flag-history bookkeeping (reference ``update_flag_history_series``,
    ``src/main.py:544-546``): accumulate per-check flag counts under the
    check's label.  ``counts`` is typically
    ``{row['flag']: row['n'] for row in histogram_df.collect()}`` —
    metadata-scale, so driver-side by design."""
    merged = dict(history)
    merged[label] = combine_counts(merged.get(label, {}), counts)
    return merged


def still_good_mask(flag_col: Column | str) -> Column:
    """Rows whose flag is at most PROBABLY_GOOD, or unflagged — THE
    z-score semantic guard (reference src/main.py:750), shared by the
    plain-window and bucketed z-score strategies so the two can never
    drift (review finding)."""
    c = F.col(flag_col) if isinstance(flag_col, str) else flag_col
    good = flag_rank(c) <= flag_rank(
        F.lit(int(QualityFlags.PROBABLY_GOOD)).cast("tinyint")
    )
    return good | c.isNull()
