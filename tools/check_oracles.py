"""Dev harness mimicking the driver's correctness gate.  It runs every
row of ``__spark_entry__.CATALOG`` (the declared queries, then the
retired ones) against its DuckDB oracle at a given sf and compares
column names, canonical column types, row count and order-insensitive
values.  After the catalog it runs ``tools/extra_oracles.py``: the
cross-engine checks for operators no catalog row builds, compared on
column names and values.  One command covers every oracle.

Usage: python tools/check_oracles.py [sf_dir] [name ...]
       python tools/check_oracles.py --list
(a name filter selects among catalog rows AND extras; extras are named
``x_*``)
"""

from __future__ import annotations

import functools
import importlib.util
import math
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@functools.cache
def load_entry():
    """This checkout's ``__spark_entry__.py``, loaded once per process."""
    spec = importlib.util.spec_from_file_location(
        "entrymod", os.path.join(ROOT, "__spark_entry__.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0 and math.copysign(1.0, v) < 0:
            return "-0"  # driver's formatted hash distinguishes -0.0 from 0.0
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6f}"
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            f = float(v)
            if f == 0.0 and math.copysign(1.0, f) < 0:
                return "-0"
            if f == int(f) and abs(f) < 1e15:
                return str(int(f))
            return f"{f:.6f}"
    except Exception:
        pass
    return str(v)


def frame_to_multiset(cols, rows):
    out = [tuple(norm_cell(v) for v in row) for row in rows]
    return sorted(out)


def canon_spark_type(dt: str) -> str:
    """Spark dtype string → canonical type tag comparable to DuckDB's."""
    dt = dt.lower()
    m = {
        "tinyint": "i8", "smallint": "i16", "int": "i32", "bigint": "i64",
        "float": "f32", "double": "f64", "string": "str", "boolean": "bool",
        "timestamp": "ts", "timestamp_ntz": "ts", "date": "date",
        "binary": "bytes",
    }
    if dt in m:
        return m[dt]
    if dt.startswith("decimal"):
        return dt.replace(" ", "")
    if dt.startswith("array<"):
        return f"list<{canon_spark_type(dt[6:-1])}>"
    return dt


def canon_duck_type(dt: str) -> str:
    """DuckDB DESCRIBE column_type → the same canonical tags.  HUGEINT maps
    to 'i128', which no Spark type produces — the round-1 SUM-promotion
    hash bug surfaces as a type FAIL here before the driver sees it."""
    dt = dt.upper()
    m = {
        "TINYINT": "i8", "SMALLINT": "i16", "INTEGER": "i32", "BIGINT": "i64",
        "HUGEINT": "i128", "UTINYINT": "u8", "USMALLINT": "u16",
        "UINTEGER": "u32", "UBIGINT": "u64", "FLOAT": "f32", "REAL": "f32",
        "DOUBLE": "f64", "VARCHAR": "str", "BOOLEAN": "bool",
        "TIMESTAMP": "ts", "TIMESTAMP WITH TIME ZONE": "ts",
        "TIMESTAMP_NS": "ts", "DATE": "date", "BLOB": "bytes",
    }
    if dt in m:
        return m[dt]
    if dt.startswith("DECIMAL"):
        return dt.lower().replace(" ", "")
    if dt.endswith("[]"):
        return f"list<{canon_duck_type(dt[:-2])}>"
    return dt.lower()


def report(name, s_cols, s_rows, d_cols, d_rows, types=None) -> bool:
    """Print one OK/FAIL line for a check and return whether it passed.
    Column names are compared when given, canonical types when
    ``types=(spark_types, duck_types)`` is given (catalog rows only:
    extras are not driver-hashed), then row count and value multiset."""
    problems = []
    if s_cols is not None and (
        [c.lower() for c in s_cols] != [c.lower() for c in d_cols]
    ):
        problems.append(f"cols spark={s_cols} duck={d_cols}")
    elif types:
        problems += [
            f"type[{c}] spark={st} duck={dk}"
            for c, st, dk in zip(s_cols, *types)
            if st != dk
        ]
    if len(s_rows) != len(d_rows):
        problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
    if not problems:
        s_ms = frame_to_multiset(s_cols, s_rows)
        d_ms = frame_to_multiset(d_cols, d_rows)
        if s_ms != d_ms:
            i = next(i for i, (a, b) in enumerate(zip(s_ms, d_ms)) if a != b)
            problems.append(
                f"value multiset mismatch first-diff@{i}: "
                f"spark={s_ms[i]} duck={d_ms[i]}"
            )
    if problems:
        print(f"FAIL  {name}: " + "; ".join(problems))
    else:
        print(f"OK    {name}: rows={len(s_rows)}")
    return not problems


def main() -> int:
    from extra_oracles import EXTRA_CHECKS

    m = load_entry()
    if "--list" in sys.argv:
        # every check name (catalog rows, then extras), one per line, for
        # building chunked runs that stay under an outer timeout
        for name in [row[0] for row in m.CATALOG] + list(EXTRA_CHECKS):
            print(name)
        return 0
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, ROOT)
    from qualityassurancetool_spark.session import get_spark

    spark = get_spark("oracle-check")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = 0
    for name, fn, sql, _ in m.CATALOG:
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            s_rows = [tuple(r) for r in sdf.collect()]
            res = con.execute(sql)
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
            d_types = con.execute(
                f"DESCRIBE (SELECT * FROM ({sql}) _q)"
            ).fetchall()
        except Exception as e:  # noqa: BLE001 - harness boundary
            print(f"FAIL  {name}: {type(e).__name__} {str(e)[:300]}")
            failures += 1
            continue
        types = (
            [canon_spark_type(t) for _, t in sdf.dtypes],
            [canon_duck_type(r[1]) for r in d_types],
        )
        failures += not report(name, sdf.columns, s_rows, d_cols, d_rows, types)

    for name, check in EXTRA_CHECKS.items():
        if only and name not in only:
            continue
        try:
            left, right = check(spark, con, sf_dir)
            if hasattr(left, "collect"):  # (spark_df, duck_sql) shape
                s_rows = [tuple(r) for r in left.collect()]
                res = con.execute(right)
                ok = report(
                    name, left.columns, s_rows,
                    [d[0] for d in res.description], res.fetchall(),
                )
            else:  # already-materialized (rows, rows) shape
                ok = report(name, None, left, None, right)
        except Exception as e:  # noqa: BLE001 - harness boundary
            print(f"FAIL  {name}: {type(e).__name__} {str(e)[:300]}")
            ok = False
        failures += not ok
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
