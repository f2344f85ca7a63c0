"""Output grading against DuckDB, run after the process under test exits.

Each function returns the set of batch indices whose output did not
match the oracle.  The oracle SQL is the entry module's own
(``oracle_sql()``): the same statements the query gate checks.
"""

from __future__ import annotations

import json
import os

import duckdb


def _connect(stream_path: str | None = None) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    if stream_path:
        con.execute(
            f"CREATE VIEW stream AS SELECT * FROM read_parquet('{stream_path}')"
        )
    return con


def _window_view(con, lo: str, hi: str) -> None:
    con.execute(
        "CREATE OR REPLACE VIEW events AS SELECT * FROM stream "
        f"WHERE ts >= TIMESTAMP '{lo}' AND ts < TIMESTAMP '{hi}'"
    )


def grade_cron(manifest: dict, inputs: dict, oracles: dict) -> set[int]:
    """Replay every window through the ``qc_full_pipeline`` oracle, keep
    the last writer per ``iot_id`` over the pre-filled table, and compare
    with the final flags table.  A mismatching id fails the batch that
    wrote it last (the pre-fill counts as batch 0)."""
    con = _connect(inputs["stream"]["path"])
    pre = os.path.join(inputs["prefill"]["path"], "*", "*.parquet")
    con.execute(
        "CREATE TABLE expected AS SELECT iot_id, CAST(qc_flag AS INT) AS flag, "
        f"0 AS batch FROM read_parquet('{pre}')"
    )
    sql = oracles["qc_full_pipeline"]
    batches = [b for b in manifest["batches"] if "error" not in b]
    for b in batches:
        _window_view(con, b["lo"], b["hi"])
        con.execute(
            f"CREATE OR REPLACE TABLE w AS SELECT *, {b['i']} AS batch FROM ({sql})"
        )
        con.execute("DELETE FROM expected WHERE iot_id IN (SELECT iot_id FROM w)")
        con.execute("INSERT INTO expected SELECT iot_id, flag, batch FROM w")
    if not batches:
        return set()
    out = os.path.join(batches[-1]["out"], "*", "*.parquet")
    con.execute(
        "CREATE TABLE actual AS SELECT iot_id, CAST(qc_flag AS INT) AS flag "
        f"FROM read_parquet('{out}')"
    )
    bad = {
        r[0]
        for r in con.execute(
            """
            SELECT coalesce(e.batch, 0)
            FROM expected e FULL OUTER JOIN actual a USING (iot_id)
            WHERE e.flag IS DISTINCT FROM a.flag
            """
        ).fetchall()
    }
    dups = con.execute(
        "SELECT count(*) - count(DISTINCT iot_id) FROM actual"
    ).fetchone()[0]
    if dups:
        bad.add(batches[-1]["i"])
    return bad


_SHINGLES = r"""
    WITH toks AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
        FROM docs
    )
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, greatest(len(t) - 2, 1) + 1),
               i -> array_to_string(t[i:i + 2], ' '))) AS s
    FROM toks
"""


def grade_corpus(manifest: dict, inputs: dict, counts_path: str) -> set[int]:
    """Per shard: every reported pair's Jaccard recomputed over word
    3-shingles, one decision row per input row, every near-duplicate
    victim dropped and no other doc dropped as one; the pair and drop
    counts must repeat exactly across runs of one seed."""
    con = _connect()
    known: dict = {}
    if os.path.exists(counts_path):
        with open(counts_path) as f:
            known = json.load(f)
    bad = set()
    for b in manifest["batches"]:
        if "error" in b:
            continue
        shard = os.path.join(inputs["corpus"]["path"], f"shard={b['shard']}", "*.parquet")
        con.execute(f"CREATE OR REPLACE VIEW docs AS SELECT * FROM read_parquet('{shard}')")
        con.execute(f"CREATE OR REPLACE TABLE sh AS {_SHINGLES}")
        pairs = os.path.join(b["pairs"], "*.parquet")
        dec = os.path.join(b["decisions"], "*.parquet")
        con.execute(f"CREATE OR REPLACE VIEW pairs AS SELECT * FROM read_parquet('{pairs}')")
        con.execute(f"CREATE OR REPLACE VIEW dec AS SELECT * FROM read_parquet('{dec}')")
        wrong_pairs = con.execute(
            """
            WITH j AS (
                SELECT p.id_a, p.id_b, p.jaccard,
                       len(list_intersect(a.s, b.s)) AS inter,
                       len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS uni
                FROM pairs p
                LEFT JOIN sh a ON a.doc_id = p.id_a
                LEFT JOIN sh b ON b.doc_id = p.id_b
            )
            SELECT count(*) FROM j
            WHERE NOT (id_a < id_b)
               OR inter IS NULL
               OR abs(jaccard - inter / uni) > 1e-9
               OR inter / uni < 0.7
            """
        ).fetchone()[0]
        dup_pairs = con.execute(
            "SELECT count(*) - count(DISTINCT (id_a, id_b)) FROM pairs"
        ).fetchone()[0]
        n_pairs = con.execute("SELECT count(*) FROM pairs").fetchone()[0]
        rows_ok = con.execute(
            """
            SELECT (SELECT count(*) FROM dec) = (SELECT count(*) FROM docs)
               AND (SELECT count(DISTINCT doc_id) FROM dec) = (SELECT count(*) FROM docs)
               AND NOT EXISTS (SELECT doc_id FROM docs EXCEPT SELECT doc_id FROM dec)
            """
        ).fetchone()[0]
        wrong_drops = con.execute(
            """
            WITH victims AS (SELECT DISTINCT id_b AS doc_id FROM pairs)
            SELECT count(*) FROM dec d LEFT JOIN victims v USING (doc_id)
            WHERE (v.doc_id IS NOT NULL AND d.keep)
               OR (v.doc_id IS NULL AND d.drop_reason = 'near_duplicate')
            """
        ).fetchone()[0]
        n_drops = con.execute("SELECT count(*) FROM dec WHERE NOT keep").fetchone()[0]
        key = str(b["shard"])
        seen = known.setdefault(key, [n_pairs, n_drops])
        if wrong_pairs or dup_pairs or not rows_ok or wrong_drops or seen != [n_pairs, n_drops]:
            bad.add(b["i"])
        b["n_pairs"], b["n_drops"] = n_pairs, n_drops
    with open(counts_path + ".tmp", "w") as f:
        json.dump(known, f)
    os.replace(counts_path + ".tmp", counts_path)
    return bad


def load_oracles(root: str) -> dict:
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(root, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.oracle_sql()


def window_rows(stream_path: str, batches: list[dict]) -> None:
    """Input observations per batch window, from the sorted stream."""
    import numpy as np
    import pyarrow.parquet as pq

    ts = pq.read_table(stream_path, columns=["ts"]).column("ts").to_numpy()
    for b in batches:
        lo, hi = np.datetime64(b["lo"], "us"), np.datetime64(b["hi"], "us")
        b["rows"] = int(np.searchsorted(ts, hi) - np.searchsorted(ts, lo))
