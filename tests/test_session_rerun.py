"""A query rebuilt in one session reads the files currently under its
``sf_dir``: nothing from an earlier build (a resolved reader, a
persisted pairs or shingle frame) may serve the files that were there
before.  A cron loop that rewrites its input between fires depends on
this."""

from __future__ import annotations

import importlib.util
import os
import shutil
import sys

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

from check_oracles import TABLES, frame_to_multiset  # noqa: E402

QUERIES = ["qc_full_pipeline", "dedup_minhash_lsh"]


def _entry():
    spec = importlib.util.spec_from_file_location(
        "entrymod_rerun", os.path.join(ROOT, "__spark_entry__.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def _oracle(sql: str, data: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return frame_to_multiset(cols, res.fetchall())


def _spark_rows(df):
    return frame_to_multiset(df.columns, [tuple(r) for r in df.collect()])


def _keep_half(path: str, key: str) -> None:
    table = pq.read_table(path)
    kept = table.filter(pc.equal(pc.bit_wise_and(table[key], 1), 0))
    tmp = path + ".new"
    pq.write_table(kept, tmp)
    os.replace(tmp, path)


def test_rerun_sees_replaced_files(spark, sf_dir, tmp_path):
    data = str(tmp_path / "sf")
    os.makedirs(data)
    for name in os.listdir(sf_dir):
        shutil.copyfile(os.path.join(sf_dir, name), os.path.join(data, name))
    m = _entry()
    qs, oracles = m.queries(), m.oracle_sql()

    first = {q: _spark_rows(qs[q](spark, data)) for q in QUERIES}
    for q in QUERIES:
        assert first[q] == _oracle(oracles[q], data)

    _keep_half(os.path.join(data, "events.parquet"), "event_id")
    _keep_half(os.path.join(data, "documents.parquet"), "doc_id")

    for q in QUERIES:
        want = _oracle(oracles[q], data)
        assert want != first[q]  # the subset really changes the answer
        assert _spark_rows(qs[q](spark, data)) == want
