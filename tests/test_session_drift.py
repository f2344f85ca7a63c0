"""Environment-drift defenses: queries must survive session confs we
don't control (the driver harness builds its own session).  Round 1 died
on TIMESTAMP_NTZ inference; Spark 4 also flips spark.sql.ansi.enabled on
by default.  load_table self-heals both — prove it against a session
with ANSI forced on."""

from __future__ import annotations

import os

import pytest


@pytest.fixture()
def ansi_session(spark):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    yield spark
    spark.conf.set("spark.sql.ansi.enabled", prev)


def test_load_table_disables_ansi(ansi_session, sf_dir):
    from qualityassurancetool_spark.schema import load_table

    assert ansi_session.conf.get("spark.sql.ansi.enabled") == "true"
    load_table(ansi_session, sf_dir, "events")
    assert ansi_session.conf.get("spark.sql.ansi.enabled") == "false"


def test_flag_algebra_under_ansi_drift(ansi_session, sf_dir):
    """The flag lookup arrays use non-ANSI element_at(null) semantics;
    a query entered through load_table must work even if the session
    started with ANSI on."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entrymod_drift",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "__spark_entry__.py",
        ),
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    out = m.queries()["qc_range_flags"](ansi_session, sf_dir).collect()
    assert len(out) > 0
