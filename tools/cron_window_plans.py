"""Executed plans of one warm ``qc_cron`` window (the benchmark's cron
fire: a 60-min read through ``run_qc_pipeline``, upserted into the
pre-filled flags table by ``upsert_flags_table``).

Prints the window's Spark job count, then every SQL execution the window
ran with its final adaptive plan (formatted explain).  Jobs outside a SQL
execution (parquet schema inference) count in the total only.

    python tools/cron_window_plans.py --seed 8 > window.txt

Inputs and session sizing are the benchmark's: ``perfbench/gen.py``
writes the inputs once per seed under ``perfbench/.data``, and the
session gets ``min(4, cores)`` local cores and a 1 GB heap.  The first
window is a warm-up; the second window is the one printed.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import gen  # noqa: E402
import worker  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=8)
    a = ap.parse_args()

    from pyspark.sql import functions as F

    from qualityassurancetool_spark.plans.qc_pipeline import run_qc_pipeline
    from qualityassurancetool_spark.schema import events_as_observations
    from qualityassurancetool_spark.session import get_spark
    from qualityassurancetool_spark.sources.sinks import upsert_flags_table
    from qualityassurancetool_spark.streaming.micro_batch import (
        windowed_batch_runner,
    )

    inputs = gen.ensure_inputs(os.path.join(ROOT, "perfbench"), a.seed, "qc_cron")
    # the benchmark's session: min(4, cores) local cores, 1 GB heap
    os.environ["SPARK_GRAFT_CPUS"] = str(min(4, len(os.sched_getaffinity(0))))
    os.environ["QAT_DRIVER_MEM"] = "1g"
    spark = get_spark("cron-window-plans")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    obs = events_as_observations(
        spark, os.path.dirname(inputs["stream"]["path"])
    )
    cfg = worker.qc_config(worker.load_entry())
    tmp = tempfile.mkdtemp(prefix="cron-window-plans-")
    flags = os.path.join(tmp, "flags")
    shutil.copytree(inputs["prefill"]["path"], flags)
    store = spark._jsparkSession.sharedState().statusStore()

    def window(i: int) -> None:
        fire = gen.CRON_FIRST_FIRE + i * gen.CRON_STEP
        ts = F.col("phenomenon_time")
        windowed_batch_runner(
            spark,
            lambda lo, hi: obs.where((ts >= F.lit(lo)) & (ts < F.lit(hi))),
            lambda df: run_qc_pipeline(df, cfg, spark),
            lambda df, lo, hi: upsert_flags_table(df, flags),
            start=fire - gen.CRON_READ,
            end=fire,
            width=gen.CRON_READ.total_seconds(),
        )

    try:
        window(0)
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        seen = store.executionsCount()
        sc.setJobGroup("window", "one warm cron window")
        window(1)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        jobs = sc.statusTracker().getJobIdsForGroup("window")
        executions = store.executionsList()
        print(f"# one warm qc_cron window, seed {a.seed}: {len(jobs)} Spark jobs")
        for k in range(seen, executions.size()):
            ex = executions.apply(k)
            print(
                f"\n## SQL execution {ex.executionId()}"
                f" ({ex.jobs().size()} jobs)\n"
            )
            print(ex.physicalPlanDescription())
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
