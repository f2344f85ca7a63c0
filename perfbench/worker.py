"""The process under test: one workload in one fresh Python + JVM process.

Started by ``run.py``; not meant to be run by hand.  It drives the engine
only through its public functions, times each layer call from outside,
and writes a JSON manifest (batch timings, spans, per-batch Spark
figures) that ``run.py`` grades and reports.

With ``--trace 1`` the warm batches alternate between traced and untraced
so the tracing overhead is measured inside one process.  Tracing means:
spans around every layer call, py4j commands counted during the plan
calls, each batch's Spark jobs tagged with a job group, and the per-batch
stage/task/shuffle/spill figures read from Spark's status store after the
batch (outside its timed region).
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402

CURATE_RULES = {
    "langs": ["en", "de", "fr"],
    "max_word_rep_ratio": 0.5,
    "dedup": "exact",
}


class Tracer:
    """In-memory spans: name, start, end, parent (index) and batch id.
    ``on`` is toggled per batch; while it is off nothing is recorded."""

    def __init__(self) -> None:
        self.on = False
        self.batch: int | None = None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        idx = len(self.spans)
        self.spans.append(
            {
                "name": name,
                "start": time.perf_counter(),
                "end": None,
                "parent": self._stack[-1] if self._stack else None,
                "batch": self.batch,
            }
        )
        self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx]["end"] = time.perf_counter()
            self._stack.pop()


class Py4jCounter:
    """Counts py4j commands sent by this process (memory-release
    commands excluded: they follow Python's garbage collector)."""

    def __init__(self, spark) -> None:
        self.n = 0
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command

        def counting(command, *a, **k):
            if not command.startswith("m\n"):
                self.n += 1
            return orig(command, *a, **k)

        client.send_command = counting


def stage_figures(spark, group: str) -> dict:
    """Per-batch executor figures for every completed stage of the jobs
    in ``group``, read from Spark's status store."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(60_000)
    store = jsc.statusStore()
    jvm = sc._jvm
    tracker = sc.statusTracker()
    stage_ids = set()
    job_ids = tracker.getJobIdsForGroup(group)
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    quantiles = sc._gateway.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    out = {
        "jobs": len(job_ids), "stages": 0, "tasks": 0, "task_s": 0.0,
        "shuffle_bytes": 0, "spill_bytes": 0, "longest_stage_s": 0.0,
        "task_skew": 1.0,
    }
    for sid in sorted(stage_ids):
        attempts = store.stageData(
            sid, False, jvm.java.util.ArrayList(), True, quantiles
        )
        for k in range(attempts.size()):
            sd = attempts.apply(k)
            if sd.status().toString() != "COMPLETE":
                continue
            run_s = sd.executorRunTime() / 1000.0
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["task_s"] += run_s
            out["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            if run_s > out["longest_stage_s"]:
                out["longest_stage_s"] = run_s
                dist = sd.taskMetricsDistributions()
                if dist.isDefined():
                    q = dist.get().executorRunTime()
                    med, mx = q.apply(0), q.apply(1)
                    out["task_skew"] = mx / med if med > 0 else 1.0
    return out


def tree_peak_rss_mb() -> float:
    """Summed peak RSS (the kernel's ``VmHWM``) of this process and all
    its descendants: the Python process, the JVM and any Python workers.
    The kernel keeps each process's peak, so no sampling can miss one."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parent[int(name)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(c for c, pp in parent.items() if pp == pid)
    total_kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(
                    int(line.split()[1]) for line in f if line.startswith("VmHWM:")
                )
        except (OSError, StopIteration):
            continue
    return total_kb / 1024


def dir_figures(paths: list[str]) -> dict:
    files = total = 0
    for p in paths:
        for root, dirs, names in os.walk(p):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    total += os.path.getsize(os.path.join(root, n))
    return {"files_written": files, "bytes_written": total}


def qc_config(entry):
    """The configuration of the entry module's ``qc_full_pipeline`` query."""
    from qualityassurancetool_spark.config import QCConfig

    d = {
        "QC": [
            {
                "id": t,
                "range": {"min": entry.THRESHOLDS[t][0], "max": entry.THRESHOLDS[t][1]},
                "gradient": {
                    "min": entry.GRAD_THRESHOLDS[t][0],
                    "max": entry.GRAD_THRESHOLDS[t][1],
                },
                "zscore": {"min": entry.Z_THRESHOLDS[t][0], "max": entry.Z_THRESHOLDS[t][1]},
            }
            for t in entry.EVENT_TYPES
        ],
        "zscore_time_window": "60min",
    }
    return QCConfig.from_dict(d)


def load_entry():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(os.path.dirname(HERE), "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--min-batches", type=int, default=2)
    ap.add_argument("--t0", type=float, required=True)
    a = ap.parse_args()
    with open(a.inputs) as f:
        inputs = json.load(f)
    tracer = Tracer()
    tracer.on = bool(a.trace)

    from pyspark.sql import functions as F

    from qualityassurancetool_spark.schema import events_as_observations
    from qualityassurancetool_spark.session import get_spark

    with tracer.span("session.start"):
        spark = get_spark(f"perfbench-{a.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    counter = Py4jCounter(spark) if a.trace else None

    with tracer.span("sources.open"):
        if a.workload == "corpus_curate":
            corpus = spark.read.parquet(inputs["corpus"]["path"])
        else:
            obs = events_as_observations(
                spark, os.path.dirname(inputs["stream"]["path"])
            )
    setup_s = time.time() - a.t0

    batches: list[dict] = []

    def plan(fn, *args, **kw):
        """A plan call: lazy, so planning only; no Spark job runs."""
        before = counter.n if tracer.on else 0
        with tracer.span("plans.build"):
            out = fn(*args, **kw)
        if tracer.on:
            batches[-1]["py4j_calls"] = (
                batches[-1].get("py4j_calls", 0) + counter.n - before
            )
        return out

    def sink(fn, *args, **kw):
        sc = spark.sparkContext
        if tracer.on:
            sc.setJobGroup(f"b{tracer.batch}.sinks", "sink")
        with tracer.span("sinks.write"):
            fn(*args, **kw)
        if tracer.on:
            sc.setJobGroup(f"b{tracer.batch}.other", "batch")

    if a.workload == "qc_cron":
        from qualityassurancetool_spark.plans.qc_pipeline import run_qc_pipeline
        from qualityassurancetool_spark.sources.sinks import upsert_flags_table
        from qualityassurancetool_spark.streaming.micro_batch import (
            windowed_batch_runner,
        )

        cfg = qc_config(load_entry())
        flags_path = os.path.join(a.run_dir, "flags")

        def load_window(lo, hi):
            with tracer.span("sources.window"):
                return obs.where(
                    (F.col("phenomenon_time") >= F.lit(lo))
                    & (F.col("phenomenon_time") < F.lit(hi))
                )

        def run_batch(i: int) -> dict:
            # one cron fire: a single 60-min read (10-min step + 50-min
            # overlap), flags upserted into the day partition
            fire = gen.CRON_FIRST_FIRE + i * gen.CRON_STEP
            lo = fire - gen.CRON_READ
            with tracer.span("micro_batch.window"):
                windowed_batch_runner(
                    spark,
                    load_window,
                    lambda df: plan(run_qc_pipeline, df, cfg, spark),
                    lambda df, lo_, hi_: sink(upsert_flags_table, df, flags_path),
                    start=lo,
                    end=fire,
                    width=gen.CRON_READ.total_seconds(),
                )
            return {"lo": lo.isoformat(), "hi": fire.isoformat(), "out": flags_path}

        max_batches = int((gen.DAY + dt.timedelta(days=1) - gen.CRON_FIRST_FIRE) / gen.CRON_STEP)
        written = lambda b: [flags_path]  # noqa: E731

    elif a.workload == "corpus_curate":
        from qualityassurancetool_spark.operators.dedup import minhash_dedup
        from qualityassurancetool_spark.plans.curation import CurationConfig, curate

        cfg = CurationConfig.from_dict(CURATE_RULES)

        def write_parquet(df, path):
            df.write.mode("overwrite").parquet(path)

        def run_batch(i: int) -> dict:
            pairs_path = os.path.join(a.run_dir, f"pairs_{i:03d}")
            dec_path = os.path.join(a.run_dir, f"decisions_{i:03d}")
            with tracer.span("sources.window"):
                docs = corpus.where(F.col("shard") == i).drop("shard")
            pairs = plan(minhash_dedup, docs, hash_mode="fast")
            sink(write_parquet, pairs.select("id_a", "id_b", "jaccard"), pairs_path)
            with tracer.span("sources.window"):
                victims = (
                    spark.read.parquet(pairs_path)
                    .select(F.col("id_b").alias("doc_id"))
                    .distinct()
                )
            decisions = plan(curate, docs, cfg, near_dup_drops=victims)
            sink(
                write_parquet,
                decisions.select(
                    "doc_id", "predicted_lang", "keep", "drop_reason"
                ),
                dec_path,
            )
            return {"shard": i, "pairs": pairs_path, "decisions": dec_path}

        max_batches = inputs["corpus"]["shards"]
        written = lambda b: [b["pairs"], b["decisions"]]  # noqa: E731
    else:
        raise SystemExit(f"unknown workload {a.workload!r}")

    sc = spark.sparkContext
    # the cold first batch, then warm batches back to back until
    # ``--seconds`` of warm batches have run
    warm_start = None
    i = 0
    while i < max_batches and (
        i < a.min_batches or time.perf_counter() - warm_start < a.seconds
    ):
        # trace mode: the cold batch and odd warm batches are traced, even
        # warm batches are not, so the overhead is measured in-process
        tracer.on = bool(a.trace) and (i == 0 or i % 2 == 1)
        tracer.batch = i
        batches.append({"i": i, "traced": tracer.on})
        if tracer.on:
            sc.setJobGroup(f"b{i}.other", "batch")
        t = time.perf_counter()
        try:
            with tracer.span("batch"):
                batches[-1].update(run_batch(i))
        except Exception:  # a failed batch is counted, not fatal
            batches[-1]["error"] = traceback.format_exc()[-2000:]
        batches[-1]["wall_s"] = time.perf_counter() - t
        if i == 0:
            first_batch_rss_mb = tree_peak_rss_mb()
        if tracer.on and "error" not in batches[-1]:
            sc.setLocalProperty("spark.jobGroup.id", None)
            figs = {
                part: stage_figures(spark, f"b{i}.{part}")
                for part in ("sinks", "other")
            }
            batches[-1]["sinks_jobs"] = figs["sinks"]["jobs"]
            batches[-1]["spark"] = figs
            batches[-1].update(dir_figures(written(batches[-1])))
        if warm_start is None:
            warm_start = time.perf_counter()
        i += 1
    run_rss_mb = tree_peak_rss_mb()
    spark.stop()

    with open(os.path.join(a.run_dir, "manifest.json"), "w") as f:
        json.dump(
            {
                "setup_s": setup_s,
                "first_batch_rss_mb": first_batch_rss_mb,
                "run_rss_mb": run_rss_mb,
                "batches": batches,
                "spans": tracer.spans,
                "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            },
            f,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
