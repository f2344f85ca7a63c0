"""Benchmark entry point: one workload, one seed, one fresh process tree.

    python3 perfbench/run.py --workload qc_cron --seed 1 --seconds 20 --trace 0

Run from the repository root.  Steps: write the seed's inputs (cached
under ``perfbench/.data``), run the process under test (``worker.py``)
in its own process group, grade the outputs against DuckDB once it has
exited, and print one JSON result as the last line of standard output.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("qc_cron", "corpus_curate")
TRACED_COUNT_BATCHES = 3  # count metrics: median of the first three traced warm batches
DEADLINE_S = 170.0


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spawn(args: list[str], env: dict, cwd: str, deadline: float) -> int:
    """Run the worker to completion in its own process group; the group
    is killed once the worker exits or outlives ``deadline``."""
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), *args, "--t0", repr(time.time())],
        env=env, cwd=cwd, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
        text=True, start_new_session=True,
    )
    try:
        _, err = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        err = "timed out"
    finally:
        try:
            os.killpg(proc.pid, 9)
        except ProcessLookupError:
            pass
        proc.wait()
    if proc.returncode != 0:
        sys.stderr.write(err[-4000:])
    return proc.returncode


def median(xs):
    return statistics.median(xs) if xs else 0.0


def self_times(spans: list[dict], name: str) -> dict[int, float]:
    """Per batch: the ``name`` span's duration minus the part its
    (sequential) children cover."""
    out: dict[int, float] = {}
    for idx, span in enumerate(spans):
        if span["name"] == name:
            covered = sum(
                s["end"] - s["start"] for s in spans if s["parent"] == idx
            )
            out[span["batch"]] = (
                out.get(span["batch"], 0.0) + span["end"] - span["start"] - covered
            )
    return out


def layer_metrics(man: dict) -> dict:
    spans = man["spans"]
    batches = man["batches"]
    traced = [b for b in batches if b["traced"] and b["i"] > 0 and "error" not in b]
    untraced = [b for b in batches if not b["traced"] and b["i"] > 0 and "error" not in b]
    counted = traced[:TRACED_COUNT_BATCHES]

    def span_sum(name: str, i: int) -> float:
        return sum(
            s["end"] - s["start"] for s in spans if s["name"] == name and s["batch"] == i
        )

    def setup_span(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def spark(b: dict, key: str):
        return sum(g[key] for g in b["spark"].values())

    skews = [
        max(b["spark"].values(), key=lambda g: g["longest_stage_s"])["task_skew"]
        for b in traced
    ]
    mb_self = self_times(spans, "micro_batch.window")
    overhead = (
        100.0 * (median([b["wall_s"] for b in traced]) / median([b["wall_s"] for b in untraced]) - 1.0)
        if traced and untraced else 0.0
    )
    return {
        "session.start_s": (setup_span("session.start"), "s"),
        "sources.open_s": (setup_span("sources.open"), "s"),
        "plans.build_s": (median([span_sum("plans.build", b["i"]) for b in traced]), "s"),
        "plans.first_build_s": (span_sum("plans.build", 0), "s"),
        "plans.py4j_calls": (median([b["py4j_calls"] for b in counted]), "count"),
        "micro_batch.self_s": (median([mb_self.get(b["i"], 0.0) for b in traced]), "s"),
        "sinks.write_s": (median([span_sum("sinks.write", b["i"]) for b in traced]), "s"),
        "sinks.jobs": (median([b["sinks_jobs"] for b in counted]), "count"),
        "sinks.bytes_written": (median([b["bytes_written"] for b in counted]), "bytes"),
        "sinks.files_written": (median([b["files_written"] for b in counted]), "count"),
        "operators.task_s": (median([spark(b, "task_s") for b in traced]), "s"),
        "operators.stages": (median([spark(b, "stages") for b in counted]), "count"),
        "operators.tasks": (median([spark(b, "tasks") for b in counted]), "count"),
        "operators.shuffle_bytes": (median([spark(b, "shuffle_bytes") for b in traced]), "bytes"),
        "operators.spill_bytes": (median([spark(b, "spill_bytes") for b in traced]), "bytes"),
        "operators.task_skew": (median(skews), "ratio"),
        "trace.overhead_pct": (overhead, "%"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + DEADLINE_S

    for need in ("__spark_entry__.py", "qualityassurancetool_spark/__init__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a checkout of the engine")

    import gen
    import grade

    inputs = gen.ensure_inputs(HERE, a.seed, a.workload)
    run_dir = os.path.join(HERE, ".runs", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        if a.workload == "qc_cron":
            shutil.copytree(inputs["prefill"]["path"], os.path.join(run_dir, "flags"))
        inputs_path = os.path.join(run_dir, "inputs.json")
        with open(inputs_path, "w") as f:
            json.dump(inputs, f)
        cpus = min(4, len(os.sched_getaffinity(0)))
        tmp = os.path.join(run_dir, "tmp")
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(cpus),
            QAT_DRIVER_MEM="1g",
            SPARK_LOCAL_DIRS=tmp,
            TMPDIR=tmp,
            PYSPARK_PYTHON=sys.executable,
            # keep every JVM's scratch files (the spark-submit launcher's
            # too) inside the checkout: no /tmp/hsperfdata_*, no java.io.tmpdir
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        rc = spawn(
            [
                "--workload", a.workload, "--inputs", inputs_path,
                "--run-dir", run_dir, "--seconds", str(a.seconds),
                "--trace", str(a.trace),
                "--min-batches", str(2 * TRACED_COUNT_BATCHES if a.trace else 2),
            ],
            env, tmp, deadline,
        )
        if rc != 0:
            fail(f"worker exited with {rc}")
        with open(os.path.join(run_dir, "manifest.json")) as f:
            man = json.load(f)

        if a.workload == "qc_cron":
            bad = grade.grade_cron(man, inputs, grade.load_oracles(ROOT))
        else:
            bad = grade.grade_corpus(
                man, inputs, os.path.join(inputs["dir"], "corpus_counts.json")
            )
        failed = {b["i"] for b in man["batches"] if "error" in b} | bad
        for b in man["batches"]:
            if "error" in b:
                sys.stderr.write(f"batch {b['i']} raised:\n{b['error']}\n")
        batches = man["batches"]
        warm = batches[1:]
        if a.workload == "qc_cron":
            grade.window_rows(inputs["stream"]["path"], batches)
            warm_rows = sum(b["rows"] for b in warm)
        else:
            warm_rows = len(warm) * inputs["corpus"]["rows_per_shard"]
        report = {
            "workload": a.workload,
            "seed": a.seed,
            "spark_graft_cpus": man["cpus"],
            "inputs": {k: v for k, v in inputs.items() if k != "dir"},
            "batches": len(batches),
            "failed_batches": sorted(failed),
            "samples": {
                "setup_s": 1,
                "first_batch_s": 1,
                "batch_p50_s": len(warm),
                "rows_per_s": len(warm),
                "peak_rss_mb": 1,
            },
            "batch_wall_s": [round(b["wall_s"], 4) for b in batches],
            "run_peak_rss_mb": round(man["run_rss_mb"], 1),
        }
        if a.trace:
            metrics = layer_metrics(man)
        else:
            metrics = {
                "setup_s": (man["setup_s"], "s"),
                "first_batch_s": (batches[0]["wall_s"], "s"),
                "batch_p50_s": (median([b["wall_s"] for b in warm]), "s"),
                "rows_per_s": (warm_rows / sum(b["wall_s"] for b in warm), "1/s"),
                "peak_rss_mb": (man["first_batch_rss_mb"], "MB"),
            }
        print(json.dumps(report))
        print(
            json.dumps(
                {
                    "correct": not failed,
                    "attempted": len(batches),
                    "failed": len(failed),
                    "metrics": {
                        k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                    },
                }
            )
        )
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
