"""Benchmark harness: runs the ``kind == "bench"`` rows of
``__spark_entry__.CATALOG`` at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

MEASUREMENT FIX, round 12 (guide §1.4; VERDICT r11 items 2/4): the timed
action is now the NOOP SINK (``df.write.format("noop")``), which computes
every column of every row, instead of ``count()``, which let the optimizer
prune columns and whole subtrees (proven concretely by resample in round
11: its windows+join never executed under count()).  The headline
``value``/``queries`` are noop-sink medians (r11 and earlier headline
numbers are count-action and do not compare directly).

Stability: each query runs ``$SPARK_GRAFT_BENCH_ITERS`` times (default 3,
back-to-back so iterations 2+ are warm) and reports the per-query MEDIAN;
the headline value is the sum of medians.  Cold-JVM/codegen variance was
the dominant driver-vs-local gap in round 2 (2.4-2.6x on the two heaviest
dedup queries, same plans) — medians of warm runs measure the plan, not
the JIT.  Per-query FIRST-run wall (one-time cached-frame builds + JIT)
is recorded as ``cold_s`` with its sum in ``cold_total``, so one-time
work excluded from warm medians stays driver-visible.
"""

from __future__ import annotations

import importlib.util
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spec = importlib.util.spec_from_file_location(
        "entrymod", os.path.join(os.path.dirname(os.path.abspath(__file__)), "__spark_entry__.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    from qualityassurancetool_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # the catalog's bench rows, in catalog order
    bench = [(name, fn) for name, fn, _, kind in m.CATALOG if kind == "bench"]
    # warm the JVM, codegen, and parquet footer caches so the first timed
    # query isn't charged session startup costs
    from qualityassurancetool_spark.schema import load_table

    for t in ("region", "events", "documents", "embeddings", "lineitem"):
        load_table(spark, sf_dir, t).count()

    # One untimed pass over the FULL query set before any timing: the
    # round-3 driver run showed the first bench slots absorbing
    # session-wide JIT/codegen warm-up (qc_full_pipeline read 2.77 s
    # driver vs 0.57 s local median with an unchanged plan).  Table
    # counts alone don't warm the codegen paths each query exercises;
    # executing every query once does, so slot order stops mattering.
    # The warm-up pass doubles as the COLD-cost record: ann_ivfadc
    # writes its disk layout on its first run, so its warm median alone
    # would understate a single cold invocation.  cold_s also carries
    # session-wide JIT/codegen warm-up (that's what this pass exists to
    # absorb), so it is an upper bound on any one-time build, not a pure
    # build time.
    def run_noop(df) -> None:
        # guide §1.4: computes EVERY column of EVERY row, prunes nothing
        df.write.format("noop").mode("overwrite").save()

    t_warm = time.perf_counter()
    cold: dict[str, float] = {}
    for name, fn in bench:
        t0 = time.perf_counter()
        run_noop(fn(spark, sf_dir))
        cold[name] = round(time.perf_counter() - t0, 3)
    print(
        f"# warm-up pass: {time.perf_counter() - t_warm:.1f}s "
        f"(untimed; per-query first-run costs recorded as cold_s)",
        file=sys.stderr,
    )

    def timed_pass(directory: str, iters: int) -> tuple[float, dict, dict]:
        tm: dict[str, float] = {}
        bm: dict[str, float] = {}
        tot = 0.0
        for name, fn in bench:
            samples = []
            builds = []
            for _ in range(iters):
                t0 = time.perf_counter()
                df = fn(spark, directory)
                builds.append(time.perf_counter() - t0)
                run_noop(df)
                samples.append(time.perf_counter() - t0)
            dt = statistics.median(samples)
            tm[name] = round(dt, 3)
            # driver plan-construction share of the row (the per-query
            # split VERDICT r11 item 7 asked to surface): queries stay
            # whole-wall for cross-round comparability, build_s rides
            # alongside
            bm[name] = round(statistics.median(builds), 3)
            tot += dt
            print(
                f"# {name}: median {dt:.3f}s over {iters} "
                f"(min {min(samples):.3f} max {max(samples):.3f}) "
                f"build {bm[name]:.3f}s",
                file=sys.stderr,
            )
        return tot, tm, bm

    iters = max(int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3")), 1)
    total, timings, builds = timed_pass(sf_dir, iters)

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    payload = {
        "metric": "headline-queries total wall clock",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        # round 12: the timed action behind value/queries (guide §1.4)
        "action": "noop",
        # first-run wall per query (includes any one-time cached-frame
        # build AND session JIT warm-up; see the warm-up pass comment)
        "cold_s": cold,
        "cold_total": round(sum(cold.values()), 3),
        # per-query driver plan-build medians from the noop pass
        "build_s": builds,
        "sf": float(sf) if sf else None,
        "iters": iters,
    }

    # sf1 calibration pass (VERDICT r5 #9): the plans only
    # differentiate under 10x data, so the gate artifact records both
    # scales.  /tmp/sf1 is synthesized from sf0.1 by tools/make_sf1.py
    # (disjoint key spaces, distinct content); regenerated if missing.
    # Disable with SPARK_GRAFT_BENCH_SF1=0.
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sf1")
    if os.environ.get("SPARK_GRAFT_BENCH_SF1", "1") != "0":
        try:
            if not os.path.exists(
                os.path.join(sf1_dir, "lineitem.parquet")
            ):
                import subprocess

                print("# synthesizing sf1 ...", file=sys.stderr)
                subprocess.run(
                    [
                        sys.executable,
                        os.path.join(
                            os.path.dirname(os.path.abspath(__file__)),
                            "tools",
                            "make_sf1.py",
                        ),
                        sf_dir,
                        sf1_dir,
                    ],
                    check=True,
                    timeout=900,
                )
            t_w1 = time.perf_counter()
            cold1: dict[str, float] = {}
            for name, fn in bench:
                t0 = time.perf_counter()
                run_noop(fn(spark, sf1_dir))
                cold1[name] = round(time.perf_counter() - t0, 3)
            print(
                f"# sf1 warm-up pass: "
                f"{time.perf_counter() - t_w1:.1f}s (untimed)",
                file=sys.stderr,
            )
            iters1 = max(
                int(os.environ.get("SPARK_GRAFT_BENCH_SF1_ITERS", "2")),
                1,
            )
            total1, timings1, builds1 = timed_pass(sf1_dir, iters1)
            payload["sf1"] = {
                "value": round(total1, 3),
                "queries": timings1,
                "action": "noop",
                "cold_s": cold1,
                "cold_total": round(sum(cold1.values()), 3),
                "build_s": builds1,
                "iters": iters1,
                "dir": sf1_dir,
            }
        except Exception as e:  # sf1 is calibration, never a gate abort
            print(f"# sf1 pass skipped: {e!r}", file=sys.stderr)

    print(json.dumps(payload))
    spark.stop()


if __name__ == "__main__":
    main()
