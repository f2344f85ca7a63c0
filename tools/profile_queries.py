"""Per-query profiling for the optimization rounds: separates DRIVER
plan-build time (DataFrame construction, py4j traffic, any collects the
build path performs) from EXECUTION time (the noop-sink write the bench
times, which computes every column of every row), and optionally dumps
``explain("formatted")`` per query.

Usage:
    python tools/profile_queries.py [--explain-dir DIR] [--iters N] [query ...]

With no query names it profiles the catalog's bench rows; any catalog
row, retired ones included, can be named.

Writes one line per query:  name  build_s  exec_s  total_s
and a JSON blob at the end.  Uses the same session/table warm-up and the
same action as bench.py, so total_s is comparable to warm bench medians.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

from check_oracles import ROOT, load_entry

sys.path.insert(0, ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--iters", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    m = load_entry()

    from qualityassurancetool_spark.session import get_spark
    from qualityassurancetool_spark.schema import load_table

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    qs = {name: fn for name, fn, _, _ in m.CATALOG}
    names = args.queries or [
        name for name, _, _, kind in m.CATALOG if kind == "bench"]

    for t in ("region", "events", "documents", "embeddings", "lineitem"):
        load_table(spark, args.sf_dir, t).count()
    def run_noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # untimed warm pass (JIT/codegen), same as bench.py
    for name in names:
        run_noop(qs[name](spark, args.sf_dir))

    out = {}
    print(f"{'query':28} {'build_s':>8} {'exec_s':>8} {'total_s':>8}")
    for name in names:
        builds, execs = [], []
        for _ in range(args.iters):
            t0 = time.perf_counter()
            df = qs[name](spark, args.sf_dir)
            t1 = time.perf_counter()
            run_noop(df)
            t2 = time.perf_counter()
            builds.append(t1 - t0)
            execs.append(t2 - t1)
        b = statistics.median(builds)
        e = statistics.median(execs)
        out[name] = {"build_s": round(b, 3), "exec_s": round(e, 3),
                     "total_s": round(b + e, 3)}
        print(f"{name:28} {b:8.3f} {e:8.3f} {b + e:8.3f}")
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = qs[name](spark, args.sf_dir)
            path = os.path.join(
                args.explain_dir, f"{name}_{args.suffix}.txt")
            with open(path, "w") as fh:
                fh.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution
                    .ExplainMode.fromString("formatted")))
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
