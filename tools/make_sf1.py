"""Synthesize an sf1-scale dataset (10× sf0.1) into /tmp/sf1 for the
bench linearity calibration (VERDICT r4 #6) — the driver ships
sf{0.001,0.01,0.1} only, and /root/testdata is read-only.

Each fact table is unioned 10× with DISJOINT key spaces (every id
domain shifts by copy × (max_id + 1), consistently across tables so
join selectivity per key is preserved: copy k of orders joins copy k
of customer/lineitem exactly like the original).  Dimensions
(region/nation) stay as-is — they are broadcast dimensions; part of
the point is that their size does NOT scale with the fact tables.
Documents get a per-copy suffix token and embeddings a deterministic
per-copy rotation of one coordinate so the dedup/ANN families see 10×
DISTINCT content, not 10 planted clones of everything (which would
change query semantics, not scale).

Usage: python tools/make_sf1.py [src_dir] [dst_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

COPIES = 10

# table -> columns to shift, keyed by the id domain they belong to
SHIFT = {
    "customer": {"c_custkey": "custkey"},
    "supplier": {"s_suppkey": "suppkey"},
    "part": {"p_partkey": "partkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "lineitem": {
        "l_orderkey": "orderkey",
        "l_partkey": "partkey",
        "l_suppkey": "suppkey",
    },
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}
PASSTHROUGH = ["region", "nation"]


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1"
    from qualityassurancetool_spark.schema import load_table
    from qualityassurancetool_spark.session import get_spark

    spark = get_spark("make-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(dst, exist_ok=True)

    # one shift constant per id DOMAIN (shared across tables)
    domains: dict[str, int] = {}
    for table, cols in SHIFT.items():
        df = load_table(spark, src, table)
        for col, dom in cols.items():
            m = df.agg(F.max(col)).first()[0]
            domains[dom] = max(domains.get(dom, 0), int(m) + 1)

    for table in PASSTHROUGH:
        load_table(spark, src, table).write.mode("overwrite").parquet(
            os.path.join(dst, f"{table}.parquet")
        )
        print(f"{table}: passthrough")

    for table, cols in SHIFT.items():
        df = load_table(spark, src, table)
        parts = []
        for c in range(COPIES):
            p = df
            for col, dom in cols.items():
                p = p.withColumn(
                    col, (F.col(col) + F.lit(c * domains[dom])).cast("long")
                )
            if table == "documents" and c > 0:
                p = p.withColumn(
                    "text", F.concat(F.col("text"), F.lit(f" copytok{c}"))
                )
            if table == "embeddings" and c > 0:
                # deterministic tweak of the first coordinate keeps the
                # copies distinct without changing vector dimensionality
                p = p.withColumn(
                    "embedding",
                    F.concat(
                        F.array(
                            (
                                F.element_at("embedding", 1)
                                + F.lit(0.01 * c)
                            ).cast("float")
                        ),
                        F.slice(
                            "embedding", 2, F.size("embedding") - 1
                        ),
                    ),
                )
            parts.append(p)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.repartition(32).write.mode("overwrite").parquet(
            os.path.join(dst, f"{table}.parquet")
        )
        n = spark.read.parquet(os.path.join(dst, f"{table}.parquet")).count()
        print(f"{table}: {n:,} rows")
    spark.stop()


if __name__ == "__main__":
    main()
