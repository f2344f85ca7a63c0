"""Plan-hygiene audit: build (never execute) every declared query's
physical plan and check the properties the 100 TB design depends on:

  - no CartesianProduct / BroadcastNestedLoopJoin with a non-trivial
    condition surface (pair-space blowups);
  - no ``Scan ExistingRDD`` (a Python->JVM round-trip dim that defeats
    pushdown and broadcast planning — use VALUES relations);
  - every parquet scan of a filtered table shows PushedFilters;
  - scans read a pruned ReadSchema (no SELECT * of wide tables where the
    query uses few columns).

Usage: python tools/plan_audit.py [sf_dir]
Exit code 1 if any violation; prints one line per query.
"""

from __future__ import annotations

import re
import sys

from check_oracles import ROOT, load_entry

sys.path.insert(0, ROOT)


# queries where a nested-loop join is the intended physical shape (tiny
# broadcast side by construction: query sets / band buckets)
NESTED_LOOP_OK = {
    "sim_topk",          # corpus x 8 broadcast queries, intentional
    "dedup_ngram_jaccard",  # blocked self-join, non-equi by design
    "dedup_embedding_cosine",
    "nearest_lookup",    # fan-out against a 4-row literal target dim
    "scd2_lookup",       # dim build: customer x 3-row version literal;
                         # the lookup itself is a BroadcastHashJoin on
                         # the natural key with the BETWEEN as residual
    "experiment",        # CUPED θ scalar attach: crossJoin of a ONE-ROW
                         # broadcast aggregate (covariance pass) — the
                         # sanctioned scalar-attach shape, no pair space
    "maxsim",            # shortlist = queries x pre-filtered candidate
                         # ids (the first-stage retriever's contract);
                         # scoring itself is an equi-join on the
                         # shortlist keys
    "bm25",              # corpus stats (N, avgdl) attach: crossJoin of
                         # a ONE-ROW broadcast aggregate over the
                         # persisted token frame — the sanctioned
                         # scalar-attach shape (round-11)
}

# queries whose plan legitimately scans a LogicalRDD: checkpointed
# iterative state (connected components truncates its self-join lineage
# with localCheckpoint — NOT a Python->JVM dim round-trip)
EXISTING_RDD_OK = {
    "dedup_clusters",
    "pagerank",  # localCheckpoint per iteration truncates rank lineage
    "kcore",     # localCheckpoint per peel round truncates edge lineage
}


def audit(sf_dir: str) -> int:
    from qualityassurancetool_spark.session import get_spark

    m = load_entry()
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    failures = 0
    for name, fn in m.queries().items():
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
        problems = []
        if "CartesianProduct" in plan:
            problems.append("CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in NESTED_LOOP_OK:
            problems.append("BroadcastNestedLoopJoin")
        if "Scan ExistingRDD" in plan and name not in EXISTING_RDD_OK:
            problems.append("ExistingRDD-scan")
        # shrinking frames ([X, unboundedFollowing] with X above
        # unboundedPreceding) re-aggregate from scratch PER ROW —
        # O(rows²) per window partition.  resample shipped one and the
        # 10 M rehearsal measured 255 s where the reversed-order
        # running-frame rewrite takes 4.5 s (round 9, docs/SCALE.md);
        # whole-partition frames (unboundedPreceding→unboundedFollowing)
        # evaluate once and are fine.
        if re.search(
            r"specifiedwindowframe\((?:Row|Range)Frame, "
            r"(?!unboundedpreceding\$\(\))[^,]+, "
            r"unboundedfollowing\$\(\)\)",
            plan,
        ):
            problems.append("shrinking-window-frame (O(n^2)/partition)")
        # every FileScan whose DataFilters contain a PUSHABLE predicate
        # (bare attribute comparison / null check) must show PushedFilters.
        # Derived-expression predicates (md5-hash membership, computed
        # columns) are unpushable by construction and are not flagged.
        pushable_pat = re.compile(
            r"(?:isnotnull|isnull)\(\w+#\d+L?\)"
            r"|\(?\w+#\d+L?\s*(?:=|>=|<=|>|<|IN)\s"
        )
        for scan in re.findall(r"FileScan parquet [^\n]*", plan):
            if "DataFilters: [" in scan:
                body = scan.split("DataFilters: [", 1)[1].split("]", 1)[0]
                if body and pushable_pat.search(body) and (
                    "PushedFilters: []" in scan
                ):
                    problems.append("unpushed-filters")
        if name == "ann_ivfadc":
            # the disk-serve contract: the probed-list IN literal must
            # resolve to FILE-level pruning on the partitioned layout.
            # Only the INSIDE of the PartitionFilters bracket counts —
            # cluster_id also appears in PushedFilters/ReadSchema on the
            # same line, which would make a substring check pass even
            # for an unpartitioned layout (review finding).
            def _partition_filter_body(scan: str) -> str:
                if "PartitionFilters: [" not in scan:
                    return ""
                return scan.split("PartitionFilters: [", 1)[1].split(
                    "]", 1
                )[0]

            pruned = any(
                "cluster_id" in _partition_filter_body(scan)
                for scan in re.findall(r"FileScan parquet [^\n]*", plan)
            )
            if not pruned:
                problems.append("no-partition-pruning")
        status = "OK " if not problems else "FAIL"
        if problems:
            failures += 1
        print(f"{status} {name}: {', '.join(problems) or 'clean'}")
    spark.stop()
    return failures


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sys.exit(1 if audit(sf) else 0)
