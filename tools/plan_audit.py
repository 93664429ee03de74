"""Plan audit: assert the physical plans we'd want at 100 TB.

For each headline query, render the formatted physical plan and check:

- parquet scans carry PushedFilters when the query filters scan columns
  (predicate pushdown reached the DataSource — PickTableLayout parity);
- dimension joins are broadcast (no fact-table shuffle for small dims);
- no row-at-a-time Python UDF (BatchEvalPython) in any plan — Arrow
  (ArrowEvalPython / mapInPandas) is the only allowed Python boundary;
- WholeStageCodegen spans exist (expressions stay JVM-side).

Usage: python tools/plan_audit.py [name-substring ...]
Exit code 1 if any audit fails.  Informational lines are prefixed `note`.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# queries where each property is required
REQUIRE_PUSHDOWN = {
    "tpch_q01", "tpch_q03", "tpch_q04", "tpch_q05", "tpch_q06", "tpch_q10",
    "tpch_q12", "tpch_q14", "tpch_q19", "prestosql_q06",
}
REQUIRE_BROADCAST = {
    "tpch_q03", "tpch_q05", "tpch_q07", "tpch_q08", "tpch_q09", "tpch_q10",
}
# static partition elimination: the scan must carry literal
# PartitionFilters (HivePartitionManager.java:98 parity)
REQUIRE_PARTITION_PRUNE = {"connector_hive_partitioned_roundtrip"}
# dynamic partition pruning: the partition filter exists only on a
# joined dimension, so the scan must carry a dynamicpruningexpression
# (SURVEY §4.2 — a Spark advantage the reference lacks)
REQUIRE_DPP = {"connector_hive_dpp_join"}
# scan-multiplicity budget: a CTE-heavy plan that re-inlines shared
# frames re-reads the facts dozens of times (round-10 verdict: q14_1
# had 348 scans and zero reuse before the CTE persist; 208 persisted;
# 32 after the round-12 cross_items rewrite — the worst plan in the
# suite).  Any query's plan exceeding the ceiling fails the audit so
# the next CTE-heavy addition can't regress silently.
SCAN_BUDGET = 40


def formatted_plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    import __spark_entry__ as entry
    from facebook_presto_spark.session import get_spark

    spark = get_spark("plan_audit")
    queries = entry.queries()
    filters = sys.argv[1:]
    names = [
        n for n in queries
        if not filters or any(f in n for f in filters)
    ]

    failures = 0
    for name in sorted(names):
        try:
            plan = formatted_plan(queries[name](spark, SF_DIR))
        except Exception as exc:  # pragma: no cover
            print(f"FAIL {name}: explain failed: {exc}")
            failures += 1
            continue
        problems: list[str] = []
        if "BatchEvalPython" in plan:
            problems.append("row-at-a-time Python UDF in plan")
        if name in REQUIRE_PUSHDOWN and not re.search(
            r"PushedFilters: \[[^\]]", plan
        ):
            problems.append("no PushedFilters on any scan")
        if name in REQUIRE_BROADCAST and "BroadcastHashJoin" not in plan:
            problems.append("expected a broadcast join, found none")
        if name in REQUIRE_PARTITION_PRUNE and not re.search(
            r"PartitionFilters: \[[^\]]*(?:=|IN \()", plan
        ):
            problems.append("no static PartitionFilters on the scan")
        if name in REQUIRE_DPP and "dynamicpruning" not in plan:
            problems.append("no dynamicpruningexpression on the scan")
        # unique node ids — a persisted frame's cached plan prints once
        # per InMemoryTableScan reference but executes once
        nscan_budget = len(set(
            re.findall(r"Scan parquet[^(\n]*\((\d+)\)", plan))) \
            or plan.count("Scan parquet")
        if nscan_budget > SCAN_BUDGET:
            problems.append(
                f"{nscan_budget} parquet scans exceed the {SCAN_BUDGET} "
                f"budget — persist the repeated CTE frames")
        if problems:
            failures += 1
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            nbhj = plan.count("BroadcastHashJoin")
            print(f"ok   {name} (scans: {nscan_budget}, "
                  f"broadcast joins: {nbhj})")
    print(f"\n{failures} failures / {len(names)} plans")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
