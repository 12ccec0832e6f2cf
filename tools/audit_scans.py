#!/usr/bin/env python
"""Scan-multiplicity audit: how many times does each registered query's
executed plan scan each base parquet table?

Motivation (r14 continuation): the CMS join-size fusion was found by
eyeballing one query's plan — this sweeps all of them. A fact table
scanned N ≥ 3 times in ONE query is a candidate for the shared-scan /
dual-counter / conditional-aggregate family of fusions (frontier r14,
cms r14, minhash-sig r14); N = 2 is usually the honest minimum for
"estimate + exact-rides-along" oracle-checkable designs. Re-scans of a
persisted frame show as InMemoryTableScan, not FileScan, so tracked
persists are already credited; dimension tables are excluded (broadcast
re-reads of kB-sized dims are free at any scale).

Planning only — each query is analyzed and physically planned, never
executed, so the sweep runs in minutes at the smoke SF.

Counting rule (calibrated on pagerank_parts, whose naive string count
read 15 lineitem scans): every InMemoryTableScan REPRINTS the full
InMemoryRelation cached child plan beneath it, so scans inside a cached
subtree appear once per cache REFERENCE while executing at most once at
materialization. The audit therefore separates RESIDENT scans (outside
any InMemoryRelation subtree — these run on every action over the
returned frame) from cached-subtree reprints, using the plan string's
tree-prefix depth to delimit subtrees. Resident count is the
actionable column.

Usage: python tools/audit_scans.py [--sf DIR] [--min N] [--exec BOOL]
Prints one line per (query, table) with count >= --min (default 3),
then a JSON summary. With --exec true, each query is noop-written
first and the FINAL adaptive plan is counted (exchange/subquery reuse
visible as ReusedExchange — the static count overstates queries whose
repeated subtrees Spark dedupes at runtime); reuse node counts ride
along in the row.
"""
from __future__ import annotations

import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(1, os.path.dirname(os.path.abspath(__file__)))

import _cli  # noqa: E402
from movies_etl_spark.session import get_spark  # noqa: E402

#: tables whose multi-scan is worth flagging — the ones that are
#: corpus-/fact-scale at 100 TB. region..part are broadcast dims.
FACT_TABLES = ["lineitem", "orders", "events", "documents", "embeddings"]


def _prefix_len(line: str) -> int:
    """Tree-drawing prefix length of a plan line (spaces, ':', '+',
    '-'): the node text starts at the first other character, so a
    strictly greater prefix means a deeper node."""
    i = 0
    while i < len(line) and line[i] in " :+-":
        i += 1
    return i


def count_scans(plan: str) -> tuple[dict[str, int], dict[str, int]]:
    """Per fact table: (resident, cached) scan counts. A scan line is
    CACHED when it sits inside the subtree of an InMemoryTableScan /
    InMemoryRelation node (the relation's child plan is reprinted under
    every reference but executes at most once, at materialization);
    everything else is RESIDENT — it runs on every action."""
    resident = dict.fromkeys(FACT_TABLES, 0)
    cached = dict.fromkeys(FACT_TABLES, 0)
    stack: list[int] = []  # prefix depths of active cached subtrees
    for ln in plan.split("\n"):
        d = _prefix_len(ln)
        while stack and d <= stack[-1]:
            stack.pop()
        bucket = cached if stack else resident
        for t in FACT_TABLES:
            if f"{t}.parquet" in ln:
                bucket[t] += 1
        if "InMemoryTableScan" in ln or "InMemoryRelation" in ln:
            stack.append(d)
    return resident, cached


def main() -> None:
    vals, _ = _cli.parse_args(
        sys.argv[1:],
        {"--sf": str, "--min": int, "--exec": _cli.BOOL},
        "usage: audit_scans.py [--sf DIR] [--min N] [--exec BOOL]",
    )
    sf = vals.get("sf", "/root/testdata/sf0.001")
    min_n = vals.get("min", 3)
    do_exec = vals.get("exec", False)

    # import the full query surface the way the driver contract does —
    # registry alone holds only the §2 core; the suites register on
    # their module import
    import __spark_entry__  # noqa: F401  (registers every query module)
    from movies_etl_spark.plans import registry

    spark = get_spark(app_name="audit_scans")
    flagged: list[dict] = []
    errors: list[str] = []
    for name, fn in registry.QUERIES.items():
        try:
            df = fn(spark, sf)
            if do_exec:
                # collect (NOT a noop write): df.write plans a separate
                # queryExecution, leaving df's own adaptive plan
                # unexecuted — the final plan with its ReusedExchange
                # nodes only exists on the executed one. Smoke-SF frames
                # are driver-sized (driver_sim collects them wholesale).
                df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            # an executed AdaptiveSparkPlan prints "== Current Plan =="
            # AND "== Initial Plan ==" — counting both would double
            # every scan; keep only the current (final) section
            plan = plan.split("== Initial Plan ==")[0]
        except Exception:
            errors.append(name)
            traceback.print_exc(limit=1, file=sys.stderr)
            continue
        reused = plan.count("ReusedExchange") + plan.count("ReusedSubquery")
        resident, cached = count_scans(plan)
        for t in FACT_TABLES:
            if resident[t] >= min_n:
                row = {
                    "query": name,
                    "table": t,
                    "resident_scans": resident[t],
                    "cached_reprints": cached[t],
                }
                if do_exec:
                    row["reused_nodes"] = reused
                flagged.append(row)
                print(
                    f"{name}: {t} resident x{resident[t]} "
                    f"(cached reprints {cached[t]}, reused={reused})",
                    file=sys.stderr,
                )
    flagged.sort(key=lambda r: -r["resident_scans"])
    print(
        json.dumps(
            {
                "flagged": flagged,
                "n_queries": len(registry.QUERIES),
                "n_flagged": len(flagged),
                "errors": errors,
                "min_scans": min_n,
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
