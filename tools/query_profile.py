#!/usr/bin/env python
"""Profile registered queries: one JSON record per query run, every
count read from the status store through ``perfbench.probe.StatusProbe``.

Usage: python tools/query_profile.py [--sf DIR] [--reps N] [--all]
                                     [--plans DIR] [name ...]

Names default to ``bench.HEADLINE``, ``--all`` runs every registered
query, and ``--sf`` defaults to sf0.01. ``--reps N`` runs the list N
times, rep-major, so ambient drift lands on all queries alike. Each run,
after a JVM GC, records ``build_s`` and ``build_jobs`` (jobs the builder
launched: eager checkpoints, convergence loops, foreachBatch streams),
the fact-table scans of the static executed plan (:func:`count_scans`),
and ``exec_s`` with the ``Counters`` fields of a noop write. With
``--plans DIR`` the frame is then collected, which finalizes its own
adaptive plan, and ``DIR/<name>.txt`` (formatted static plan) and
``DIR/<name>_final.txt`` (final adaptive plan) are written.

The summaries list the build-time leaders, the pure-planning suspects
(build_s > 1 s with 0 build jobs: the plan re-analysis signature), the
fact tables scanned 3 or more times outside a cached subtree and, with
``--reps`` 2 or more, the counters that differ across a query's reps.

The session retains every job and stage: past Spark's default of 1,000
stages the store evicts skipped stages first, including ones
``StatusProbe.since`` still reads (a ``--reps 2`` headline sweep fails).
Not named ``profile.py``: pyspark imports ``cProfile``, which imports
the stdlib ``profile``, and a script's own directory comes first on
``sys.path``.
"""

from __future__ import annotations

import dataclasses
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(1, os.path.dirname(os.path.abspath(__file__)))

import _cli  # noqa: E402  (tools/_cli.py — shared flag parsing)
import __spark_entry__  # noqa: E402,F401  (registers every query module)
import bench  # noqa: E402
from movies_etl_spark.plans import registry  # noqa: E402
from movies_etl_spark.session import get_spark  # noqa: E402
from perfbench.probe import StatusProbe  # noqa: E402

USAGE = "usage: query_profile.py [--sf DIR] [--reps N] [--all] [--plans DIR] [name ...]"
SF = "/root/testdata/sf0.01"

#: tables whose multi-scan is worth flagging — the ones that are
#: corpus-/fact-scale at 100 TB. region..part are broadcast dims.
FACT_TABLES = ["lineitem", "orders", "events", "documents", "embeddings"]

#: counters the same query on the same data should repeat exactly
REPEAT_COUNTERS = ("jobs", "stages", "tasks", "input_bytes", "shuffle_write_bytes")


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


def profile(spark, names, sf_dir, reps, plans_dir=None) -> list[dict]:
    """Run each named query ``reps`` times, rep-major; print each run's
    record as one JSON line and return them all."""
    probe = StatusProbe(spark)
    records = []
    for rep in range(reps):
        for name in names:
            spark._jvm.System.gc()
            mark = probe.mark()
            t0 = time.perf_counter()
            df = registry.QUERIES[name](spark, sf_dir)
            build_s = time.perf_counter() - t0
            built = probe.mark()
            qe = df._jdf.queryExecution()
            resident, cached = count_scans(qe.executedPlan().toString())
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            exec_s = time.perf_counter() - t0
            rec = {
                "name": name,
                "rep": rep,
                "build_s": round(build_s, 3),
                "build_jobs": built - mark,
                "exec_s": round(exec_s, 3),
                **dataclasses.asdict(probe.since(built)),
                "resident_scans": resident,
                "cached_scans": cached,
            }
            print(json.dumps(rec), flush=True)
            records.append(rec)
            if plans_dir:
                static = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
                df.collect()
                final = qe.executedPlan().toString()
                for suffix, plan in (("", static), ("_final", final)):
                    path = os.path.join(plans_dir, f"{name}{suffix}.txt")
                    with open(path, "w") as f:
                        f.write(f"-- {name} @ {sf_dir}\n{plan}")
    return records


def summarize(records: list[dict], reps: int) -> None:
    runs: dict[str, list[dict]] = {}
    for r in records:
        runs.setdefault(r["name"], []).append(r)
    med = {
        name: {
            k: statistics.median_low(r[k] for r in rs)
            for k in ("build_s", "build_jobs", "exec_s")
        }
        for name, rs in runs.items()
    }
    leaders = sorted(med, key=lambda n: -med[n]["build_s"])
    print("\n== build-time leaders (median over reps) ==")
    for name in leaders[:10]:
        m = med[name]
        print(f"{name:40s} build {m['build_s']:7.3f} ({m['build_jobs']:3d} jobs)"
              f"  exec {m['exec_s']:7.3f}")
    print("\n== pure-planning suspects (build > 1 s, zero build jobs) ==")
    suspects = [
        f"{n:40s} build {med[n]['build_s']:7.3f}"
        for n in leaders
        if med[n]["build_s"] > 1.0 and med[n]["build_jobs"] == 0
    ]
    print("\n".join(suspects) or "(none)")
    print("\n== resident fact-table scans >= 3 ==")
    many = sorted(
        ((n, name, t) for name, rs in runs.items() for t in FACT_TABLES
         if (n := max(r["resident_scans"][t] for r in rs)) >= 3),
        reverse=True,
    )
    print("\n".join(f"{name:40s} {t:10s} x{n}" for n, name, t in many) or "(none)")
    if reps >= 2:
        print("\n== counters that differ across reps ==")
        differ = [
            f"{name:40s} {c}: {' / '.join(str(r[c]) for r in rs)}"
            for name, rs in runs.items()
            for c in REPEAT_COUNTERS
            if len({r[c] for r in rs}) > 1
        ]
        print("\n".join(differ) or "(none)")


def main() -> None:
    vals, names = _cli.parse_args(
        sys.argv[1:],
        {"--sf": str, "--reps": int, "--all": _cli.BOOL, "--plans": str},
        USAGE,
        positionals=True,
    )
    reps = vals.get("reps", 1)
    if reps < 1:
        sys.exit(f"--reps must be at least 1\n{USAGE}")
    if unknown := [n for n in names if n not in registry.QUERIES]:
        sys.exit(f"unknown queries: {unknown}\n{USAGE}")
    if vals.get("all"):
        names = list(registry.QUERIES)
    elif not names:
        names = [n for n in bench.HEADLINE if n in registry.QUERIES]
    plans_dir = vals.get("plans")
    if plans_dir:
        os.makedirs(plans_dir, exist_ok=True)
    spark = get_spark(
        app_name="query_profile",
        extra_conf={
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
        },
    )
    summarize(profile(spark, names, vals.get("sf", SF), reps, plans_dir), reps)


if __name__ == "__main__":
    main()
