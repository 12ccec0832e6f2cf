#!/usr/bin/env python
"""Survey driver-side plan-BUILD time vs EXEC time for every bench query.

Motivation: Spark analyzes eagerly per transformation, so a query whose
builder nests wide shared subtrees (loops, multi-branch reuse of an
unanalyzed plan) can spend seconds of pure driver time before any job
starts.  That cost is invisible in end-to-end timings but shows up as
build_sec here.  The r10 finds (`kmeans_train_assign` 3.7-4.4 s build,
`ann_frontier_sweep` 4.2 s build) both came from this split; this tool
makes the sweep repeatable over the whole suite at HEAD.

Caveat: build_sec is a LOWER bound on driver-side planning cost — eager
localCheckpoints, convergence loops, and foreachBatch streams run jobs
at build time, which this tool attributes to build (correctly: they
happen before the caller's first action).  To separate "real work that
happens to run in the builder" from "pure Catalyst analysis", each row
also records build_jobs (Spark jobs submitted during build, via the
status tracker): the actionable rows are build_sec > ~1 s AND
build_jobs == 0 — seconds of driver time with zero cluster work is the
plan-re-analysis signature that the r10 k-means/frontier fixes closed.

``--reps N`` times each query N times, interleaved rep-major (every
query once, then every query again), so ambient drift on a shared box
lands on all queries alike instead of on whichever ran last; the
summaries use each query's (low) median over its reps.

Usage: python tools/survey_build_exec.py [--top N] [--reps N] [name ...]
Prints one line per query run, the summaries sorted by build_sec desc,
then a JSON tail with every rep's row.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(1, os.path.dirname(os.path.abspath(__file__)))

import _cli  # noqa: E402  (tools/_cli.py — shared flag parsing)
from movies_etl_spark.session import get_spark  # noqa: E402
from movies_etl_spark.plans import registry  # noqa: E402
import __spark_entry__  # noqa: E402,F401  (imports every query module so registry.QUERIES is fully populated)
import bench  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    # exact flag match + guarded value lookup via the shared parser
    # (ADVICE r10: a hand-rolled startswith('--top') also swallowed
    # e.g. '--topology')
    vals, args = _cli.parse_args(
        sys.argv[1:],
        {"--top": int, "--reps": int},
        "usage: survey_build_exec.py [--top N] [--reps N] [name ...]",
        positionals=True,
    )
    top = vals.get("top", 25)
    reps = vals.get("reps", 1)
    names = args or [n for n in bench.HEADLINE if n in registry.QUERIES]
    spark = get_spark()
    tracker = spark.sparkContext.statusTracker()

    def max_job_id() -> int:
        # job ids are monotonically increasing; diffing the MAX id is
        # robust to the UI store evicting old jobs (len() diffs are not:
        # past spark.ui.retainedJobs both lengths saturate and every
        # later query would read ~0 build jobs, polluting the
        # pure-planning suspect list).
        # Primary source is the AppStatusStore, which sees jobs in EVERY
        # job group — statusTracker().getJobIdsForGroup(None) returns
        # only group-LESS jobs, so a builder that sets spark.jobGroup
        # would read build_jobs==0 and land falsely on the pure-planning
        # suspect list (ADVICE r10).
        try:
            # the CORE AppStatusStore (SparkContext.statusStore) — NOT
            # sharedState().statusStore(), which is the SQLAppStatusStore
            # and has no jobsList (the first r11 fix used it and silently
            # fell through to the fallback every call — caught in review,
            # then verified live: the core store sees a jobGroup-tagged
            # job the tracker path misses)
            jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
            n = jobs.size()
            if n == 0:
                return -1
            # jobsList is ordered (descending by id in practice);
            # checking both ends stays correct whichever direction
            return max(jobs.apply(0).jobId(), jobs.apply(n - 1).jobId())
        except Exception:
            # fallback: assumes no builder sets a job group
            ids = tracker.getJobIdsForGroup(None)
            return max(ids) if ids else -1

    rows = []
    for rep in range(reps):
        for name in names:
            fn = registry.QUERIES[name]
            spark._jvm.System.gc()
            jobs_before = max_job_id()
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            t1 = time.perf_counter()
            build_jobs = max_job_id() - jobs_before
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            rows.append(
                {
                    "name": name,
                    "rep": rep,
                    "build_sec": round(t1 - t0, 3),
                    "build_jobs": build_jobs,
                    "exec_sec": round(t2 - t1, 3),
                }
            )
            print(
                f"{name:40s} rep {rep} build {t1 - t0:7.3f}"
                f" ({build_jobs:3d} jobs)  exec {t2 - t1:7.3f}",
                flush=True,
            )
    summary = [
        {
            "name": name,
            **{
                k: statistics.median_low(
                    r[k] for r in rows if r["name"] == name
                )
                for k in ("build_sec", "build_jobs", "exec_sec")
            },
        }
        for name in names
    ]
    summary.sort(key=lambda r: -r["build_sec"])
    print("\n== top by build_sec ==")
    for r in summary[:top]:
        frac = r["build_sec"] / max(r["build_sec"] + r["exec_sec"], 1e-9)
        print(
            f"{r['name']:40s} build {r['build_sec']:7.3f}"
            f" ({r['build_jobs']:3d} jobs)"
            f"  exec {r['exec_sec']:7.3f}  build-frac {frac:4.2f}"
        )
    print("\n== pure-planning suspects (build > 1 s, zero build jobs) ==")
    suspects = [
        r for r in summary if r["build_sec"] > 1.0 and r["build_jobs"] == 0
    ]
    for r in suspects:
        print(f"{r['name']:40s} build {r['build_sec']:7.3f}")
    if not suspects:
        print("(none)")
    print(json.dumps({"sf_dir": SF_DIR, "rows": rows}))


if __name__ == "__main__":
    main()
