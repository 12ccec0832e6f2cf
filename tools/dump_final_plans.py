#!/usr/bin/env python
"""Dump the AQE FINAL executed plan for named registry queries.

Usage: python tools/dump_final_plans.py OUTDIR SUFFIX q1 q2 ... [--sf DIR]

Unlike tools/dump_plans.py (static `.explain("formatted")`, dumped
BEFORE execution — AdaptiveSparkPlan isFinalPlan=false, so runtime
join-strategy changes are invisible), this EXECUTES each query and then
prints the query execution's executedPlan, i.e. the re-optimized plan
AQE actually ran (isFinalPlan=true, including SMJ→SHJ/BHJ conversions
and AQEShuffleRead nodes). VERDICT r18 What's-wrong #1 / next-round #5:
the r18 SHJ claims need post-execution artifacts, which a static dump
cannot provide.

Mechanics: each query runs via `df.collect()` (the registry queries
return small result frames), which executes that DataFrame's own
QueryExecution, so its AdaptiveSparkPlan finalizes in place; the dump
is that QueryExecution's `executedPlan().toString()`. No noop write is
involved: a write would run a separate QueryExecution whose final plan
this DataFrame's does not see.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(1, os.path.dirname(os.path.abspath(__file__)))

import _cli  # noqa: E402  (tools/_cli.py — shared flag parsing)
from movies_etl_spark.session import get_spark  # noqa: E402

USAGE = "usage: dump_final_plans.py OUTDIR SUFFIX q1 [q2 ...] [--sf DIR]"


def main() -> None:
    vals, args = _cli.parse_args(sys.argv[1:], {"--sf": str}, USAGE, positionals=True)
    if len(args) < 3:
        sys.exit(USAGE)
    sf = vals.get("sf", "/root/testdata/sf0.1")
    outdir, suffix, names = args[0], args[1], args[2:]
    os.makedirs(outdir, exist_ok=True)
    import __spark_entry__  # noqa: F401  (registers every query module)
    from movies_etl_spark.plans import registry

    spark = get_spark(app_name="dump_final_plans")
    for name in names:
        fn = registry.QUERIES[name]
        df = fn(spark, sf)
        # Execute THIS DataFrame's QueryExecution so its
        # AdaptiveSparkPlan finalizes; the registry queries all return
        # small result frames (oracle-compared row-for-row), so
        # collect() is safe and cheap here. The noop sink would execute
        # a different QueryExecution (the write command's) whose final
        # plan is harder to reach from Python.
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(
                f"-- {name} @ {sf} (AQE final executedPlan, "
                "post-collect())\n"
            )
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
        from movies_etl_spark.operators import caching

        caching.release_tracked()


if __name__ == "__main__":
    main()
