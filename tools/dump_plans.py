#!/usr/bin/env python
"""Dump the static and the final adaptive plan of named registry queries.

Usage: python tools/dump_plans.py OUTDIR SUFFIX q1 q2 ... [--sf DIR]

For each query, writes:
- OUTDIR/<query>_<SUFFIX>.txt: ``.explain("formatted")`` before
  execution. Its AdaptiveSparkPlan reads isFinalPlan=false, so runtime
  join-strategy changes are not in it.
- OUTDIR/<query>_<SUFFIX>_final.txt: after ``collect()``, the query
  execution's ``executedPlan`` — the plan adaptive execution actually
  ran (isFinalPlan=true, with SMJ→SHJ/BHJ conversions and AQEShuffleRead
  nodes).

``collect()`` executes the DataFrame's own QueryExecution, so its
AdaptiveSparkPlan finalizes in place; the registry queries return small
result frames, so collecting them is cheap. A write would run a separate
QueryExecution whose final plan this DataFrame's does not see.
Streaming-sink queries (whose builder RUNS a stream rather than
returning a lazy frame) return a batch DataFrame over the sink output;
both plans are of that final frame.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(1, os.path.dirname(os.path.abspath(__file__)))

import _cli  # noqa: E402  (tools/_cli.py — shared flag parsing)
from movies_etl_spark.session import get_spark  # noqa: E402

USAGE = "usage: dump_plans.py OUTDIR SUFFIX q1 [q2 ...] [--sf DIR]"


def _write(path: str, header: str, plan: str) -> None:
    with open(path, "w") as f:
        f.write(header + "\n")
        f.write(plan)
    print(f"wrote {path} ({len(plan)} chars)")


def main() -> None:
    vals, args = _cli.parse_args(sys.argv[1:], {"--sf": str}, USAGE, positionals=True)
    if len(args) < 3:
        sys.exit(USAGE)
    sf = vals.get("sf", "/root/testdata/sf0.1")
    outdir, suffix, names = args[0], args[1], args[2:]
    os.makedirs(outdir, exist_ok=True)
    import __spark_entry__  # noqa: F401  (registers every query module)
    from movies_etl_spark.operators import caching
    from movies_etl_spark.plans import registry

    spark = get_spark(app_name="dump_plans")
    for name in names:
        df = registry.QUERIES[name](spark, sf)
        qe = df._jdf.queryExecution()
        _write(
            os.path.join(outdir, f"{name}_{suffix}.txt"),
            f"-- {name} @ {sf} (.explain formatted)",
            df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted"),
        )
        df.collect()
        _write(
            os.path.join(outdir, f"{name}_{suffix}_final.txt"),
            f"-- {name} @ {sf} (AQE final executedPlan, post-collect())",
            qe.executedPlan().toString(),
        )
        caching.release_tracked()


if __name__ == "__main__":
    main()
