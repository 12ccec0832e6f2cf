#!/usr/bin/env python
"""Dump .explain('formatted') for named registry queries to files.

Usage: python tools/dump_plans.py OUTDIR SUFFIX q1 q2 ... [--sf DIR]
Writes OUTDIR/<query>_<SUFFIX>.txt. Streaming-sink queries (whose
builder RUNS a stream rather than returning a lazy frame) still return
a batch DataFrame over the sink output; the explain is of that final
frame — noted in the file header."""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(1, os.path.dirname(os.path.abspath(__file__)))

import _cli  # noqa: E402  (tools/_cli.py — shared flag parsing)
from movies_etl_spark.session import get_spark  # noqa: E402

USAGE = "usage: dump_plans.py OUTDIR SUFFIX q1 [q2 ...] [--sf DIR]"


def main() -> None:
    vals, args = _cli.parse_args(sys.argv[1:], {"--sf": str}, USAGE, positionals=True)
    if len(args) < 3:
        sys.exit(USAGE)
    sf = vals.get("sf", "/root/testdata/sf0.1")
    outdir, suffix, names = args[0], args[1], args[2:]
    os.makedirs(outdir, exist_ok=True)
    import __spark_entry__  # noqa: F401  (registers every query module)
    from movies_etl_spark.plans import registry

    spark = get_spark(app_name="dump_plans")
    for name in names:
        fn = registry.QUERIES[name]
        df = fn(spark, sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"-- {name} @ {sf} (.explain formatted)\n")
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
        from movies_etl_spark.operators import caching

        caching.release_tracked()


if __name__ == "__main__":
    main()
