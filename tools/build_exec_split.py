#!/usr/bin/env python
"""Per-query (build_sec, exec_sec) split: time fn(spark, sf) separately
from the noop-sink action. Reps interleaved rep-major like ab_time."""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(1, os.path.dirname(os.path.abspath(__file__)))

import _cli  # noqa: E402  (tools/_cli.py — shared flag parsing)
from movies_etl_spark.session import get_spark  # noqa: E402

USAGE = "usage: build_exec_split.py [--reps N] [--sf DIR] name [name ...]"


def main() -> None:
    vals, args = _cli.parse_args(
        sys.argv[1:], {"--reps": int, "--sf": str}, USAGE, positionals=True
    )
    if not args:
        sys.exit(USAGE)
    reps = vals.get("reps", 3)
    sf = vals.get("sf", "/root/testdata/sf0.1")
    import __spark_entry__  # noqa: F401  (registers every query module)
    from movies_etl_spark.plans import registry

    spark = get_spark(app_name="build_exec_split")
    registry.QUERIES["groupby_count"](spark, sf).write.format("noop").mode(
        "overwrite"
    ).save()
    out = {n: [] for n in args}
    for _ in range(reps):
        for name in args:
            spark._jvm.System.gc()
            t0 = time.perf_counter()
            df = registry.QUERIES[name](spark, sf)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            out[name].append([round(t1 - t0, 3), round(t2 - t1, 3)])
    print(json.dumps(out))


if __name__ == "__main__":
    main()
