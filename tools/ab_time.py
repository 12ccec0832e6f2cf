#!/usr/bin/env python
"""Interleaved A/B timing harness for named registry queries at a given
SF dir — the adjudication tool VERDICT r7 #2/#4 asks for. Mirrors
bench.py methodology: noop sink, System.gc() between queries, tracked
caches released by the registry wrapper. Usage:

    python tools/ab_time.py q1 q2 ... [--reps N] [--sf DIR]

Prints one JSON line {name: [sec, ...]} with per-rep timings.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from movies_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    argv = sys.argv[1:]
    args: list[str] = []
    reps = 3
    sf = "/root/testdata/sf0.1"
    i = 0
    while i < len(argv):
        if argv[i] == "--reps":
            reps = int(argv[i + 1])
            i += 2
        elif argv[i] == "--sf":
            sf = argv[i + 1]
            i += 2
        else:
            args.append(argv[i])
            i += 1
    import __spark_entry__  # noqa: F401  (registers every query module)
    from movies_etl_spark.plans import registry

    spark = get_spark(app_name="ab_time")
    # warm
    registry.QUERIES["groupby_count"](spark, sf).write.format("noop").mode(
        "overwrite"
    ).save()
    out: dict[str, list[float]] = {n: [] for n in args}
    for r in range(reps):
        for name in args:  # interleaved: rep-major, so ambient drift is shared
            fn = registry.QUERIES[name]
            spark._jvm.System.gc()
            t0 = time.perf_counter()
            df = fn(spark, sf)
            df.write.format("noop").mode("overwrite").save()
            out[name].append(round(time.perf_counter() - t0, 3))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
