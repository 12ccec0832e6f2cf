#!/usr/bin/env python
"""Pre-driver simulation: run every _CURRENT_PRIORITY window
name at sf0.01 on a VANILLA session (driver-style) and exact-compare
values against the DuckDB oracle — stricter than the driver's hash
(sorted full-frame string equality, date-normalized per the /verify
gotcha).

Usage: python tools/driver_sim.py [--all] [--sf DIR] [name ...]
``--all`` sweeps every registered query, positional names run just
those, and ``--sf`` points at another testdata directory (default
sf0.01).
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(1, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

import _cli  # noqa: E402  (tools/_cli.py — shared flag parsing)
import __spark_entry__ as m  # noqa: E402

SF = "/root/testdata/sf0.01"
USAGE = "usage: driver_sim.py [--all] [--sf DIR] [name ...]"


def norm(df):
    cols = sorted(df.columns)
    out = df[cols].copy()
    for c in cols:
        out[c] = out[c].astype(str).str.replace(" 00:00:00", "", regex=False)
    return out.sort_values(cols).reset_index(drop=True)


def main() -> None:
    vals, names = _cli.parse_args(
        sys.argv[1:], {"--all": _cli.BOOL, "--sf": str}, USAGE, positionals=True
    )
    sf = vals.get("sf", SF)
    qs, osql = m.queries(), m.oracle_sql()
    # --all sweeps every registered query (the union the judge replays),
    # not just the driver's 50-name round window — run it after any
    # late-round rewrite to prove no off-window row went stale.
    # Positional names run just those queries — the fast loop while
    # iterating on a rewrite, before the full-window pass.
    if vals.get("all"):
        window = list(qs)
    elif names:
        unknown = [n for n in names if n not in qs]
        if unknown:
            sys.exit(f"unknown queries: {unknown}\n{USAGE}")
        window = names
    else:
        window = m._CURRENT_PRIORITY[:50]
    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    failures = []
    for i, name in enumerate(window):
        t0 = time.perf_counter()
        try:
            got = qs[name](spark, sf).toPandas()
            if name not in osql:
                print(f"{i+1:2d} {name}: rows-only ({len(got)} rows)")
                continue
            want = con.execute(osql[name]).df()
            assert sorted(got.columns) == sorted(want.columns), (
                f"schema {sorted(got.columns)} vs {sorted(want.columns)}"
            )
            assert len(got) == len(want), f"rows {len(got)} vs {len(want)}"
            g, w = norm(got), norm(want)
            assert g.equals(w), "value mismatch"
            print(
                f"{i+1:2d} {name}: exact ok {len(got)} rows "
                f"({time.perf_counter()-t0:.1f}s)"
            )
        except Exception as e:  # noqa: BLE001
            failures.append((name, str(e)[:200]))
            print(f"{i+1:2d} {name}: FAIL {str(e)[:200]}")
        finally:
            from movies_etl_spark.operators import caching

            caching.release_tracked()
    print(f"\n{len(window) - len(failures)}/{len(window)} exact-green")
    if failures:
        for n, e in failures:
            print("FAILED:", n, e)
        raise SystemExit(1)


if __name__ == "__main__":
    main()
