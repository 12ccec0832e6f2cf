#!/usr/bin/env python
"""Pre-driver simulation: run every _CURRENT_PRIORITY window
name at sf0.01 on a VANILLA session (driver-style) and exact-compare
values against the DuckDB oracle — stricter than the driver's hash
(sorted full-frame string equality, date-normalized per the /verify
gotcha)."""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as m

SF = "/root/testdata/sf0.01"


def norm(df):
    cols = sorted(df.columns)
    out = df[cols].copy()
    for c in cols:
        out[c] = out[c].astype(str).str.replace(" 00:00:00", "", regex=False)
    return out.sort_values(cols).reset_index(drop=True)


def main() -> None:
    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    qs, osql = m.queries(), m.oracle_sql()
    # --all sweeps every registered query (the union the judge replays),
    # not just the driver's 50-name round window — run it after any
    # late-round rewrite to prove no off-window row went stale.
    # Positional names (r12) run just those queries — the fast loop
    # while iterating on a rewrite, before the full-window pass.
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    if "--all" in sys.argv:
        window = list(m.queries())
    elif names:
        unknown = [n for n in names if n not in qs]
        if unknown:
            raise SystemExit(f"unknown queries: {unknown}")
        window = names
    else:
        window = m._CURRENT_PRIORITY[:50]
    failures = []
    for i, name in enumerate(window):
        t0 = time.perf_counter()
        try:
            got = qs[name](spark, SF).toPandas()
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
