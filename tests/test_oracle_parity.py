"""Local replica of the driver's correctness gate: run every registered
query on Spark AND its oracle SQL on DuckDB over the same parquet, then
compare row count + column names + exact values (order-insensitive).

Stricter than the driver's value-hash (exact equality per cell), so a pass
here implies a hash match there.
"""

from __future__ import annotations

import datetime
import math

import pandas as pd
import pytest

import __spark_entry__ as entrymod

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        # normalize temporal dtypes to ns, tz-naive — comparing
        # datetime64 columns of MISMATCHED units (spark ns vs duckdb us)
        # makes assert_frame_equal diff the raw int64 representations
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = (
                pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[ns]")
            )
        elif df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: None if v is None or (isinstance(v, float) and math.isnan(v)) else v
            )
            non_null = df[c].dropna()
            if len(non_null) and isinstance(non_null.iloc[0], datetime.date):
                df[c] = pd.to_datetime(df[c])
    sort_cols = list(df.columns)
    df = df.sort_values(by=sort_cols, na_position="last", kind="mergesort")
    return df.reset_index(drop=True)


@pytest.mark.parametrize("name", sorted(ORACLES.keys()))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    sdf = QUERIES[name](spark, sf_dir)
    got = _normalize(sdf.toPandas())
    want = _normalize(duck.execute(ORACLES[name]).df())

    assert list(got.columns) == list(want.columns), (
        f"{name}: column mismatch {list(got.columns)} vs {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    pd.testing.assert_frame_equal(
        got, want, check_dtype=False, check_exact=True, obj=name
    )


def test_all_queries_have_callables():
    for name in ORACLES:
        assert name in QUERIES


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_parse_money_oracle_at_rounding_ties(spark, tmp_path):
    """Order totals whose rounded quotient is an exact decimal half.
    Spark rounds the quotient's shortest decimal string half up, so the
    oracle must too: DuckDB's ``round`` of the binary double gives 4.43
    for 443500.00 / 100000 = 4.435, not 4.44. Keys 1, 6, 11 take the
    billions branch (/100000); keys 0, 5, 3, 8 the millions and range
    branches (/1000: 12.35, 443.55, 2.45), where DuckDB's double rounding
    lands on the same side."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    totals = {1: 443_500.00, 6: 14_500.00, 11: 100_500.00, 16: 443_499.99,
              0: 12_350.00, 5: 443_550.00, 3: 2_450.00, 8: 12_350.00,
              2: 443_500.00, 4: 443_500.00}
    keys = sorted(totals)
    pq.write_table(
        pa.table({"o_orderkey": pa.array(keys, pa.int64()),
                  "o_totalprice": pa.array([totals[k] for k in keys], pa.float64())}),
        str(tmp_path / "orders.parquet"),
    )
    got = {
        r["o_orderkey"]: r["amount"]
        for r in QUERIES["parse_money"](spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{tmp_path}/orders.parquet')"
    )
    want = dict(con.execute(ORACLES["parse_money"]).fetchall())
    con.close()
    assert got == want
    assert got[1] == 4.44 * 1e9 and got[6] == 0.15 * 1e9 and got[11] == 1.01 * 1e9
