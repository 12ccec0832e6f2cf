from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from movies_etl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="movies_etl_spark_tests",
        shuffle_partitions=8,
        extra_conf={
            # keep catalog tables (bucketing tests) out of the repo cwd
            "spark.sql.warehouse.dir": "/tmp/movies_etl_warehouse",
            # keep every stage in the status store: past the default
            # 1,000, eviction drops skipped stages first, including ones
            # a StatusProbe.since in a later test still reads
            "spark.ui.retainedStages": "100000",
        },
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    """DuckDB connection with the driver's pre-registered views."""
    import duckdb

    con = duckdb.connect()
    from movies_etl_spark.sources.readers import TPCH_TABLES

    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()
