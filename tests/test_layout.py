"""Storage-layout tests: partition pruning and bucketed (shuffle-free)
joins — the two layout disciplines SCALE.md leans on."""

from __future__ import annotations

import re

import __spark_entry__ as entrymod
from pyspark.sql import functions as F


def _plan(df, spark):
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_partition_pruning_in_plan(spark, sf_dir):
    q = entrymod.queries()["partition_pruned_scan"]
    df = q(spark, sf_dir)
    plan = _plan(df, spark)
    assert "PartitionFilters" in plan
    assert re.search(r"PartitionFilters: \[.*order_year.*1997", plan), plan


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """bucketBy co-location: two tables bucketed+sorted on the join key
    join with zero Exchange nodes — the resident-shuffle eliminator for
    repeated same-key joins (SCALE.md future-work item, proven here)."""
    from movies_etl_spark.sources import readers

    o = readers.load_table(spark, sf_dir, "orders")
    li = readers.load_table(spark, sf_dir, "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    (
        o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("b_orders")
    )
    (
        li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_items"))
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("b_lineitem")
    )
    a = spark.table("b_orders")
    b = spark.table("b_lineitem")
    joined = a.join(b, a["o_orderkey"] == b["l_orderkey"]).select(
        "o_orderkey", "o_totalprice", "n_items"
    )
    plan = _plan(joined, spark)
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 0, plan
    # sanity: result is right
    n = joined.count()
    assert n == a.join(b, a["o_orderkey"] == b["l_orderkey"]).count()
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_events_nanos_encoding_tolerated(spark, sf_dir, tmp_path):
    """The driver has regenerated events.parquet in BOTH encodings across
    rounds (TIMESTAMP(NANOS) → Spark reads a bigint under nanosAsLong;
    TIMESTAMP(MICROS)-no-tz → TIMESTAMP_NTZ). Re-encode the current
    events table as NANOS and assert ts-heavy queries return identical
    results — so the next regeneration cannot break 25 queries again
    (NOTES_r3 round-start incident)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as m

    ns_dir = tmp_path / "sf_ns"
    ns_dir.mkdir()
    src = pq.read_table(f"{sf_dir}/events.parquet")
    idx = src.schema.get_field_index("ts")
    ns = src.set_column(idx, "ts", src["ts"].cast(pa.timestamp("ns")))
    pq.write_table(ns, str(ns_dir / "events.parquet"), version="2.6")

    qs = m.queries()
    for name in ["hopping_window_agg", "week_over_week", "event_transitions"]:
        base = qs[name](spark, sf_dir).toPandas()
        got = qs[name](spark, str(ns_dir)).toPandas()
        cols = sorted(base.columns)
        b = base[cols].sort_values(cols).reset_index(drop=True)
        g = got[cols].sort_values(cols).reset_index(drop=True)
        assert b.shape == g.shape, name
        for c in cols:
            assert b[c].astype(str).equals(g[c].astype(str)), (name, c)


def test_pin_session_conf_respects_explicit_partition_sizing(spark):
    """pin_session_conf replaces only Spark's untouched 200-partition
    default; a deliberately sized session (conftest uses 8) must keep
    its setting across the per-query re-pin."""
    from movies_etl_spark.session import pin_session_conf

    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert before != "200", "conftest sizes partitions explicitly"
    pin_session_conf(spark)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_pin_session_conf_decides_once(spark):
    """The shuffle-partition replacement happens at most once per session
    (sentinel conf): a harness that deliberately re-tunes to exactly 200
    AFTER the first pin keeps its 200 across later per-query pins."""
    from movies_etl_spark.session import pin_session_conf

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        pin_session_conf(spark)  # first pin → sentinel set
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        pin_session_conf(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "200"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_pin_session_conf_replaces_stock_int96_once(spark):
    """Spark's stock INT96 timestamp encoding is replaced by the engine's
    int64 micros on the first pin; a harness that sets INT96 again AFTER
    that pin keeps it (same sentinel as the shuffle-partition pin). A
    ``newSession`` starts without the sentinel and leaves the fixture
    session's confs alone."""
    from movies_etl_spark.session import PARQUET_TIMESTAMP_TYPE, pin_session_conf

    key = "spark.sql.parquet.outputTimestampType"
    fresh = spark.newSession()
    fresh.conf.set(key, "INT96")
    pin_session_conf(fresh)
    assert fresh.conf.get(key) == PARQUET_TIMESTAMP_TYPE
    fresh.conf.set(key, "INT96")
    pin_session_conf(fresh)
    assert fresh.conf.get(key) == "INT96"
    assert spark.conf.get(key) == PARQUET_TIMESTAMP_TYPE


def test_pin_session_conf_keep_env_leaves_int96(spark, monkeypatch):
    """SPARK_GRAFT_KEEP_SESSION_CONFS=1 skips the timestamp-type pin like
    every other perf pin."""
    from movies_etl_spark.session import pin_session_conf

    key = "spark.sql.parquet.outputTimestampType"
    monkeypatch.setenv("SPARK_GRAFT_KEEP_SESSION_CONFS", "1")
    fresh = spark.newSession()
    fresh.conf.set(key, "INT96")
    pin_session_conf(fresh)
    assert fresh.conf.get(key) == "INT96"
