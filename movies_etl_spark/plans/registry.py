"""Query registry: one entry per implemented operator (SURVEY.md §2),
each with a DuckDB oracle SQL string for the driver's correctness gate.

Contract (driver harness, __spark_entry__.py):
- every Spark query callable takes ``(spark, sf_dir)`` and returns a
  DataFrame;
- the oracle SQL runs on DuckDB views named region/nation/customer/
  supplier/part/orders/lineitem/events/documents/embeddings over the same
  parquet files;
- the driver sorts columns by name and value-hashes, so EVERY computed
  column is aliased identically on both sides;
- float aggregates are rounded identically on both sides (summation-order
  differences between engines live far below the rounded digit);
- ``events.ts`` has shipped as both TIMESTAMP(NANOS) (older testdata:
  Spark reads a nanos long, DuckDB keeps nanos) and TIMESTAMP(MICROS)
  with no timezone marker (current testdata: Spark reads
  TIMESTAMP_NTZ) — queries
  ``date_trunc`` to second or coarser on BOTH sides, and anything needing
  epoch arithmetic casts NTZ→timestamp first (UTC session, so the cast is
  value-preserving under either encoding).

Scale notes are attached per query; the design rule is: dimension sides
broadcast, fact tables shuffle at most once, filters/projections sit
directly on the scan so Catalyst pushes them into parquet.
"""

from __future__ import annotations

import functools
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from movies_etl_spark.functions import expr as E
from movies_etl_spark.operators import caching
from movies_etl_spark.operators import normalize as N
from movies_etl_spark.operators import ratings as R
from movies_etl_spark.operators import relational as REL
from movies_etl_spark.session import pin_session_conf
from movies_etl_spark.sources import readers

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a (spark, sf_dir) -> DataFrame callable, optionally with
    its DuckDB oracle SQL (omitted → driver runs rows-only check)."""

    def deco(fn):
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            pin_session_conf(spark)
            # the PREVIOUS query's action has completed by the time the
            # driver builds the next one — release its tracked caches so
            # cached blocks don't accumulate over a 100+-query session
            caching.release_tracked()
            return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return readers.load_table(spark, sf_dir, name)


def _scratch(name: str, sf_dir: str) -> str:
    """Scratch dir for sink/scan round-trip queries (safe to wipe)."""
    sf_tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = f"/tmp/movies_etl_scratch/{os.getpid()}/{name}-{sf_tag}"
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


# ===========================================================================
# §2.4 Aggregations
# ===========================================================================


@query(
    "groupby_count",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS cnt
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def q_groupby_count(spark, sf_dir):
    """A1 (challenge.py:276). Hash aggregate with automatic map-side
    partial aggregation — one shuffle of pre-aggregated partials."""
    li = _t(spark, sf_dir, "lineitem")
    return R.groupby_count(li, ["l_returnflag", "l_linestatus"], alias="cnt")


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "pivot_counts",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS cnt_click,
           count(*) FILTER (WHERE event_type = 'error')    AS cnt_error,
           count(*) FILTER (WHERE event_type = 'purchase') AS cnt_purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS cnt_signup,
           count(*) FILTER (WHERE event_type = 'view')     AS cnt_view
    FROM events GROUP BY user_id
    """,
)
def q_pivot_counts(spark, sf_dir):
    """A2+A3+F16 (challenge.py:278-283). The EXPLICIT value list becomes
    one conditional count per bucket in a single hash aggregate (no
    distinct-discovery job, no second pivot aggregate) — one shuffle over
    the fact table, output is dimension-sized."""
    ev = _t(spark, sf_dir, "events")
    return R.pivot_counts(
        ev, "user_id", "event_type", EVENT_TYPES, prefix="cnt_", fill_zero=True
    )


@query(
    "null_count_per_column",
    oracle="""
    SELECT CAST(sum(CASE WHEN nullif(o_orderstatus, 'O') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS not_open,
           CAST(sum(CASE WHEN nullif(o_orderpriority, '1-URGENT') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS not_urgent,
           CAST(sum(CASE WHEN (CASE WHEN o_totalprice > 100000 THEN o_totalprice END) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS small_price
    FROM orders
    """,
)
def q_null_count_per_column(spark, sf_dir):
    """A4 (challenge.py:95): per-column null counts in ONE pass (1-row
    result — the statistic that drives the P5 projection)."""
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("not_open"),
        F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("not_urgent"),
        F.when(F.col("o_totalprice") > 100000, F.col("o_totalprice")).alias(
            "small_price"
        ),
    )
    return N.null_counts(base)


@query(
    "value_counts",
    oracle="SELECT lang, count(*) AS cnt FROM documents GROUP BY lang",
)
def q_value_counts(spark, sf_dir):
    """A5 (ETL.ipynb cell 53): frequency table, descending."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).orderBy(
        F.desc("cnt"), "lang"
    )


@query(
    "describe_stats",
    oracle="""
    SELECT count(l_quantity) AS n,
           round(avg(l_quantity), 4) AS mean_qty,
           round(stddev_samp(l_quantity), 4) AS std_qty,
           min(l_quantity) AS min_qty,
           max(l_quantity) AS max_qty,
           round(quantile_cont(l_quantity, 0.25), 4) AS q1_qty,
           round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
           round(quantile_cont(l_quantity, 0.75), 4) AS q3_qty
    FROM lineitem
    """,
)
def q_describe_stats(spark, sf_dir):
    """A6 (ETL.ipynb cell 64): summary statistics with EXACT median
    (Spark `percentile`, not approx) for oracle parity."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("l_quantity").alias("n"),
        F.round(F.avg("l_quantity"), 4).alias("mean_qty"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("std_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.25)), 4).alias("q1_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("median_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.75)), 4).alias("q3_qty"),
    )


@query(
    "histogram",
    oracle="""
    SELECT CAST(floor(value / 50) AS BIGINT) AS bucket, count(*) AS cnt
    FROM events GROUP BY 1
    """,
)
def q_histogram(spark, sf_dir):
    """A7 (ETL.ipynb cell 64): fixed-width histogram as groupBy(bucket)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.floor(F.col("value") / 50).cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "constant_column_detector",
    oracle="""
    SELECT count(DISTINCT lang) AS n_lang,
           count(DISTINCT source) AS n_source,
           count(DISTINCT doc_id) AS n_doc
    FROM documents
    """,
)
def q_constant_column_detector(spark, sf_dir):
    """A8 (ETL.ipynb:5761): distinct cardinality per column (drove the
    reference's drop of the constant `video` column). Exact here; at
    100 TB swap in approx_count_distinct."""
    d = _t(spark, sf_dir, "documents")
    return d.agg(
        F.countDistinct("lang").alias("n_lang"),
        F.countDistinct("source").alias("n_source"),
        F.countDistinct("doc_id").alias("n_doc"),
    )


# ===========================================================================
# §2.3 Joins
# ===========================================================================


@query(
    "join_inner_equi",
    oracle="""
    SELECT c_custkey AS custkey, c_nationkey AS nationkey,
           c_name AS name_cust, c_acctbal AS acctbal,
           n_name AS name_nat, n_regionkey AS regionkey
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    """,
)
def q_join_inner_equi(spark, sf_dir):
    """J1 (challenge.py:235): inner equi-join with pandas-style collision
    suffixes (`name` collides → name_cust/name_nat). Dimension side is
    broadcast — no shuffle of the big side."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
    )
    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nationkey"),
        F.col("n_name").alias("name"),
        F.col("n_regionkey").alias("regionkey"),
    )
    return REL.join_with_suffixes(
        cust, nat, on="nationkey", how="inner",
        suffixes=("_cust", "_nat"), broadcast_right=True,
    )


@query(
    "join_left_equi",
    oracle="""
    SELECT o_orderkey, o_totalprice, n_items, sum_qty
    FROM orders LEFT JOIN (
        SELECT l_orderkey, count(*) AS n_items,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY l_orderkey
    ) agg ON o_orderkey = l_orderkey
    """,
)
def q_join_left_equi(spark, sf_dir):
    """J2 (challenge.py:285): left join onto a pre-aggregated fact —
    aggregate-before-join shrinks the 26M side to dimension size
    (SURVEY §4.1), so the join is cheap/broadcastable."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    agg = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )
    return REL.join_left_on_keys(o, agg, "o_orderkey", "l_orderkey")


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q_join_semi(spark, sf_dir):
    """Extension (SURVEY §2.3): EXISTS as left_semi — free in Spark."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(
        o, c["c_custkey"] == o["o_custkey"], "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q_join_anti(spark, sf_dir):
    """Extension (SURVEY §2.3): NOT EXISTS as left_anti."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(
        o, c["c_custkey"] == o["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name")


# ===========================================================================
# §2.2 Projections / filters / predicates
# ===========================================================================


@query(
    "filter_key_exists",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM (
        SELECT o_orderkey, o_totalprice,
               CASE WHEN o_orderstatus = 'O' THEN 1 END AS is_open,
               CASE WHEN o_orderstatus = 'F' THEN 1 END AS is_done,
               CASE WHEN o_totalprice > 50000 THEN 1 END AS big,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END AS urgent
        FROM orders)
    WHERE (is_open IS NOT NULL OR is_done IS NOT NULL)
      AND big IS NOT NULL AND urgent IS NULL
    """,
)
def q_filter_key_exists(spark, sf_dir):
    """P1 (challenge.py:34-37): key-existence filter — (A present OR B
    present) AND C present AND D absent, over sparse nullable columns
    (derived here; in the wiki pipeline they come from JSON inference)."""
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderstatus") == "O", 1).alias("is_open"),
        F.when(F.col("o_orderstatus") == "F", 1).alias("is_done"),
        F.when(F.col("o_totalprice") > 50000, 1).alias("big"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).alias("urgent"),
    )
    return base.filter(
        (F.col("is_open").isNotNull() | F.col("is_done").isNotNull())
        & F.col("big").isNotNull()
        & F.col("urgent").isNull()
    ).select("o_orderkey", "o_totalprice")


@query(
    "filter_equality",
    oracle="SELECT event_id, user_id, value FROM events WHERE event_type = 'click'",
)
def q_filter_equality(spark, sf_dir):
    """P2 (challenge.py:179): string-equality filter then drop the flag
    column. Filter sits on the scan → parquet predicate pushdown."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "click")
        .drop("event_type")
        .select("event_id", "user_id", "value")
    )


@query(
    "filter_conflict_rows",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_shipdate AS DATE) AS TIMESTAMP) AS ship_date,
           CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS order_date
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE NOT (CAST(l_shipdate AS DATE) < CAST(o_orderdate AS DATE))
    """,
)
def q_filter_conflict_rows(spark, sf_dir):
    """P3 (ETL.ipynb cells 81-83): drop rows where merged sources disagree
    wildly (here: shipped before ordered)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_shipdate").cast("date").cast("timestamp").alias("ship_date"),
        F.col("o_orderdate").cast("date").cast("timestamp").alias("order_date"),
    )
    return j.filter(~(F.col("ship_date") < F.col("order_date")))


@query(
    "dropna_column",
    oracle="""
    SELECT event_id, props FROM events
    WHERE nullif(props, '{"k": 0}') IS NOT NULL
    """,
)
def q_dropna_column(spark, sf_dir):
    """P4 (challenge.py:130): drop nulls of one column before parsing."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("p", F.nullif(F.col("props"), F.lit('{"k": 0}')))
        .filter(F.col("p").isNotNull())
        .select("event_id", "props")
    )


@query(
    "prune_null_columns",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderstatus = 'P' THEN 1 END AS is_pending
    FROM orders
    """,
)
def q_prune_null_columns(spark, sf_dir):
    """P5 (challenge.py:95-97): data-dependent projection. `rare_flag` is
    ~93% null (P∧URGENT ≈ 0.34×0.20) → pruned at the 90% threshold;
    `is_pending` (~66% null) survives. Two jobs by design: a 1-row stats
    aggregate, then the select."""
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.when(
            (F.col("o_orderstatus") == "P")
            & (F.col("o_orderpriority") == "1-URGENT"),
            1,
        ).alias("rare_flag"),
        F.when(F.col("o_orderstatus") == "P", 1).alias("is_pending"),
    )
    return N.null_ratio_prune(base)


@query(
    "select_reorder",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
    FROM lineitem
    """,
)
def q_select_reorder(spark, sf_dir):
    """P6 (challenge.py:249-254): explicit fixed-order projection —
    column pruning reaches the parquet scan (ReadSchema)."""
    li = _t(spark, sf_dir, "lineitem")
    return REL.select_reorder(
        li, ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate"]
    )


@query(
    "drop_columns",
    oracle="SELECT p_partkey, p_name, p_brand, p_retailprice FROM part",
)
def q_drop_columns(spark, sf_dir):
    """P7 (challenge.py:237)."""
    p = _t(spark, sf_dir, "part")
    return REL.drop_columns(p, ["p_type", "p_size"])


@query(
    "rename_columns",
    oracle="""
    SELECT n_nationkey AS nation_key, n_name AS nation_name,
           n_regionkey AS region_key
    FROM nation
    """,
)
def q_rename_columns(spark, sf_dir):
    """P8 (challenge.py:256-271)."""
    n = _t(spark, sf_dir, "nation")
    return REL.rename_columns(
        n,
        {
            "n_nationkey": "nation_key",
            "n_name": "nation_name",
            "n_regionkey": "region_key",
        },
    )


@query(
    "canonicalize_keys",
    oracle="""
    SELECT o_orderkey,
           coalesce(CASE WHEN o_orderstatus = 'O' THEN o_orderpriority END,
                    CASE WHEN o_orderstatus = 'F' THEN o_orderpriority END,
                    'none') AS canon_priority
    FROM orders
    """,
)
def q_canonicalize_keys(spark, sf_dir):
    """P9 (challenge.py:60-83): synonym-key folding = first-non-null
    coalesce across mutually-exclusive sparse columns."""
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "O", F.col("o_orderpriority")).alias(
            "open_prio"
        ),
        F.when(F.col("o_orderstatus") == "F", F.col("o_orderpriority")).alias(
            "done_prio"
        ),
        F.lit("none").alias("fallback"),
    )
    folded = N.canonicalize_keys(
        base, {"canon_priority": ["open_prio", "done_prio", "fallback"]}
    )
    return folded.select("o_orderkey", "canon_priority")


@query(
    "collect_map_column",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderstatus = 'O' THEN o_orderpriority END AS m_open,
           CASE WHEN o_orderstatus = 'F' THEN o_orderpriority END AS m_done,
           CAST((o_orderstatus = 'O') AS INTEGER) + CAST((o_orderstatus = 'F') AS INTEGER) AS m_size
    FROM orders
    """,
)
def q_collect_map_column(spark, sf_dir):
    """P10 (challenge.py:45-58): gather sparse columns into a
    MapType(String,String) keeping non-null entries only. The map is built
    natively; the projection reads entries back out (maps hash unstably
    across engines, scalars don't)."""
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "O", F.col("o_orderpriority")).alias("open"),
        F.when(F.col("o_orderstatus") == "F", F.col("o_orderpriority")).alias("done"),
    )
    mapped = N.collect_map_column(
        base, keys=["open", "done"], target="m", drop_sources=True
    )
    return mapped.select(
        "o_orderkey",
        F.col("m")["open"].alias("m_open"),
        F.col("m")["done"].alias("m_done"),
        F.size("m").alias("m_size"),
    )


# ===========================================================================
# §2.5 Dedup / set ops
# ===========================================================================


@query(
    "dedup_by_key",
    oracle="""
    SELECT l_orderkey, l_partkey, l_linenumber, l_quantity FROM (
        SELECT l_orderkey, l_partkey, l_linenumber, l_quantity,
               row_number() OVER (PARTITION BY l_orderkey
                                  ORDER BY l_linenumber, l_partkey, l_quantity) AS rn
        FROM lineitem) WHERE rn = 1
    """,
)
def q_dedup_by_key(spark, sf_dir):
    """D1 (challenge.py:91) with exact pandas first-wins parity: keep the
    first row per key under a deterministic order (SURVEY §2.5 — the one
    window-function requirement of the port); the order key is extended
    until unique so both engines pick the same survivor. One shuffle."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_linenumber", "l_quantity"
    )
    return REL.dedup_first_wins(
        li, ["l_orderkey"], ["l_linenumber", "l_partkey", "l_quantity"]
    )


@query(
    "set_union",
    oracle="""
    SELECT c_custkey AS key FROM customer WHERE c_acctbal > 5000
    UNION
    SELECT o_custkey AS key FROM orders
    """,
)
def q_set_union(spark, sf_dir):
    """Extension (SURVEY §2.5): UNION DISTINCT."""
    a = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("key")
    )
    b = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key"))
    return a.union(b).distinct()


@query(
    "set_intersect",
    oracle="""
    SELECT c_custkey AS key FROM customer WHERE c_acctbal > 5000
    INTERSECT
    SELECT o_custkey AS key FROM orders
    """,
)
def q_set_intersect(spark, sf_dir):
    a = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("key")
    )
    b = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key"))
    return a.intersect(b)


@query(
    "set_except",
    oracle="""
    SELECT c_custkey AS key FROM customer WHERE c_acctbal > 5000
    EXCEPT
    SELECT o_custkey AS key FROM orders
    """,
)
def q_set_except(spark, sf_dir):
    a = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("key")
    )
    b = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key"))
    return a.subtract(b)


# ===========================================================================
# §2.7 Sorts / limits / windows
# ===========================================================================


@query(
    "topk_per_group",
    oracle="""
    SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
           CAST(rn AS BIGINT) AS rn
    FROM (
        SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        FROM lineitem) WHERE rn <= 3
    """,
)
def q_topk_per_group(spark, sf_dir):
    """Window extension: top-K per group via row_number with a full
    deterministic tie-break (order-stable across engines)."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
    )
    return (
        li.select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
    )


@query(
    "orderby_limit",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q_orderby_limit(spark, sf_dir):
    """Sort + limit (SURVEY §2.7). Spark compiles this to TakeOrdered —
    no global sort materialization, scale-safe."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


# ===========================================================================
# §2.6 Scalar function queries (casts & conditionals; regex batch separate)
# ===========================================================================


@query(
    "cast_typed",
    oracle="""
    SELECT o_orderkey,
           TRY_CAST(CASE WHEN o_orderkey % 7 = 0
                         THEN 'x' || CAST(o_orderkey AS VARCHAR)
                         ELSE CAST(o_orderkey AS VARCHAR) END AS BIGINT) AS as_long,
           ((CASE WHEN o_orderstatus = 'O' THEN 'True' ELSE 'False' END) = 'True') AS as_bool,
           TRY_CAST(printf('%.2f', o_totalprice) AS DOUBLE) AS as_double,
           CAST(TRY_CAST(strftime(o_orderdate, '%Y-%m-%d') AS DATE) AS TIMESTAMP) AS as_date
    FROM orders
    """,
)
def q_cast_typed(spark, sf_dir):
    """F12/F13/F14/F9 (challenge.py:183-220): guarded string→typed casts,
    null on corrupt values (every 7th key is corrupted here). The
    reference's raise-then-drop semantics live in
    ``operators.normalize.validated_cast_many``; this query checks the
    cast layer itself."""
    o = _t(spark, sf_dir, "orders")
    key_str = F.col("o_orderkey").cast("string")
    corrupt = F.when(
        F.col("o_orderkey") % 7 == 0, F.concat(F.lit("x"), key_str)
    ).otherwise(key_str)
    bool_str = F.when(F.col("o_orderstatus") == "O", "True").otherwise("False")
    dbl_str = F.format_string("%.2f", F.col("o_totalprice"))
    date_str = F.date_format(F.col("o_orderdate"), "yyyy-MM-dd")
    return o.select(
        "o_orderkey",
        E.cast_long(corrupt).alias("as_long"),
        E.cast_bool_eq(bool_str).alias("as_bool"),
        E.cast_double(dbl_str).alias("as_double"),
        E.to_date_std(date_str).cast("timestamp").alias("as_date"),
    )


@query(
    "fill_if_zero",
    oracle="""
    SELECT o_orderkey, CASE WHEN k = 0 THEN w ELSE k END AS filled FROM (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 3 = 0 THEN 0.0 ELSE o_totalprice END AS k,
               o_totalprice * 2 AS w
        FROM orders)
    """,
)
def q_fill_if_zero(spark, sf_dir):
    """F15 (challenge.py:240-246): column-pair precedence fill, as a
    native conditional (the reference uses a row-wise apply)."""
    o = _t(spark, sf_dir, "orders")
    k = F.when(F.col("o_orderkey") % 3 == 0, F.lit(0.0)).otherwise(
        F.col("o_totalprice")
    )
    w = F.col("o_totalprice") * 2
    return o.select("o_orderkey", E.fill_if_zero(k, w).alias("filled"))


@query(
    "fillna_zero",
    oracle="""
    SELECT o_orderkey,
           coalesce(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END, 0.0) AS filled
    FROM orders
    """,
)
def q_fillna_zero(spark, sf_dir):
    """F16 (challenge.py:281): fillna(0) on a sparse numeric column."""
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "P", F.col("o_totalprice")).alias("filled"),
    )
    return base.fillna({"filled": 0.0})


@query(
    "from_unix_seconds",
    oracle="""
    SELECT o_orderkey,
           CAST(to_timestamp((o_orderkey % 1000000) + 1500000000) AS TIMESTAMP) AS ts
    FROM orders
    """,
)
def q_from_unix_seconds(spark, sf_dir):
    """F10 (challenge.py:226): epoch seconds → timestamp (UTC session)."""
    o = _t(spark, sf_dir, "orders")
    epoch = (F.col("o_orderkey") % 1000000) + F.lit(1500000000)
    return o.select("o_orderkey", E.from_unix_seconds(epoch).alias("ts"))


# ===========================================================================
# §2.1 Scans / sinks (round-trip through scratch files)
# ===========================================================================


@query(
    "scan_json",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def q_scan_json(spark, sf_dir):
    """S1 (challenge.py:24-25): semi-structured JSON array scan with
    multiLine=True, explicit schema (no inference drift). Round-trips the
    nation dim through a JSON array file."""
    import json

    n = _t(spark, sf_dir, "nation")
    rows = [r.asDict() for r in n.collect()]  # 25-row dimension table
    path = _scratch("scan_json", sf_dir)
    with open(f"{path}/nation.json", "w") as f:
        json.dump(rows, f)
    df = readers.read_json_records(
        spark,
        f"{path}/nation.json",
        schema="n_nationkey INT, n_name STRING, n_regionkey INT",
        multiline=True,
    )
    return df.select("n_nationkey", "n_name", "n_regionkey")


@query(
    "scan_csv",
    oracle="SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
)
def q_scan_csv(spark, sf_dir):
    """S2/S3 (challenge.py:26-27): header-CSV scan with explicit schema.
    Written distributed (one file per partition), read back distributed."""
    c = _t(spark, sf_dir, "customer")
    path = _scratch("scan_csv", sf_dir)
    c.write.mode("overwrite").option("header", "true").csv(f"{path}/customer_csv")
    schema = (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, "
        "c_acctbal DOUBLE, c_mktsegment STRING"
    )
    return readers.read_csv(spark, f"{path}/customer_csv", schema=schema)


@query(
    "scan_csv_inferred",
    oracle="SELECT c_custkey, c_nationkey, c_acctbal FROM customer",
)
def q_scan_csv_inferred(spark, sf_dir):
    """S2 variant: whole-file dtype inference (reference low_memory=False,
    challenge.py:26). Inferred int widths are normalized by an explicit
    post-read cast (inference is data-dependent; contracts aren't)."""
    c = _t(spark, sf_dir, "customer")
    path = _scratch("scan_csv_inf", sf_dir)
    c.write.mode("overwrite").option("header", "true").csv(f"{path}/customer_csv")
    df = readers.read_csv(spark, f"{path}/customer_csv", infer=True)
    return df.select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        F.col("c_nationkey").cast("int").alias("c_nationkey"),
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
    )


@query(
    "sink_parquet_overwrite",
    oracle="""
    SELECT o_orderstatus, count(*) AS cnt,
           round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_sink_parquet_overwrite(spark, sf_dir):
    """S5 (challenge.py:293): overwrite-mode table write, parquet primary.
    Round-trips an aggregate through the sink and reads it back."""
    o = _t(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )
    path = _scratch("sink_parquet", sf_dir)
    agg.write.mode("overwrite").parquet(f"{path}/out")
    return spark.read.parquet(f"{path}/out")


@query(
    "sink_append_chunked",
    oracle="SELECT o_orderkey, o_totalprice FROM orders",
)
def q_sink_append_chunked(spark, sf_dir):
    """S6 (challenge.py:299-314): replace-then-append load. The reference's
    1M-row chunk loop becomes two partitioned writes (first overwrite,
    rest append); at scale a single overwrite write replaces the loop
    entirely."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    first = o.filter(F.col("o_orderkey") % 2 == 0)
    second = o.filter(F.col("o_orderkey") % 2 != 0)
    path = _scratch("sink_append", sf_dir)
    from movies_etl_spark.sources.sinks import write_parquet_then_append

    write_parquet_then_append(first, [second], f"{path}/out")
    return spark.read.parquet(f"{path}/out")


# ===========================================================================
# §2.7 extensions: analytic windows, cube/rollup, array group keys
# ===========================================================================


@query(
    "window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS UNBOUNDED PRECEDING), 2) AS running_total,
           round(o_totalprice - coalesce(lag(o_totalprice) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 0.0),
                 2) AS delta_prev
    FROM orders
    """,
)
def q_window_running_sum(spark, sf_dir):
    """Analytic windows (SURVEY §2.7 extension): running sum + lag delta
    per customer, deterministic ordering. One shuffle on the partition
    key; both functions share the same window frame/sort."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = F.sum("o_totalprice").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    delta = F.col("o_totalprice") - F.coalesce(
        F.lag("o_totalprice").over(w), F.lit(0.0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(running, 2).alias("running_total"),
        F.round(delta, 2).alias("delta_prev"),
    )


@query(
    "rollup_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS cnt,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup_agg(spark, sf_dir):
    """ROLLUP hierarchy totals (free in Spark; absent in the reference —
    SURVEY §2.4 notes the gap). Same single-shuffle hash aggregate with
    grouping-set expansion."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@query(
    "cube_agg",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube_agg(spark, sf_dir):
    """CUBE over two dimensions."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )


@query(
    "value_counts_array",
    oracle="""
    SELECT array_to_string(first2, ' ') AS first2_str, cnt FROM (
        SELECT list_slice(string_split(text, ' '), 1, 2) AS first2,
               count(*) AS cnt
        FROM documents GROUP BY 1)
    """,
)
def q_value_counts_array(spark, sf_dir):
    """A5 with an ArrayType group key (SURVEY §2.4: list-valued cells
    group natively in Spark — no tuple-conversion hack)."""
    d = _t(spark, sf_dir, "documents")
    grouped = d.groupBy(
        F.slice(F.split(F.col("text"), " "), 1, 2).alias("first2")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    # project the array key to a string for engine-portable comparison
    return grouped.select(
        F.concat_ws(" ", F.col("first2")).alias("first2_str"), "cnt"
    )


# ===========================================================================
# The reference pipeline end-to-end. The composites run on deterministic
# reference-shaped fixture files (plans/fixtures.py), so their expected
# output is a constant: the oracles (plans/oracles_golden.py) pin every
# cell of it, matching the reference output contract (README.md:36-39,
# challenge.py:235-314). Piecewise assertions of the same golden run live
# in tests/test_pipeline_fixture.py.
# ===========================================================================

from movies_etl_spark.plans import oracles_golden as _OG


def _pipeline_outputs(spark, sf_dir):
    from movies_etl_spark.plans import fixtures, pipeline

    paths = fixtures.write_fixture_files(_scratch("etl_fixture", sf_dir))
    return pipeline.run_pipeline(spark, *paths)


@query("movies_etl_movies", oracle=_OG.MOVIES_ETL_MOVIES_ORACLE)
def q_movies_etl_movies(spark, sf_dir):
    """Full ETLchallenge-equivalent composition (challenge.py:18-314) on
    reference-shaped fixture inputs → the `movies` table (J1 merge,
    F15 precedence fills, P6/P8 projection+rename). release_date is
    cast DATE→TIMESTAMP for the engine-portable compare (NOTES gotcha 7)."""
    out = _pipeline_outputs(spark, sf_dir)["movies"]
    return out.withColumn("release_date", F.col("release_date").cast("timestamp"))


@query("movies_etl_movies_ratings", oracle=_OG.MOVIES_ETL_MOVIES_RATINGS_ORACLE)
def q_movies_etl_movies_ratings(spark, sf_dir):
    """Pipeline output 2: `movies_ratings` (A1-A3 bucket counts + J2)."""
    out = _pipeline_outputs(spark, sf_dir)["movies_ratings"]
    return out.withColumn("release_date", F.col("release_date").cast("timestamp"))


@query("movies_etl_ratings", oracle=_OG.MOVIES_ETL_RATINGS_ORACLE)
def q_movies_etl_ratings(spark, sf_dir):
    """Pipeline output 3: typed `ratings` pass-through (F10)."""
    return _pipeline_outputs(spark, sf_dir)["ratings"]


@query(
    "groupby_count_salted",
    oracle="""
    SELECT l_returnflag, count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_groupby_count_salted(spark, sf_dir):
    """Skew-safe two-stage aggregation (operators.skew): l_returnflag has
    only 3 hot values — the canonical skewed-key shape. Semantics are
    identical to a plain groupBy (the oracle is the plain GROUP BY); the
    plan differs: partial agg over (key, salt) then final agg over key,
    bounding any one reducer's fan-in at 1/n_salts of a hot key."""
    from movies_etl_spark.operators.skew import salted_groupby_agg

    li = _t(spark, sf_dir, "lineitem")
    out = salted_groupby_agg(
        li,
        ["l_returnflag"],
        {"cnt": ("l_quantity", "count"), "sum_qty_raw": ("l_quantity", "sum")},
        n_salts=16,
    )
    return out.select(
        "l_returnflag", "cnt", F.round(F.col("sum_qty_raw"), 2).alias("sum_qty")
    )


@query(
    "groupby_count_salted_aqe_off",
    oracle="""
    SELECT l_returnflag, count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_groupby_count_salted_aqe_off(spark, sf_dir):
    """The salted-aggregation proof WITHOUT the AQE safety net: identical
    semantics to groupby_count_salted, but the action executes with
    spark.sql.adaptive.enabled=false (written to scratch under the
    disabled conf, restored after, result read back). At 100 TB the skew
    scenario that matters is precisely the one where AQE mis-estimates
    (stale stats, UDF-opaque sizes) — the salting itself must balance the
    reducers. tests/test_plan_shapes.py::test_salted_agg_balances_reducers_aqe_off
    asserts the per-reducer input balance (salted max ≈ mean vs unsalted
    max ≈ hot-key share) by modeling the exchange's murmur3
    hashpartitioning exactly; this query puts the AQE-off execution under
    the driver's correctness gate."""
    from movies_etl_spark.operators.skew import salted_groupby_agg
    from movies_etl_spark.session import temp_confs

    target = _scratch("salted_aqe_off", sf_dir)
    with temp_confs(spark, {"spark.sql.adaptive.enabled": "false"}):
        li = _t(spark, sf_dir, "lineitem")
        out = salted_groupby_agg(
            li,
            ["l_returnflag"],
            {"cnt": ("l_quantity", "count"), "sum_qty_raw": ("l_quantity", "sum")},
            n_salts=16,
        )
        out.select(
            "l_returnflag", "cnt", F.round(F.col("sum_qty_raw"), 2).alias("sum_qty")
        ).write.mode("overwrite").parquet(target)
    return spark.read.parquet(target)


@query(
    "sample_hash",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 12) AS BIGINT) % 10 = 0
    """,
)
def q_sample_hash(spark, sf_dir):
    """Deterministic ~10% sample via key hashing (SURVEY §2.7: the
    reference's df.sample() exploration op, made reproducible — the only
    sampling that is stable across engines, retries, and re-runs; at
    scale this is also how sticky holdout sets are carved)."""
    o = _t(spark, sf_dir, "orders")
    bucket = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 12), 16, 10)
        .cast("long") % 10
    )
    return o.filter(bucket == 0).select("o_orderkey", "o_totalprice")


@query(
    "grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
)
def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (two independent rollup axes in one pass)."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


@query(
    "hierarchy_recursive_cte",
    oracle="""
    WITH RECURSIVE tree(custkey, depth, root) AS (
        SELECT c_custkey, 0, c_custkey FROM customer WHERE c_custkey <= 9
        UNION ALL
        SELECT c.c_custkey, t.depth + 1, t.root
        FROM customer c JOIN tree t ON c.c_custkey // 10 = t.custkey
        WHERE c.c_custkey >= 10)
    SELECT CAST(depth AS BIGINT) AS depth,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(count(DISTINCT root) AS BIGINT) AS n_roots,
           CAST(min(custkey) AS BIGINT) AS min_key,
           CAST(max(custkey) AS BIGINT) AS max_key
    FROM tree GROUP BY depth
    """,
)
def q_hierarchy_recursive_cte(spark, sf_dir):
    """Hierarchy traversal via WITH RECURSIVE (new in Spark 4 — the
    org-chart / bill-of-materials / graph-reachability SQL surface):
    customers form a synthetic 10-ary tree (parent = custkey div 10,
    roots = single-digit keys), and the recursion computes each node's
    depth and owning root; output aggregates per level.

    Each recursion step is one equi-join of the frontier against the
    node table — at scale the frontier is the small side (broadcast
    per level) and the number of iterations is the hierarchy DEPTH
    (logarithmic here), not node count; this is the same
    bounded-iteration shape as dedup_cluster_components, expressed
    through the SQL surface instead of a driver loop."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    c.createOrReplaceTempView("customer_hier")
    return spark.sql(
        """
        WITH RECURSIVE tree(custkey, depth, root) AS (
            SELECT c_custkey, 0, c_custkey FROM customer_hier
            WHERE c_custkey <= 9
            UNION ALL
            SELECT c.c_custkey, t.depth + 1, t.root
            FROM customer_hier c JOIN tree t
              ON c.c_custkey div 10 = t.custkey
            WHERE c.c_custkey >= 10)
        SELECT CAST(depth AS BIGINT) AS depth,
               CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(count(DISTINCT root) AS BIGINT) AS n_roots,
               CAST(min(custkey) AS BIGINT) AS min_key,
               CAST(max(custkey) AS BIGINT) AS max_key
        FROM tree GROUP BY depth
        """
    )


@query(
    "explode_tokens",
    oracle="""
    SELECT token, count(*) AS cnt FROM (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    """,
)
def q_explode_tokens(spark, sf_dir):
    """Array explode → frequency (the lateral-view shape; at scale the
    explode multiplies rows BEFORE the shuffle, so the projection keeps
    only the token column)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "json_extract",
    oracle="""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
)
def q_json_extract(spark, sf_dir):
    """Stringly-typed embedded JSON → typed value (SURVEY §1.2: the
    reference carries kaggle's JSON-ish text columns opaquely; the engine
    exposes from_json/get_json_object as the typed path)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").try_cast("long").alias("k"),
    )


@query(
    "json_typed_roundtrip",
    oracle="""
    SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
               AS BIGINT) AS k_sum
    FROM events
    GROUP BY user_id, event_type
    """,
)
def q_json_typed_roundtrip(spark, sf_dir):
    """The from_json/to_json typed path (the schema'd complement of
    json_extract's per-path get_json_object): per user, the events
    nest into a JSON array document via to_json(collect_list(struct)),
    then parse BACK through from_json with an explicit
    array<struct<...>> schema and explode to rows — the
    document-assembly/shredding round-trip an event-log ingest does at
    the boundary between a document store and columnar analytics. The
    aggregate over the shredded rows must equal the aggregate over the
    original table (content-preservation invariant, which is what the
    oracle checks — including the typed k extracted inside the nested
    struct).

    Shape: one user_id shuffle to assemble, map-side parse + explode to
    shred; collect_list order doesn't matter because the check is
    order-insensitive aggregation. Per-user documents are bounded by
    per-user event counts — the per-key skew bound, not corpus size."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.get_json_object("props", "$.k").try_cast("long").alias("k"),
    )
    docs = ev.groupBy("user_id").agg(
        F.to_json(
            F.collect_list(F.struct("event_type", "k"))
        ).alias("js")
    )
    shredded = docs.select(
        "user_id",
        F.explode(
            F.from_json(
                "js", "array<struct<event_type:string, k:bigint>>"
            )
        ).alias("e"),
    )
    return shredded.groupBy(
        "user_id", F.col("e.event_type").alias("event_type")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("e.k").cast("long").alias("k_sum"),
    )


@query(
    "partition_pruned_scan",
    oracle="""
    SELECT o_orderkey, o_totalprice, CAST(strftime(o_orderdate, '%Y') AS INTEGER) AS order_year
    FROM orders
    WHERE CAST(strftime(o_orderdate, '%Y') AS INTEGER) = 1997
    """,
)
def q_partition_pruned_scan(spark, sf_dir):
    """Partition layout + pruning (SURVEY §4.1 'partition pruning —
    free in Spark'): write orders hive-partitioned by year into scratch,
    read back with a partition-key filter. The year predicate is resolved
    against DIRECTORY names (PartitionFilters), so non-matching files are
    never opened — the layout discipline that bounds every 100 TB scan."""
    o = _t(spark, sf_dir, "orders")
    path = _scratch("part_orders", sf_dir)
    (
        o.withColumn("order_year", F.year("o_orderdate"))
        .write.mode("overwrite")
        .partitionBy("order_year")
        .parquet(f"{path}/orders_by_year")
    )
    back = spark.read.parquet(f"{path}/orders_by_year")
    return back.filter(F.col("order_year") == 1997).select(
        "o_orderkey", "o_totalprice", F.col("order_year").cast("int").alias("order_year")
    )


@query(
    "set_union_all",
    oracle="""
    SELECT c_custkey AS key FROM customer WHERE c_acctbal > 5000
    UNION ALL
    SELECT o_custkey AS key FROM orders
    """,
)
def q_set_union_all(spark, sf_dir):
    """Bag-semantics UNION ALL (Spark's plain union)."""
    a = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("key")
    )
    b = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key"))
    return a.union(b)


@query(
    "set_except_all",
    oracle="""
    SELECT o_custkey AS key FROM orders
    EXCEPT ALL
    SELECT c_custkey AS key FROM customer WHERE c_acctbal > 5000
    """,
)
def q_set_except_all(spark, sf_dir):
    """Bag-semantics EXCEPT ALL (multiplicity-aware difference)."""
    a = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key"))
    b = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("key")
    )
    return a.exceptAll(b)


@query(
    "corr_covar",
    oracle="""
    SELECT round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_covar,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS price_per_qty
    FROM lineitem
    """,
)
def q_corr_covar(spark, sf_dir):
    """Statistical aggregates extension: correlation, sample covariance,
    regression slope — one hash aggregate, map-side partials."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("qty_price_covar"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("price_per_qty"),
    )


@query(
    "unpivot_stack",
    oracle="""
    SELECT user_id, event_type, cnt FROM (
        SELECT user_id,
               count(*) FILTER (WHERE event_type = 'click')    AS click,
               count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
               count(*) FILTER (WHERE event_type = 'view')     AS view
        FROM events GROUP BY user_id)
    UNPIVOT (cnt FOR event_type IN (click, purchase, view))
    """,
)
def q_unpivot_stack(spark, sf_dir):
    """Unpivot/melt (the inverse of A2, via stack()): wide per-user
    bucket counts back to long form. Roundtrip of the pivot pair proves
    both directions; stack is a generator expression — no shuffle beyond
    the original aggregation."""
    ev = _t(spark, sf_dir, "events")
    wide = ev.groupBy("user_id").agg(
        *[
            F.count(F.when(F.col("event_type") == t, 1)).alias(t)
            for t in ["click", "purchase", "view"]
        ]
    )
    return wide.select(
        "user_id",
        F.expr(
            "stack(3, 'click', click, 'purchase', purchase, 'view', view) "
            "AS (event_type, cnt)"
        ),
    )


@query(
    "percentile_by_group",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_percentile_by_group(spark, sf_dir):
    """Exact grouped percentiles (A6 generalized). At 100 TB switch to
    percentile_approx (t-digest, mergeable partials) — exact percentile
    holds per-group value buffers."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("median_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90_price"),
    )


@query(
    "date_arithmetic",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS INTEGER) AS days_to_ship,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS TIMESTAMP) AS due_date,
           CAST(strftime(o_orderdate, '%Y') AS INTEGER) AS order_year,
           CAST(strftime(o_orderdate, '%m') AS INTEGER) AS order_month,
           CAST(strftime(o_orderdate, '%w') AS INTEGER) AS order_dow
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    """,
)
def q_date_arithmetic(spark, sf_dir):
    """Date arithmetic battery: datediff, day offsets, calendar parts
    (year/month/day-of-week — Spark dayofweek is 1=Sunday, DuckDB %w is
    0=Sunday; normalized to the 0-based convention).

    due_date uses the TOTAL offset form: plain
    date_add maps an in-range order date within 30 days of 9999-12-31 to
    an out-of-range internal that crashes at collect —
    :func:`movies_etl_spark.functions.expr.bounded_date_add` nulls it
    instead. datediff/year/month/dayofweek emit ints and are total even
    over out-of-range date internals (probed)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    od = F.col("o_orderdate").cast("date")
    return j.select(
        "l_orderkey",
        "l_linenumber",
        F.datediff(F.col("l_shipdate").cast("date"), od).alias("days_to_ship"),
        E.bounded_date_add(od, 30).cast("timestamp").alias("due_date"),
        F.year(od).alias("order_year"),
        F.month(od).alias("order_month"),
        (F.dayofweek(od) - 1).alias("order_dow"),
    )


@query(
    "string_functions",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           trim(p_name) AS name_trim,
           lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_padded,
           substr(p_name, 1, 6) AS name_prefix,
           replace(p_name, '_', '-') AS name_dashed,
           CAST(length(p_name) AS BIGINT) AS name_len,
           CAST(levenshtein(p_name, p_brand) AS BIGINT) AS brand_dist,
           CAST(strpos(p_name, '_') AS BIGINT) AS underscore_at
    FROM part
    """,
)
def q_string_functions(spark, sf_dir):
    """Scalar string battery (upper/trim/lpad/substring/replace/length/
    levenshtein/instr) — all codegen'd, zero shuffles."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.trim("p_name").alias("name_trim"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("key_padded"),
        F.substring("p_name", 1, 6).alias("name_prefix"),
        F.replace(F.col("p_name"), F.lit("_"), F.lit("-")).alias("name_dashed"),
        F.length("p_name").cast("long").alias("name_len"),
        F.levenshtein("p_name", "p_brand").cast("long").alias("brand_dist"),
        F.instr(F.col("p_name"), "_").cast("long").alias("underscore_at"),
    )


@query(
    "approx_stats",
    oracle="""
    SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           true AS orders_within_2pct,
           true AS parts_within_2pct,
           true AS median_within_rank_eps
    FROM lineitem
    """,
)
def q_approx_stats(spark, sf_dir):
    """The at-scale swap for exact statistics (SCALE.md): HyperLogLog++
    distinct counts and t-digest quantiles — mergeable sketch partials,
    constant memory per group, one shuffle of sketches not values.

    ERROR-BOUNDS ORACLE (raw sketch estimates are engine-specific, so
    a value oracle cannot compare them):
    the query emits the EXACT statistics (cross-engine comparable)
    alongside boolean verdicts asserting each estimate sits inside its
    published bound — HLL++ at rsd=0.01 within ±2% (two standard
    errors) of the exact distinct count, and the percentile_approx
    median within rank error ε=0.001 of rank 0.5 (the sketch guarantees
    1/accuracy = 1e-4; ε adds 10× slack for duplicate-value rank
    plateaus). The oracle replays the exact values and literal `true`
    verdicts, so an estimate drifting outside its bound flips a
    CORRECTNESS row, not just a unit test.

    Cost note: the exact distincts + the rank audit are the AUDIT
    apparatus, not the production path — a 100 TB run uses the sketches
    precisely to avoid them; this query exists to prove the bounds the
    production path relies on. Two passes over lineitem: one combined
    exact+sketch aggregate, then a broadcast of the 1-row stats back
    over the column for the median's rank."""
    li = _t(spark, sf_dir, "lineitem")
    st = li.agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("a_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("a_parts"),
        F.percentile_approx(
            "l_extendedprice", F.lit(0.5), F.lit(10000)
        ).alias("a_median"),
        F.count(F.lit(1)).alias("n"),
    )
    ranked = (
        li.select("l_extendedprice")
        .join(F.broadcast(st))
        .agg(
            F.first("exact_orders").alias("exact_orders"),
            F.first("exact_parts").alias("exact_parts"),
            F.first("a_orders").alias("a_orders"),
            F.first("a_parts").alias("a_parts"),
            F.first("n").alias("n"),
            F.sum(
                (F.col("l_extendedprice") <= F.col("a_median")).cast("long")
            ).alias("rank_le"),
            F.sum(
                (F.col("l_extendedprice") < F.col("a_median")).cast("long")
            ).alias("rank_lt"),
        )
    )
    rel = lambda a, e: F.abs(a - F.col(e)).cast("double") / F.col(e).cast(
        "double"
    )
    eps = 0.001
    return ranked.select(
        "exact_orders",
        "exact_parts",
        (rel(F.col("a_orders"), "exact_orders") <= 0.02).alias(
            "orders_within_2pct"
        ),
        (rel(F.col("a_parts"), "exact_parts") <= 0.02).alias(
            "parts_within_2pct"
        ),
        (
            (F.col("rank_le").cast("double") / F.col("n") >= 0.5 - eps)
            & (F.col("rank_lt").cast("double") / F.col("n") <= 0.5 + eps)
        ).alias("median_within_rank_eps"),
    )


@query(
    "scan_orc",
    oracle="SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders",
)
def q_scan_orc(spark, sf_dir):
    """ORC source (columnar alternative; same pushdown/pruning class as
    parquet). Round-trips orders through an ORC write."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = _scratch("scan_orc", sf_dir)
    o.write.mode("overwrite").orc(f"{path}/orders_orc")
    return spark.read.orc(f"{path}/orders_orc")


@query(
    "scan_jsonl",
    oracle="SELECT doc_id, lang, n_chars FROM documents",
)
def q_scan_jsonl(spark, sf_dir):
    """JSON-lines scan (the SPLITTABLE json shape — the at-scale ingest
    contract vs the reference's single multiLine array, SCALE.md)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = _scratch("scan_jsonl", sf_dir)
    d.write.mode("overwrite").json(f"{path}/docs_jsonl")
    return readers.read_json_records(
        spark,
        f"{path}/docs_jsonl",
        schema="doc_id BIGINT, lang STRING, n_chars BIGINT",
        multiline=False,
    )


@query(
    "scan_text",
    oracle="SELECT text AS value, CAST(length(text) AS BIGINT) AS n FROM documents",
)
def q_scan_text(spark, sf_dir):
    """Raw text-line source (one row per line, the corpus-file shape)."""
    d = _t(spark, sf_dir, "documents").select("text")
    path = _scratch("scan_text", sf_dir)
    d.write.mode("overwrite").text(f"{path}/docs_txt")
    t = spark.read.text(f"{path}/docs_txt")
    return t.select("value", F.length("value").cast("long").alias("n"))


@query(
    "scan_binary_files",
    oracle="""
    SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.bin' AS fname,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents WHERE doc_id < 50
    """,
)
def q_scan_binary_files(spark, sf_dir):
    """binaryFile source — the multimodal ingest path: opaque payloads
    land as (path, length, content) rows; metadata joins by filename.
    50 deterministic payload files round-tripped."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    path = _scratch("scan_binfiles", sf_dir)
    for r in d.select("doc_id", "text").collect():  # 50 small files
        with open(f"{path}/doc_{r['doc_id']}.bin", "wb") as f:
            f.write(r["text"].encode("utf-8"))
    b = spark.read.format("binaryFile").load(f"{path}/*.bin")
    return b.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("fname"),
        F.length(F.col("content")).cast("long").alias("n_bytes"),
    )


@query(
    "rank_battery",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           round(percent_rank() OVER w, 6) AS prnk,
           round(cume_dist() OVER w, 6) AS cdist
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q_rank_battery(spark, sf_dir):
    """Ranking-function battery over a deterministic window (rank /
    dense_rank / ntile / percent_rank / cume_dist) — one shuffle on the
    partition key, all five share the frame."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


@query(
    "correlated_subquery",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
    WHERE o_totalprice > (SELECT avg(o2.o_totalprice) * 1.5 FROM orders o2
                          WHERE o2.o_custkey = o.o_custkey)
    """,
)
def q_correlated_subquery(spark, sf_dir):
    """Correlated scalar subquery (orders 1.5× above their customer's
    average) through the SQL surface — Catalyst decorrelates it into an
    aggregate + join (check the plan: no per-row subquery execution)."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_corr")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders_corr o
        WHERE o_totalprice > (SELECT avg(o2.o_totalprice) * 1.5 FROM orders_corr o2
                              WHERE o2.o_custkey = o.o_custkey)
        """
    )


@query(
    "range_join_bucketed",
    oracle="""
    SELECT a.event_id AS id_a, b.event_id AS id_b
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 5 MINUTE
     AND a.event_type = 'click' AND b.event_type = 'purchase'
    """,
)
def q_range_join_bucketed(spark, sf_dir):
    """Range join (purchases within 5 minutes after a click, same user)
    via the bucketize-and-filter pattern (pyspark guide: Spark has no
    native range join): both sides bucket ts into 5-minute cells, join on
    (user, cell) for the cell and its successor, filter the exact range.
    Join fan-out is bounded by events-per-cell — never a per-user cross
    product. The oracle states the plain inequality-join spec."""
    ev = _t(spark, sf_dir, "events")
    bucket_sec = 300
    cell = (F.unix_timestamp("ts") / bucket_sec).cast("long")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("id_a"),
        F.col("user_id").alias("u"),
        F.col("ts").alias("ts_a"),
        cell.alias("cell_a"),
    )
    # each click probes its own cell and the next one
    clicks2 = clicks.withColumn(
        "probe_cell", F.explode(F.array(F.col("cell_a"), F.col("cell_a") + 1))
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("id_b"),
        F.col("user_id").alias("u"),
        F.col("ts").alias("ts_b"),
        cell.alias("probe_cell"),
    )
    joined = clicks2.join(buys, ["u", "probe_cell"]).filter(
        (F.col("ts_b") > F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 5 MINUTES"))
    )
    return joined.select("id_a", "id_b").distinct()


@query(
    "asof_join_window",
    oracle="""
    SELECT event_id, user_id, prev_click_ts FROM (
        SELECT event_id, user_id, event_type,
               max(click_ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click_ts
        FROM (
            SELECT event_id, user_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts,
                   CASE WHEN event_type = 'click'
                        THEN CAST(date_trunc('second', ts) AS TIMESTAMP) END AS click_ts,
                   event_type
            FROM events))
    WHERE event_type = 'error'
    """,
)
def q_asof_join_window(spark, sf_dir):
    """As-of join (for every error event, the most recent PRIOR click by
    the same user) as a window scan — the scale-correct as-of
    implementation: one sort-shuffle on the partition key instead of a
    per-row backward search (pyspark guide's merge_asof alternative)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.date_trunc("second", F.col("ts")).alias("ts"),
        "event_type",
    )
    marked = ev.withColumn(
        "click_ts", F.when(F.col("event_type") == "click", F.col("ts"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # max == last-non-null here: click_ts is monotone in the frame order
    # (and DuckDB 1.0 parses but ignores IGNORE NULLS on last_value —
    # max() is the portable formulation)
    return (
        marked.withColumn("prev_click_ts", F.max("click_ts").over(w))
        .filter(F.col("event_type") == "error")
        .select("event_id", "user_id", "prev_click_ts")
    )


@query(
    "array_functions",
    oracle="""
    SELECT doc_id,
           array_to_string(list_sort(list_distinct(list_slice(t, 1, 8))), ',') AS uniq_sorted,
           CAST(list_position(t, 'the') AS BIGINT) AS the_at,
           list_contains(t, 'spark') AS has_spark,
           array_to_string(list_reverse(list_slice(t, 1, 3)), ',') AS first3_rev,
           CAST(len(list_filter(t, x -> len(x) > 4)) AS BIGINT) AS n_long_tokens
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    """,
)
def q_array_functions(spark, sf_dir):
    """Array-function battery (distinct/sort/position/contains/reverse/
    filter) — engine array semantics head-to-head, scalar-projected.
    NB Spark array_position and DuckDB list_position are both 1-based,
    0/NULL-on-missing respectively → coalesced to 0 on both sides."""
    d = _t(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.array_join(F.array_sort(F.array_distinct(F.slice(t, 1, 8))), ",").alias(
            "uniq_sorted"
        ),
        F.array_position(t, "the").cast("long").alias("the_at"),
        F.array_contains(t, "spark").alias("has_spark"),
        F.array_join(F.reverse(F.slice(t, 1, 3)), ",").alias("first3_rev"),
        F.size(F.filter(t, lambda x: F.length(x) > 4)).cast("long").alias(
            "n_long_tokens"
        ),
    )


@query(
    "map_functions",
    oracle="""
    SELECT o_orderkey,
           array_to_string(list_sort(map_keys(m)), ',') AS keys_sorted,
           m['status'][1] AS status_val,
           CAST(cardinality(m) AS INTEGER) AS m_size
    FROM (
        SELECT o_orderkey,
               MAP {'status': o_orderstatus, 'priority': o_orderpriority} AS m
        FROM orders)
    """,
)
def q_map_functions(spark, sf_dir):
    """Map-function battery: construction, key listing, value access,
    cardinality (scalar-projected — map cells themselves don't hash
    portably across engines)."""
    o = _t(spark, sf_dir, "orders")
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("priority"), F.col("o_orderpriority"),
    )
    return o.select(
        "o_orderkey",
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_sorted"),
        m["status"].alias("status_val"),
        F.size(m).alias("m_size"),
    )


@query(
    "null_semantics",
    oracle="""
    SELECT o_orderkey,
           coalesce(maybe, 'fallback') AS c1,
           (maybe IS NOT DISTINCT FROM 'P') AS null_safe_eq,
           (maybe IS NULL) AS is_null,
           ifnull(maybe, o_orderpriority) AS c2
    FROM (
        SELECT o_orderkey, o_orderpriority,
               CASE WHEN o_orderstatus = 'P' THEN 'P' END AS maybe
        FROM orders)
    """,
)
def q_null_semantics(spark, sf_dir):
    """Null-handling battery: coalesce, null-safe equality (<=> / IS NOT
    DISTINCT FROM), IS NULL, ifnull — the semantics SURVEY §7.3.2 flags
    as the pandas-NaN/Spark-null parity risk, pinned down explicitly."""
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        "o_orderpriority",
        F.when(F.col("o_orderstatus") == "P", F.lit("P")).alias("maybe"),
    )
    return base.select(
        "o_orderkey",
        F.coalesce(F.col("maybe"), F.lit("fallback")).alias("c1"),
        F.col("maybe").eqNullSafe(F.lit("P")).alias("null_safe_eq"),
        F.col("maybe").isNull().alias("is_null"),
        F.ifnull(F.col("maybe"), F.col("o_orderpriority")).alias("c2"),
    )


@query(
    "scan_csv_permissive",
    oracle="""
    SELECT CAST(count(*) FILTER (WHERE o_orderkey % 13 <> 0) AS BIGINT) AS n_good,
           CAST(count(*) FILTER (WHERE o_orderkey % 13 = 0) AS BIGINT) AS n_corrupt
    FROM orders
    """,
)
def q_scan_csv_permissive(spark, sf_dir):
    """Corrupt-row tolerance at the SOURCE (the kaggle CSV had shifted
    rows, FIXTURES.md/ETL.ipynb:3508): PERMISSIVE mode captures rows that
    fail the schema into _corrupt_record instead of failing the scan.
    Every 13th row is written mangled (unparseable numeric); the query
    returns good/corrupt counts. At scale this is the quarantine pattern:
    corrupt rows route to a dead-letter sink, the scan never aborts."""
    o = _t(spark, sf_dir, "orders")
    path = _scratch("scan_csv_perm", sf_dir)
    # write a CSV where every 13th row has garbage in a numeric column
    mangled = o.select(
        F.col("o_orderkey"),
        F.when(F.col("o_orderkey") % 13 == 0, F.lit("not-a-number"))
        .otherwise(F.col("o_totalprice").cast("string"))
        .alias("o_totalprice"),
        F.col("o_orderstatus"),
    )
    mangled.write.mode("overwrite").option("header", "true").csv(f"{path}/csv")
    schema = (
        "o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING, "
        "_corrupt_record STRING"
    )
    df = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(f"{path}/csv")
    )
    df = caching.tracked_persist(df)  # one scan serves both counts; also required for
    # _corrupt_record visibility (Spark disallows filtering on it alone
    # from a lazy raw scan)
    return df.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1)).alias("n_good"),
        F.count(F.when(F.col("_corrupt_record").isNotNull(), 1)).alias("n_corrupt"),
    )


@query(
    "sink_dynamic_partition_overwrite",
    oracle="""
    SELECT order_year, cnt,
           CAST(CASE WHEN order_year = 1997 THEN cnt ELSE 0 END AS BIGINT) AS n_rewritten
    FROM (
        SELECT CAST(strftime(o_orderdate, '%Y') AS INTEGER) AS order_year,
               count(*) AS cnt
        FROM orders GROUP BY 1)
    """,
)
def q_sink_dynamic_partition_overwrite(spark, sf_dir):
    """Dynamic partition overwrite (the incremental-reload sink
    semantics): rewriting ONE year's partition replaces only that
    directory; untouched partitions survive. The rewritten partition
    carries a marker status; per-year counts must equal the source and
    the marker must appear ONLY in the rewritten year — which only holds
    if the other partitions were preserved, not truncated."""
    o = _t(spark, sf_dir, "orders")
    path = _scratch("dyn_overwrite", sf_dir)
    base = o.select(
        "o_orderkey", "o_orderstatus", F.year("o_orderdate").alias("order_year")
    )
    base.write.mode("overwrite").partitionBy("order_year").parquet(f"{path}/t")
    # rewrite ONLY 1997 with a marker status, dynamic overwrite mode
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            base.filter(F.col("order_year") == 1997)
            .withColumn("o_orderstatus", F.lit("X"))
            .write.mode("overwrite")
            .partitionBy("order_year")
            .parquet(f"{path}/t")
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    back = spark.read.parquet(f"{path}/t")
    return back.groupBy(F.col("order_year").cast("int").alias("order_year")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum((F.col("o_orderstatus") == "X").cast("long")).alias("n_rewritten"),
    )


@query(
    "sink_jdbc_roundtrip",
    oracle="""
    SELECT event_id, event_type,
           CAST(floor(value * 100) AS BIGINT) AS cents
    FROM events WHERE event_id < 3000
    """,
)
def q_sink_jdbc_roundtrip(spark, sf_dir):
    """S5 + S6 JDBC sink, tested END-TO-END against a real database:
    overwrite-create the first chunk, append the second
    (challenge.py:290-314's to_sql replace-then-chunked-append contract),
    then read the table back through spark.read.jdbc. The database is
    the Derby engine that ships inside Spark's own jars — embedded,
    zero external services — so the JDBC code path (dialect type
    mapping, connection-per-partition writes, partitioned reads) runs
    for real instead of being documented as untestable.

    Scale note: `write_jdbc` caps connections via coalesce; at cluster
    scale the same call points at a networked RDBMS URL and the cap is
    what stands between a 1000-task write and a connection storm. The
    parquet sinks remain the 100 TB primary (SCALE.md)."""
    import uuid

    from movies_etl_spark.sources import sinks

    # derby.system.home only takes effect before Derby first boots in
    # this JVM and is process-global: set it once if unset (keeps
    # derby.log out of cwd) and never clobber a value something else in
    # the session (e.g. a Hive metastore) already chose.
    jsys = spark._jvm.java.lang.System
    if jsys.getProperty("derby.system.home") is None:
        jsys.setProperty("derby.system.home", "/tmp/movies_etl_derby")
    db = f"{_scratch('jdbc_roundtrip', sf_dir)}/db-{uuid.uuid4().hex[:8]}"
    url = f"jdbc:derby:{db};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    first = ev.filter(F.col("event_id") < 2000)
    second = ev.filter((F.col("event_id") >= 2000) & (F.col("event_id") < 3000))
    sinks.write_jdbc(
        first, url, "events_out", mode="overwrite", properties=props,
        num_partitions=4,
    )
    sinks.write_jdbc(
        second, url, "events_out", mode="append", properties=props,
        num_partitions=4,
    )
    return spark.read.jdbc(url=url, table="events_out", properties=props)


@query(
    "scan_error_checked",
    oracle="""
    SELECT 'SourceNotFoundError' AS error_type,
           true AS path_in_message,
           true AS is_file_not_found,
           CAST(count(*) AS BIGINT) AS fallback_rows
    FROM region
    """,
)
def q_scan_error_checked(spark, sf_dir):
    """S7 error-checked open (challenge.py:23-30), under the driver's
    oracle gate: scanning a missing path must raise the TYPED
    SourceNotFoundError (a FileNotFoundError subclass, like the
    reference's wrapper) with the offending path in the message — and
    the caller's catch-and-fallback then proceeds normally. The query
    EXERCISES the error path (catches the expected error, records its
    contract as data) and returns the fallback scan's row count, so a
    regression in the wrapper — wrong type, swallowed error, lost path —
    flips a CORRECTNESS row, not just a unit test."""
    from movies_etl_spark.sources import readers

    missing = f"{sf_dir}/__definitely_missing__.parquet"
    try:
        readers.load_table(spark, sf_dir, "__definitely_missing__")
        error_type, path_ok, is_fnf = "none", False, False
    except readers.SourceNotFoundError as exc:
        error_type = type(exc).__name__
        path_ok = missing in str(exc)
        is_fnf = isinstance(exc, FileNotFoundError)
    fallback = readers.load_table(spark, sf_dir, "region").count()
    return spark.createDataFrame(
        [(error_type, path_ok, is_fnf, fallback)],
        "error_type STRING, path_in_message BOOLEAN, "
        "is_file_not_found BOOLEAN, fallback_rows LONG",
    )


@query(
    "upsert_merge",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus,
               CAST(strftime(o_orderdate, '%Y') AS INTEGER) AS order_year
        FROM orders),
    upd AS (
        SELECT o_orderkey, round(o_totalprice + 10.0, 2) AS o_totalprice,
               'U' AS o_orderstatus, order_year
        FROM base WHERE o_orderkey % 13 = 0),
    ins AS (
        SELECT o_orderkey + 100000000, round(o_totalprice, 2),
               'N', order_year
        FROM base WHERE o_orderkey % 997 = 0),
    merged AS (
        SELECT * FROM base WHERE o_orderkey % 13 <> 0
        UNION ALL SELECT * FROM upd
        UNION ALL SELECT * FROM ins)
    SELECT order_year,
           count(*) AS n_rows,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'U') AS BIGINT) AS n_updated,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'N') AS BIGINT) AS n_inserted,
           round(sum(o_totalprice), 2) AS total_price
    FROM merged GROUP BY order_year
    """,
)
def q_upsert_merge(spark, sf_dir):
    """Batch MERGE/upsert into a partitioned parquet lake WITHOUT a table
    format: updates win over base rows (left-anti + union), inserts
    append, and the result lands via DYNAMIC partition overwrite so only
    partitions the upsert batch touches are rewritten — untouched
    partitions survive on disk. This is the pre-Delta/Iceberg MERGE INTO
    pattern for a 100 TB fact table: cost scales with the AFFECTED
    partitions (the anti-join shuffles only those), never the full table.

    The read-back per-year aggregate proves the semantics: updated rows
    carry 'U', inserted rows 'N', per-year counts and sums reconcile
    exactly with a pure-SQL merge of the same batches."""
    o = _t(spark, sf_dir, "orders")
    path = _scratch("upsert", sf_dir)
    base = o.select(
        "o_orderkey",
        "o_totalprice",
        "o_orderstatus",
        F.year("o_orderdate").alias("order_year"),
    )
    base.write.mode("overwrite").partitionBy("order_year").parquet(f"{path}/t")
    lake = spark.read.parquet(f"{path}/t")
    upd = lake.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") + 10.0, 2).alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
        "order_year",
    )
    ins = lake.filter(F.col("o_orderkey") % 997 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        F.round(F.col("o_totalprice"), 2).alias("o_totalprice"),
        F.lit("N").alias("o_orderstatus"),
        "order_year",
    )
    batch = upd.unionByName(ins)
    # affected partitions only: at 100 TB the upsert batch usually touches
    # a handful of recent partitions — restrict the rewrite to those
    affected = [
        r["order_year"]
        for r in batch.select("order_year").distinct().collect()
    ]
    merged_affected = (
        lake.filter(F.col("order_year").isin(affected))
        .join(batch.select("o_orderkey"), "o_orderkey", "left_anti")
        .unionByName(batch)
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        merged_affected.write.mode("overwrite").partitionBy("order_year").parquet(
            f"{path}/t"
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    back = spark.read.parquet(f"{path}/t")
    return back.groupBy(F.col("order_year").cast("int").alias("order_year")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("o_orderstatus") == "U").cast("long")).alias("n_updated"),
        F.sum((F.col("o_orderstatus") == "N").cast("long")).alias("n_inserted"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@query(
    "scd2_intervals",
    oracle="""
    WITH e AS (SELECT event_id, user_id, event_type,
                      CAST(date_trunc('second', ts) AS TIMESTAMP) AS s
               FROM events),
    m AS (SELECT *, CASE WHEN lag(event_type) OVER
                              (PARTITION BY user_id ORDER BY s, event_id)
                              IS DISTINCT FROM event_type
                         THEN 1 ELSE 0 END AS chg
          FROM e),
    c AS (SELECT user_id, event_type, s, event_id FROM m WHERE chg = 1),
    o AS (SELECT user_id, event_type, s AS valid_from,
                 lead(s) OVER (PARTITION BY user_id ORDER BY s, event_id)
                     AS valid_to
          FROM c)
    SELECT user_id, event_type, valid_from, valid_to,
           valid_to IS NULL AS is_current
    FROM o
    """,
)
def q_scd2_intervals(spark, sf_dir):
    """Slowly-changing-dimension (type 2) construction from a change
    log: collapse consecutive equal states per key, then emit validity
    intervals [valid_from, valid_to) with lead(), open interval = current
    row — the standard CDC→dimension-history materialization.

    Ties inside one second are ordered by event_id on both engines, so
    the interval set is fully deterministic. Both windows and the filter
    share the user_id partitioning: the change log shuffles exactly once
    (asserted in plan tests), same class as sessionize_batch."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.date_trunc("second", F.col("ts")).alias("s"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    m = ev.withColumn("prev", F.lag("event_type").over(w))
    chg = m.filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
    out = chg.select(
        "user_id",
        "event_type",
        F.col("s").alias("valid_from"),
        F.lead("s").over(w).alias("valid_to"),
    )
    return out.withColumn("is_current", F.col("valid_to").isNull())


@query(
    "skew_report",
    oracle="""
    WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id)
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(max(cnt) AS BIGINT) AS max_cnt,
           round(avg(cnt), 4) AS avg_cnt,
           round(quantile_cont(cnt, 0.5), 4) AS p50_cnt,
           round(quantile_cont(cnt, 0.99), 4) AS p99_cnt,
           round(CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 6)
               AS top1_share
    FROM c
    """,
)
def q_skew_report(spark, sf_dir):
    """Key-skew diagnostic: the distribution of per-key row counts
    (count, max, mean, exact p50/p99, heaviest key's share) — the
    numbers that decide whether a join/agg key needs salting
    (operators/skew.py) or can rely on AQE's skew-join splitting. Two
    hash aggregates (per-key then summary), map-side partials both;
    exact percentile kept for oracle parity, approx at 100 TB (same
    trade documented in describe_stats)."""
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    return c.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
        F.round(F.avg("cnt"), 4).alias("avg_cnt"),
        F.round(F.expr("percentile(cnt, 0.5)"), 4).alias("p50_cnt"),
        F.round(F.expr("percentile(cnt, 0.99)"), 4).alias("p99_cnt"),
        F.round(
            F.max("cnt").cast("double") / F.sum("cnt").cast("double"), 6
        ).alias("top1_share"),
    )


@query(
    "pivot_sum",
    oracle="""
    SELECT user_id,
           round(sum(value) FILTER (WHERE event_type = 'click'), 2) AS val_click,
           round(sum(value) FILTER (WHERE event_type = 'purchase'), 2) AS val_purchase,
           round(sum(value) FILTER (WHERE event_type = 'view'), 2) AS val_view
    FROM events GROUP BY user_id
    """,
)
def q_pivot_sum(spark, sf_dir):
    """A2 generalized: pivot with a SUM measure (the reference only
    pivots counts); absent buckets stay null (no fill)."""
    ev = _t(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "purchase", "view"])
        .agg(F.round(F.sum("value"), 2))
    )
    return out.select(
        "user_id",
        F.col("click").alias("val_click"),
        F.col("purchase").alias("val_purchase"),
        F.col("view").alias("val_view"),
    )


@query(
    "window_first_last",
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_totalprice) OVER w AS first_price,
           last_value(o_totalprice) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price,
           nth_value(o_totalprice, 2) OVER w AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_window_first_last(spark, sf_dir):
    """first_value / last_value / nth_value over an unbounded frame with
    a fully deterministic ordering (partition-wide positional lookups)."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )
