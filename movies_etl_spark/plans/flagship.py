"""Flagship query — the engine's `movies_ratings` analog on the driver
test tables (SURVEY.md §7.1 step 1).

Shape-for-shape the reference's only big-data path (challenge.py:276-285):
take the fact table (events ≈ ratings, 26M rows at production scale),
aggregate per entity × category (one conditional count per category in
one hash aggregate = ONE shuffle; Spark's ``.pivot()`` would plan two),
fill missing buckets with 0, then LEFT-join the dimension-sized
result onto the entity dimension (customer ≈ movies) — as a broadcast, so
the fact table is shuffled exactly once end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movies_etl_spark.plans.registry import EVENT_TYPES, query
from movies_etl_spark.sources import readers

FLAGSHIP_ORACLE = """
    SELECT c_custkey, c_name, c_mktsegment,
           coalesce(cnt_click, 0)    AS cnt_click,
           coalesce(cnt_error, 0)    AS cnt_error,
           coalesce(cnt_purchase, 0) AS cnt_purchase,
           coalesce(cnt_signup, 0)   AS cnt_signup,
           coalesce(cnt_view, 0)     AS cnt_view,
           round(coalesce(total_value, 0.0), 2) AS total_value
    FROM customer
    LEFT JOIN (
        SELECT user_id,
               count(*) FILTER (WHERE event_type = 'click')    AS cnt_click,
               count(*) FILTER (WHERE event_type = 'error')    AS cnt_error,
               count(*) FILTER (WHERE event_type = 'purchase') AS cnt_purchase,
               count(*) FILTER (WHERE event_type = 'signup')   AS cnt_signup,
               count(*) FILTER (WHERE event_type = 'view')     AS cnt_view,
               sum(value) AS total_value
        FROM events GROUP BY user_id
    ) ev ON c_custkey = user_id
"""


@query("flagship_user_activity", oracle=FLAGSHIP_ORACLE)
def flagship_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = readers.load_table(spark, sf_dir, "events")
    cust = readers.load_table(spark, sf_dir, "customer")

    # Conditional aggregation instead of the pivot operator: the explicit
    # bucket list compiles to count(CASE WHEN ...) columns inside ONE hash
    # aggregate — one fact scan, one shuffle (of map-side partials), where
    # .pivot() would plan two exchanges and a second scan for the value
    # sum. count() over the CASE gives 0 for missing buckets (the
    # fillna(0) semantics) for free.
    per_user = ev.groupBy("user_id").agg(
        *[
            F.count(F.when(F.col("event_type") == t, 1)).alias(f"cnt_{t}")
            for t in EVENT_TYPES
        ],
        F.sum("value").alias("total_value"),
    )

    # No broadcast hint on per_user: it has one row per distinct user —
    # the same cardinality class as `customer` — so forcing a broadcast
    # would OOM the driver at 100× scale. Both sides are keyed on the
    # join column (per_user is already hash-partitioned on user_id by its
    # aggregation), so the worst case is one extra exchange of the
    # dimension side; at test scale AQE observes the sub-threshold
    # aggregate size at runtime and converts to a broadcast join itself.
    joined = cust.join(
        per_user, cust["c_custkey"] == per_user["user_id"], "left"
    ).drop("user_id")
    return joined.select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        *[F.coalesce(F.col(f"cnt_{t}"), F.lit(0)).alias(f"cnt_{t}") for t in EVENT_TYPES],
        F.round(F.coalesce(F.col("total_value"), F.lit(0.0)), 2).alias("total_value"),
    )
