"""Analytics / retrieval / entity-resolution extension queries.

These extend the engine past the reference's ETL surface into the event-
analytics and text-retrieval shapes a production lakehouse serves daily:
sequential funnels, cohort retention, per-group outlier scoring,
time-series gap-fill with forward-fill, scale-correct quantile binning
(the distributed alternative to a global ntile sort), snapshot diffing
(the lakehouse audit primitive), blocked fuzzy matching (entity
resolution without an all-pairs join), and an inverted index + BM25
ranking pair (the classical-retrieval complement to similarity_topk).

Oracle discipline (same as queries_ext): every float that crosses the
engine boundary is rounded first; every multi-term float sum is a
left-to-right fold over a sorted list so DuckDB replays the identical
reduction order; timestamps that appear in output are truncated to
seconds (events.ts parquet precision has varied across testdata
generations — ns-as-long vs µs-as-NTZ; see sources/readers.load_table
and the _micros helper below).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from movies_etl_spark.plans.registry import _t, query


def _micros(c) -> "F.Column":
    """Epoch microseconds, tolerant of TIMESTAMP_NTZ inputs.

    The driver's parquet writes `ts` without a timezone marker, which
    Spark 4 infers as TIMESTAMP_NTZ; `unix_micros` only accepts TIMESTAMP
    (LTZ), so cast first. The session timezone is pinned UTC
    (session.py:48), making NTZ→LTZ value-preserving and identical to
    DuckDB's naive `epoch_us`. On already-LTZ inputs the cast is a no-op,
    so both encodings of the testdata work."""
    col = F.col(c) if isinstance(c, str) else c
    return F.unix_micros(col.cast("timestamp"))

# ===========================================================================
# Event analytics: funnel, retention, outliers, gap-fill
# ===========================================================================


@query(
    "funnel_analysis",
    oracle="""
    WITH v AS (SELECT user_id, min(ts) AS t_view
               FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.ts) AS t_click
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t_view
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.ts) AS t_purchase
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click
          GROUP BY e.user_id)
    SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS users FROM v
    UNION ALL
    SELECT '2_click', CAST(count(*) AS BIGINT) FROM c
    UNION ALL
    SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM p
    """,
)
def q_funnel_analysis(spark, sf_dir):
    """Ordered conversion funnel (view -> later click -> later purchase):
    users reaching each stage, where each stage's timestamp must strictly
    follow the previous stage's first occurrence.

    One scan, one user_id exchange, then a stack of three unordered
    window minimums over the SAME partitioning (each stage's conditional
    min references the previous stage's partition-constant: no sort, no
    re-exchange, and the window's spillable row buffer instead of an
    aggregation buffer holding per-user arrays), a partitioning-reusing
    per-user dedup aggregate, and one global count row fanned out to the
    three stage rows. The window minimum over the 'ts > previous stage'
    predicate IS the oracle's per-stage join+filter+min."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    et = F.col("event_type")
    s1 = e.withColumn(
        "t_view", F.min(F.when(et == "view", F.col("ts"))).over(w)
    )
    s2 = s1.withColumn(
        "t_click",
        F.min(
            F.when(
                (et == "click") & (F.col("ts") > F.col("t_view")),
                F.col("ts"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (et == "purchase") & (F.col("ts") > F.col("t_click")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = s3.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_purchase").alias("t_purchase"),
    )
    counts = per_user.agg(
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_click"),
        F.count("t_purchase").alias("n_purchase"),
    )
    return counts.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("1_view").alias("stage"),
                    F.col("n_view").cast("long").alias("users"),
                ),
                F.struct(
                    F.lit("2_click").alias("stage"),
                    F.col("n_click").cast("long").alias("users"),
                ),
                F.struct(
                    F.lit("3_purchase").alias("stage"),
                    F.col("n_purchase").cast("long").alias("users"),
                ),
            )
        ).alias("s")
    ).select("s.stage", "s.users")


@query(
    "retention_cohorts",
    oracle="""
    WITH f AS (SELECT user_id,
                      CAST(date_trunc('week', min(ts)) AS DATE) AS cohort
               FROM events GROUP BY user_id)
    SELECT f.cohort,
           CAST(datediff('day', f.cohort,
                CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS BIGINT)
               AS week_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS users
    FROM events e JOIN f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def q_retention_cohorts(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-activity week, and
    for each (cohort, weeks-since-cohort) the count of distinct active
    users — the canonical product-analytics rollup. Two shuffles: one on
    user_id for the first-event aggregate (then an equi-join back on the
    SAME key — co-partitioned, no extra exchange), one for the final
    distinct-count aggregate. date_trunc('week') is Monday-based in both
    engines; the day-diff is an exact multiple of 7 by construction, so
    the integer division is lossless."""
    e = _t(spark, sf_dir, "events").select("user_id", "ts")
    f = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort")
    )
    j = e.join(f, "user_id").select(
        "user_id",
        "cohort",
        (
            F.datediff(F.date_trunc("week", F.col("ts")).cast("date"), F.col("cohort"))
            / 7
        )
        .cast("long")
        .alias("week_offset"),
    )
    return j.groupBy("cohort", "week_offset").agg(
        F.countDistinct("user_id").cast("long").alias("users")
    )


@query(
    "zscore_outliers",
    oracle="""
    WITH s AS (SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
               FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type, e.value,
           round((e.value - s.mu) / s.sigma, 4) AS z
    FROM events e JOIN s ON e.event_type = s.event_type
    WHERE abs(round((e.value - s.mu) / s.sigma, 4)) > 3
    """,
)
def q_zscore_outliers(spark, sf_dir):
    """Per-group standardization + outlier filter: z = (x - mu)/sigma
    within each event_type, keep |z| > 3. The group stats are a 5-row
    aggregate joined back via an explicit broadcast (a window over the
    full table would re-shuffle every row for a 5-row answer); the
    outlier predicate is applied to the ROUNDED z on both sides so the
    oracle's threshold decision is identical. One full-table map + one
    tiny aggregate: at 100 TB this is a scan, not a shuffle, of the fact
    table."""
    e = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    s = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    z = F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 4)
    return (
        e.join(F.broadcast(s), "event_type")
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > 3)
        .select("event_id", "event_type", "value", "z")
    )


@query(
    "gapfill_daily",
    oracle="""
    WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day,
                      CAST(count(*) AS BIGINT) AS n_events,
                      round(sum(value), 4) AS day_value
               FROM events GROUP BY 1, 2),
    b AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM d GROUP BY 1),
    cal AS (SELECT user_id,
                   CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
                       AS day
            FROM b),
    j AS (SELECT cal.user_id, cal.day,
                 coalesce(d.n_events, 0) AS n_events, d.day_value,
                 count(d.day_value) OVER (PARTITION BY cal.user_id
                     ORDER BY cal.day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
          FROM cal LEFT JOIN d ON cal.user_id = d.user_id AND cal.day = d.day)
    SELECT user_id, day, n_events,
           max(day_value) OVER (PARTITION BY user_id, grp) AS value_ffill
    FROM j
    """,
)
def q_gapfill_daily(spark, sf_dir):
    """Time-series gap-fill (the hypertable `time_bucket_gapfill`
    pattern): densify each user's daily series over their own [min, max]
    span via sequence()+explode, zero-fill the counts, and forward-fill
    the last observed daily value. The forward-fill is the portable
    gaps-and-islands form — a running count of non-nulls defines island
    ids, then max() within (user, island) propagates the island's single
    non-null — because last_value(IGNORE NULLS) parses but is ignored in
    DuckDB 1.0 (same portability note as asof_join_window). All three
    windows and the join share the user_id partition key: one shuffle,
    reused. Calendar expansion is per-user-bounded (span x users rows),
    never a global calendar cross-join."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "value"
    )
    d = e.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("value"), 4).alias("day_value"),
    )
    b = d.groupBy("user_id").agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    cal = b.select(
        "user_id", F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    )
    j = cal.join(d, ["user_id", "day"], "left")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    j = j.select(
        "user_id",
        "day",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        "day_value",
        F.count("day_value").over(w_run).alias("grp"),
    )
    w_grp = Window.partitionBy("user_id", "grp")
    return j.select(
        "user_id",
        "day",
        "n_events",
        F.max("day_value").over(w_grp).alias("value_ffill"),
    )


# ===========================================================================
# Distribution ops: quantile binning, snapshot diff
# ===========================================================================


@query(
    "quantile_bucket",
    oracle="""
    WITH b AS (SELECT list_transform(
                   quantile_cont(o_totalprice,
                       [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
                   x -> round(x, 6)) AS bnds
               FROM orders),
    a AS (SELECT o_orderkey, o_totalprice,
                 1 + len(list_filter(b.bnds, x -> o_totalprice > x)) AS bucket
          FROM orders, b)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM a GROUP BY bucket
    """,
)
def q_quantile_bucket(spark, sf_dir):
    """Decile binning done the scale-correct way: compute the 9 exact
    decile boundaries ONCE (single tiny aggregate), broadcast them, and
    assign bucket = 1 + #boundaries strictly below the value — instead
    of ntile() over a global ORDER BY, which plans a single-partition
    sort of the whole table. Boundaries are rounded to 6 places before
    comparison so both engines bin against the identical cutoffs (the
    exact-percentile interpolation matches describe_stats' established
    parity). Bucket populations differ from ntile's equal-count split
    only on boundary ties — the binning, unlike ntile, is a pure
    per-row function of the value, which is what makes it reusable as a
    stored feature at 100 TB."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    b = o.agg(
        F.expr(
            "transform(percentile(o_totalprice,"
            " array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D)),"
            " x -> round(x, 6))"
        ).alias("bnds")
    )
    a = o.crossJoin(F.broadcast(b)).select(
        "o_orderkey",
        "o_totalprice",
        (
            F.lit(1)
            + F.aggregate(
                "bnds",
                F.lit(0),
                lambda acc, x: acc
                + F.when(F.col("o_totalprice") > x, 1).otherwise(0),
            )
        )
        .cast("long")
        .alias("bucket"),
    )
    return a.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


@query(
    "snapshot_diff",
    oracle="""
    WITH a AS (SELECT o_orderkey, o_totalprice FROM orders
               WHERE o_orderkey % 10 != 0),
    b AS (SELECT o_orderkey,
                 CASE WHEN o_orderkey % 7 = 0
                      THEN o_totalprice + 10.0
                      ELSE o_totalprice END AS o_totalprice
          FROM orders WHERE o_orderkey % 10 != 3)
    SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN a.o_orderkey IS NULL THEN 'added'
                WHEN b.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS status,
           a.o_totalprice AS old_price,
           b.o_totalprice AS new_price
    FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
    WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
       OR a.o_totalprice != b.o_totalprice
    """,
)
def q_snapshot_diff(spark, sf_dir):
    """Snapshot diff — the lakehouse audit primitive (what changed
    between yesterday's table and today's?): full outer join on the key,
    classify added / removed / changed, drop unchanged. Both snapshots
    are deterministic slices of orders (new snapshot drops key%10==3,
    adds key%10==0, reprices key%7==0 — by an exact IEEE addition, not a
    scaled round: round-half of a double tie differs between engines,
    which a 0.04% sample of repriced rows hit at sf0.01). One shuffle on the key for the
    join; the unchanged-row filter happens BEFORE any wide projection,
    so at 100 TB the output is proportional to the churn, not the table.
    For partitioned lakes, run per-partition and prune unchanged
    partitions by metadata first (see upsert_merge)."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    a = o.filter(F.col("o_orderkey") % 10 != 0)
    b = o.filter(F.col("o_orderkey") % 10 != 3).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 10.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    j = a.alias("a").join(
        b.alias("b"), F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer"
    )
    return (
        j.select(
            F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey")).alias(
                "o_orderkey"
            ),
            F.when(F.col("a.o_orderkey").isNull(), "added")
            .when(F.col("b.o_orderkey").isNull(), "removed")
            .otherwise("changed")
            .alias("status"),
            F.col("a.o_totalprice").alias("old_price"),
            F.col("b.o_totalprice").alias("new_price"),
        )
        .filter(
            F.col("old_price").isNull()
            | F.col("new_price").isNull()
            | (F.col("old_price") != F.col("new_price"))
        )
    )


# ===========================================================================
# Entity resolution: blocked fuzzy match
# ===========================================================================


@query(
    "fuzzy_join_levenshtein",
    oracle="""
    WITH v AS (SELECT p_partkey AS variant_key,
                      substr(p_name, 1, 1) || substr(p_name, 3) AS typo
               FROM part WHERE p_partkey < 500),
    c AS (SELECT v.variant_key, v.typo, p.p_partkey, p.p_name,
                 levenshtein(v.typo, p.p_name) AS dist
          FROM v JOIN part p
            ON substr(v.typo, 1, 1) = substr(p.p_name, 1, 1)
           AND substr(v.typo, length(v.typo), 1)
               = substr(p.p_name, length(p.p_name), 1)
          WHERE abs(length(v.typo) - length(p.p_name)) <= 2),
    r AS (SELECT *, row_number() OVER (PARTITION BY variant_key
                                       ORDER BY dist, p_partkey) AS rn
          FROM c)
    SELECT variant_key, typo, p_partkey AS matched_partkey,
           p_name AS matched_name, CAST(dist AS BIGINT) AS dist
    FROM r WHERE rn = 1 AND dist <= 2
    """,
)
def q_fuzzy_join_levenshtein(spark, sf_dir):
    """Blocked fuzzy matching (entity resolution): corrupted part names
    (2nd char deleted — a planted typo corpus) are resolved back to the
    catalog via edit distance, WITHOUT an all-pairs comparison. Blocking
    = equi-join on (first char, last char) + a +/-2 length band, so the
    levenshtein UDF-free builtin runs only inside blocks; best match per
    variant by (distance, key) with a per-variant window. At 100 TB the
    block key graduates to (first token, length bucket) or a phonetic
    key — the plan shape (equi-join on block key, never CartesianProduct)
    is the point, and test_plan_shapes asserts it."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    v = p.filter(F.col("p_partkey") < 500).select(
        F.col("p_partkey").alias("variant_key"),
        F.expr("concat(substring(p_name, 1, 1), substring(p_name, 3))").alias(
            "typo"
        ),
    )
    cand = (
        v.join(
            p,
            (
                F.expr("substring(typo, 1, 1)")
                == F.expr("substring(p_name, 1, 1)")
            )
            & (
                F.expr("substring(typo, length(typo), 1)")
                == F.expr("substring(p_name, length(p_name), 1)")
            ),
        )
        .filter(
            F.abs(F.length("typo") - F.length("p_name")) <= 2
        )
        .select(
            "variant_key",
            "typo",
            "p_partkey",
            "p_name",
            F.levenshtein("typo", "p_name").cast("long").alias("dist"),
        )
    )
    w = Window.partitionBy("variant_key").orderBy("dist", "p_partkey")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("dist") <= 2))
        .select(
            "variant_key",
            "typo",
            F.col("p_partkey").alias("matched_partkey"),
            F.col("p_name").alias("matched_name"),
            "dist",
        )
    )


# ===========================================================================
# Classical retrieval: inverted index + BM25
# ===========================================================================

#: the BM25 demo query terms (mid-frequency tokens in the synthetic corpus)
_BM25_TERMS = ("join", "vector", "stream")
_BM25_K1 = 1.2
_BM25_B = 0.75


@query(
    "inverted_index",
    oracle="""
    WITH t AS (SELECT doc_id,
                      unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
               FROM documents)
    SELECT token,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
           CAST(count(*) AS BIGINT) AS cf,
           array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings
    FROM t GROUP BY token
    HAVING count(DISTINCT doc_id) >= 5
    """,
)
def q_inverted_index(spark, sf_dir):
    """Inverted index build: token -> (document frequency, corpus
    frequency, sorted posting list). One explode + one shuffle on the
    token; postings are collect_set'd then sorted so the list is
    canonical. Tokens below df=5 are dropped (the long tail is the bulk
    of the vocabulary). At 100 TB, posting lists for stop-word-class
    tokens exceed task memory as single arrays — production splits
    postings into fixed-size blocks ((token, block_no) keys, the
    standard postings-file layout); the df/cf aggregates are unaffected
    map-side partials. Postings serialize as a comma-joined string (the
    repo's array-output convention — embedding_quantize does the same)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).alias(
            "token"
        ),
    )
    return (
        d.groupBy("token")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("df"),
            F.count(F.lit(1)).cast("long").alias("cf"),
            F.array_join(
                F.array_sort(F.collect_set("doc_id")).cast("array<string>"), ","
            ).alias("postings"),
        )
        .filter(F.col("df") >= 5)
    )


@query(
    "bm25_rank",
    oracle=f"""
    WITH d AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks
               FROM documents),
    dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM d),
    st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                  CAST(sum(dl) AS DOUBLE) AS sum_dl FROM dl),
    tok AS (SELECT doc_id, unnest(toks) AS token FROM d),
    tf AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
           FROM tok WHERE token IN ('join', 'vector', 'stream')
           GROUP BY doc_id, token),
    dfr AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY token),
    sc AS (SELECT tf.doc_id, tf.token,
                  round(round(ln((st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5) + 1), 6)
                        * (tf.tf * ({_BM25_K1} + 1))
                        / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
                           + {_BM25_B} * dl.dl / (st.sum_dl / st.n_docs))),
                        6) AS contrib
           FROM tf
           JOIN dfr ON tf.token = dfr.token
           JOIN dl ON tf.doc_id = dl.doc_id, st),
    agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
                   round(list_reduce(
                       [CAST(0 AS DOUBLE)] || list(contrib ORDER BY token),
                       (acc, v) -> acc + v), 4) AS score
            FROM sc GROUP BY doc_id)
    SELECT doc_id, n_terms, score FROM agg
    ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def q_bm25_rank(spark, sf_dir):
    """BM25 ranked retrieval (k1=1.2, b=0.75) for a 3-term query — the
    lexical complement to similarity_topk. The expensive step — regex
    tokenization of every document — runs exactly ONCE: doc length and
    each query term's tf are array expressions over the same token array
    in one projection, and the resulting per-doc stats frame (a few
    numeric columns per doc — O(n_docs), no token rows) is persisted so
    the corpus-stats aggregate, the document-frequency count, and the
    scoring join all reuse it instead of re-tokenizing (the pre-r3 shape
    re-ran the regex 4x through unshared subtrees and exploded every
    token just to keep 3). There is no explode and no (doc, token)
    shuffle at corpus scale: tf rows materialize only for matching
    (doc, term) pairs via a 3-row stack. Corpus stats (N, total length)
    are a 1-row aggregate cross-joined broadcast; document frequencies a
    3-row broadcast. The idf is rounded to 6 places before the tf
    product (ln() may differ in the last ulp across libm
    implementations), each term's contribution is rounded, and the
    per-doc sum is a fold over the token-sorted list — the oracle
    replays the exact reduction order. Top-10 via orderBy+limit compiles
    to TakeOrdered (per-partition heap + driver merge), not a global
    sort."""
    from movies_etl_spark.operators import caching

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)").alias("toks"),
    )
    tf_cols = [
        F.expr(f"size(filter(toks, x -> x = '{t}'))")
        .cast("double")
        .alias(f"tf_{t}")
        for t in _BM25_TERMS
    ]
    docstats = caching.tracked_persist(
        d.select("doc_id", F.size("toks").cast("double").alias("dl"), *tf_cols)
    )
    st = docstats.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
    )
    stack = "stack({}, {}) AS (token, tf)".format(
        len(_BM25_TERMS), ", ".join(f"'{t}', tf_{t}" for t in _BM25_TERMS)
    )
    tf = docstats.selectExpr("doc_id", "dl", stack).filter(F.col("tf") > 0)
    dfr = tf.groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("df"))
    k1, b = F.lit(_BM25_K1), F.lit(_BM25_B)
    idf = F.round(
        F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1), 6
    )
    contrib = F.round(
        idf
        * (F.col("tf") * (k1 + 1))
        / (
            F.col("tf")
            + k1 * (1 - b + b * F.col("dl") / (F.col("sum_dl") / F.col("n_docs")))
        ),
        6,
    )
    sc = (
        tf.join(F.broadcast(dfr), "token")
        .crossJoin(F.broadcast(st))
        .select("doc_id", "token", contrib.alias("contrib"))
    )
    agg = sc.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("token", "contrib"))),
                F.lit(0.0),
                lambda acc, s: acc + s["contrib"],
            ),
            4,
        ).alias("score"),
    )
    return agg.orderBy(F.desc("score"), "doc_id").limit(10)


# ===========================================================================
# Time-series ops: sweep-line concurrency, TWAP, rolling range windows
# ===========================================================================

@query(
    "concurrency_sweep",
    oracle="""
    WITH iv AS (SELECT event_id, ts AS t0,
                       ts + to_seconds(CAST(floor(value) AS BIGINT)) AS t1
                FROM events),
    pts AS (SELECT event_id, t0 AS t, 1 AS delta FROM iv
            UNION ALL
            SELECT event_id, t1 AS t, -1 AS delta FROM iv),
    c AS (SELECT t, delta,
                 sum(delta) OVER (ORDER BY t, delta, event_id
                                  ROWS UNBOUNDED PRECEDING) AS conc
          FROM pts)
    SELECT CAST(t AS DATE) AS day,
           CAST(max(conc) AS BIGINT) AS max_concurrent,
           CAST(count(*) AS BIGINT) AS n_points
    FROM c GROUP BY 1
    """,
)
def q_concurrency_sweep(spark, sf_dir):
    """Sweep-line concurrency: treat each event as an interval
    [ts, ts + floor(value) seconds) and compute the maximum number of
    simultaneously-open intervals per day — the classic capacity-planning
    query (concurrent sessions / connections / jobs).

    The running +1/-1 sum needs a GLOBAL time order, which a naive
    Window.orderBy(t) funnels through one task. Here the day is the
    range-shard: per-day cumulative sums run in parallel, only the ~30
    day TOTALS pass through the serial window, and the broadcast-joined
    day prefix restores the exact global running sum (the same two-phase
    distributed prefix sum as sequence_pack, with a time-range shard
    instead of a hash shard — correct because the shard key is a prefix
    of the global order). Intervals spanning midnight are handled by
    construction: their -1 lands in the next day's shard but the prefix
    carries the open count across. Ends sort before starts at the same
    instant (delta -1 < +1), making intervals half-open. Both endpoints
    come from ONE events scan via an explode of a 2-struct (t, delta)
    array, so the two prefix-sum consumers scan events twice in all."""
    from movies_etl_spark.operators import curation as C

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "value")
    iv = ev.select(
        "event_id",
        F.col("ts").cast("timestamp_ntz").alias("t0"),
        F.timestamp_micros(
            _micros("ts") + (F.floor("value") * 1000000).cast("long")
        )
        .cast("timestamp_ntz")
        .alias("t1"),
    )
    pts = iv.select(
        "event_id",
        F.explode(
            F.array(
                F.struct(
                    F.col("t0").alias("t"), F.lit(1).alias("delta")
                ),
                F.struct(
                    F.col("t1").alias("t"), F.lit(-1).alias("delta")
                ),
            )
        ).alias("pt"),
    ).select(
        "event_id",
        F.col("pt.t").alias("t"),
        F.col("pt.delta").alias("delta"),
    )
    pts = pts.withColumn("day", F.to_date("t"))
    off = C.global_running_offset(
        pts, "delta", "day", [F.col("t"), F.col("delta"), F.col("event_id")]
    )
    conc = (F.col("cum_before") + F.col("delta")).alias("conc")
    return (
        off.select("day", conc)
        .groupBy("day")
        .agg(
            F.max("conc").cast("long").alias("max_concurrent"),
            F.count(F.lit(1)).cast("long").alias("n_points"),
        )
    )


@query(
    "time_weighted_avg",
    oracle="""
    WITH seg AS (
        SELECT user_id, ts, event_id, value,
               date_diff('microsecond', ts,
                   lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                   / 1000000.0 AS dt
        FROM events),
    k AS (SELECT user_id, ts, event_id,
                 round(value * dt, 6) AS vdt, dt
          FROM seg WHERE dt IS NOT NULL),
    a AS (SELECT user_id,
                 CAST(count(*) AS BIGINT) AS n_segments,
                 list_reduce([CAST(0 AS DOUBLE)]
                     || list(vdt ORDER BY ts, event_id),
                     (acc, v) -> acc + v) AS s,
                 list_reduce([CAST(0 AS DOUBLE)]
                     || list(dt ORDER BY ts, event_id),
                     (acc, v) -> acc + v) AS d
          FROM k GROUP BY user_id)
    SELECT user_id, n_segments,
           round(d, 4) AS total_sec,
           round(s / d, 4) AS twap
    FROM a
    """,
)
def q_time_weighted_avg(spark, sf_dir):
    """Time-weighted average (the hypertable TWAP aggregate): each
    observation's value is weighted by how long it remained current
    (until the user's next event), twap = sum(v*dt)/sum(dt). One shuffle
    on user_id shared by the lead-window and the final aggregate. Both
    float sums are folds over the (ts, event_id)-sorted segment list —
    the same bit-reproducibility discipline as the cosine/BM25 folds —
    because a hash-aggregate's partial-sum order is engine-dependent.
    dt derives from exact microsecond integers, so only the product
    needs rounding."""
    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dt = (_micros(F.lead("ts").over(w)) - _micros("ts")) / 1000000.0
    seg = e.withColumn("dt", dt).filter(F.col("dt").isNotNull())
    k = seg.select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * F.col("dt"), 6).alias("vdt"),
        "dt",
    )

    def fold(field):
        return F.aggregate(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", field))),
            F.lit(0.0),
            lambda acc, s: acc + s[field],
        )

    a = k.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        fold("vdt").alias("s"),
        fold("dt").alias("d"),
    )
    return a.select(
        "user_id",
        "n_segments",
        F.round(F.col("d"), 4).alias("total_sec"),
        F.round(F.col("s") / F.col("d"), 4).alias("twap"),
    )


@query(
    "rolling_range_window",
    oracle="""
    WITH e AS (SELECT event_id, user_id,
                      CAST(epoch_us(ts) // 1000000 AS BIGINT) AS t_sec,
                      CAST(floor(value * 100) AS BIGINT) AS cents
               FROM events)
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS cnt_7d,
           CAST(sum(cents) OVER w AS BIGINT) AS sum_cents_7d
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY t_sec
                 RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
    """,
)
def q_rolling_range_window(spark, sf_dir):
    """Rolling 7-day per-user aggregate via a RANGE window frame (time-
    based, not row-based — the frame is defined by the timestamp gap, so
    sparse and dense users get the same 7 calendar days). One shuffle on
    user_id. The summed measure is integer cents: a sliding float sum is
    evaluated incrementally in Spark but by segment tree in other
    engines, so only an association-free integer sum is portable —
    floor(value*100) is computed from identical doubles in both
    engines."""
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 1000000").alias("t_sec"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_sec")
        .rangeBetween(-604800, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("long").alias("cnt_7d"),
        F.sum("cents").over(w).cast("long").alias("sum_cents_7d"),
    )


@query(
    "week_over_week",
    oracle="""
    WITH w AS (SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE)
                   AS wk,
                  CAST(count(*) AS BIGINT) AS cnt,
                  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                      AS cents
           FROM events GROUP BY 1)
    SELECT wk, cnt, cents,
           round((cents - lag(cents) OVER (ORDER BY wk)) * 1.0
                 / nullif(lag(cents) OVER (ORDER BY wk), 0), 6) AS wow_pct
    FROM w
    """,
)
def q_week_over_week(spark, sf_dir):
    """Week-over-week growth: weekly revenue (integer cents) with the
    percentage change against the prior week — the period-over-period
    report every metrics dashboard leads with.

    The window runs over the ALREADY-AGGREGATED weekly frame
    (|weeks| rows), so the single-partition ORDER BY wk window is a
    non-issue at any scale — the anti-pattern would be lag() over the
    raw fact table. Weeks truncate Monday-first identically in both
    engines (the retention_cohorts discipline); the growth ratio is an
    integer-difference / integer ratio, bit-identical before rounding.
    A zero prior week yields NULL on BOTH sides (nullif in the oracle,
    a when-guard here) — without the guard Spark's non-ANSI division
    returns NULL while DuckDB returns inf, a data-dependent parity
    break."""
    e = _t(spark, sf_dir, "events").select(
        F.date_trunc("week", F.col("ts")).cast("date").alias("wk"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = e.groupBy("wk").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("cents").alias("cents")
    )
    win = Window.orderBy("wk")
    prev = F.lag("cents").over(win)
    prev_nz = F.when(prev != 0, prev)
    return w.select(
        "wk",
        "cnt",
        "cents",
        F.round((F.col("cents") - prev) * 1.0 / prev_nz, 6).alias("wow_pct"),
    )


# ===========================================================================
# Round-4 additions: hopping windows, entropy profiling, robust scaling
# ===========================================================================


@query(
    "hopping_window_agg",
    oracle="""
    WITH e AS (SELECT CAST(epoch_us(CAST(date_trunc('second', ts) AS TIMESTAMP))
                      // 1000000 AS BIGINT) AS sec,
                      CAST(floor(value * 100) AS BIGINT) AS cents
               FROM events),
    hop AS (SELECT (sec // 1800 - o) * 1800 AS ws, cents
            FROM e, UNNEST([0, 1]) t(o))
    SELECT ws, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(cents) AS BIGINT) AS cents
    FROM hop GROUP BY ws
    """,
)
def q_hopping_window_agg(spark, sf_dir):
    """Hopping (sliding) window aggregate: 1-hour windows every 30
    minutes, so each event contributes to exactly TWO windows — the
    batch form of the streaming slide that smooths tumbling-window
    boundary artifacts in rate dashboards.

    Spark side uses the native F.window(slide) generator (each row
    expands to its two windows MAP-side); output keys on the window
    start's epoch seconds so both engines compare integers, not
    timestamp encodings (events.ts has shipped as both ns and µs-NTZ).
    One shuffle: the window-keyed aggregate, map-side partials. At
    scale a hop ratio of w/h multiplies shuffle input by w/h — keep the
    expansion before the PARTIAL aggregate (as here), never after."""
    e = _t(spark, sf_dir, "events").select(
        F.date_trunc("second", F.col("ts")).cast("timestamp").alias("s"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    win = F.window("s", "1 hour", "30 minutes")
    return (
        e.select(win.alias("w"), "cents")
        .groupBy((F.unix_micros(F.col("w.start")) / 1_000_000).cast("long").alias("ws"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").alias("cents"),
        )
    )


@query(
    "entropy_profile",
    oracle="""
    WITH et AS (SELECT event_type AS k, count(*) AS c FROM events GROUP BY 1),
    et_h AS (SELECT 'event_type' AS column_name,
                    CAST(count(*) AS BIGINT) AS n_distinct,
                    round(sum(-1.0 * c / t * log2(c * 1.0 / t)), 6) AS entropy_bits
             FROM et, (SELECT sum(c) AS t FROM et)),
    u AS (SELECT user_id AS k, count(*) AS c FROM events GROUP BY 1),
    u_h AS (SELECT 'user_id' AS column_name,
                   CAST(count(*) AS BIGINT) AS n_distinct,
                   round(sum(-1.0 * c / t * log2(c * 1.0 / t)), 6) AS entropy_bits
            FROM u, (SELECT sum(c) AS t FROM u)),
    d AS (SELECT CAST(ts AS DATE) AS k, count(*) AS c FROM events GROUP BY 1),
    d_h AS (SELECT 'event_date' AS column_name,
                   CAST(count(*) AS BIGINT) AS n_distinct,
                   round(sum(-1.0 * c / t * log2(c * 1.0 / t)), 6) AS entropy_bits
            FROM d, (SELECT sum(c) AS t FROM d))
    SELECT column_name, n_distinct, entropy_bits,
           round(entropy_bits / nullif(log2(n_distinct), 0), 6)
               AS norm_entropy
    FROM (SELECT * FROM et_h UNION ALL SELECT * FROM u_h
          UNION ALL SELECT * FROM d_h)
    """,
)
def q_entropy_profile(spark, sf_dir):
    """Shannon entropy per column (event_type, user_id, event_date):
    the information-content profile behind feature selection, anomaly
    baselines ("did today's traffic mix shift?"), and dedup-key choice
    — a near-zero-entropy key can't block anything.

    ONE fact scan profiles all three columns: GROUPING SETS expands each
    row map-side into its three key projections, and a single partial-agg
    shuffle collapses to the ~|keys| per-(column, key) counts — the same
    counts three per-column aggregates would compute with 3× the scan
    I/O. The entropy fold then runs on that tiny frame (per-column totals
    via a window over ≤20k rows, never a driver collect). Normalized
    entropy divides by log2(n_distinct) — 1.0 means uniform. Float
    discipline: p·log2 p sums over ≤20k terms accumulate ~1e-13 of order
    noise, absorbed by round-to-6 on both engines."""
    ev = _t(spark, sf_dir, "events")
    keyed = ev.select(
        "event_type", "user_id", F.col("ts").cast("date").alias("event_date")
    )
    counts = keyed.groupingSets(
        [["event_type"], ["user_id"], ["event_date"]],
        "event_type",
        "user_id",
        "event_date",
    ).agg(F.count(F.lit(1)).alias("c"), F.grouping_id().alias("gid"))
    # grouping_id bit = 1 when the column is NOT in the grouping set
    # (column order event_type,user_id,event_date): 3=0b011 → event_type
    name = (
        F.when(F.col("gid") == 3, F.lit("event_type"))
        .when(F.col("gid") == 5, F.lit("user_id"))
        .otherwise(F.lit("event_date"))
    )
    per = counts.select(name.alias("column_name"), "c").withColumn(
        "t", F.sum("c").over(Window.partitionBy("column_name"))
    )
    out = per.groupBy("column_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.round(
            F.sum(
                -F.col("c") / F.col("t") * F.log2(F.col("c") * 1.0 / F.col("t"))
            ),
            6,
        ).alias("entropy_bits"),
    )
    # single-valued column: entropy 0 / log2(1)=0 — both engines must
    # yield NULL, not Spark-NULL-vs-DuckDB-NaN (the week_over_week
    # zero-divide discipline)
    denom = F.when(F.col("n_distinct") > 1, F.log2(F.col("n_distinct")))
    return out.select(
        "column_name",
        "n_distinct",
        "entropy_bits",
        F.round(F.col("entropy_bits") / denom, 6).alias("norm_entropy"),
    )


@query(
    "winsorize_robust_scale",
    oracle="""
    WITH s AS (SELECT event_type,
                      round(quantile_cont(value, 0.05), 6) AS p05,
                      round(quantile_cont(value, 0.50), 6) AS p50,
                      round(quantile_cont(value, 0.95), 6) AS p95,
                      round(quantile_cont(value, 0.75)
                            - quantile_cont(value, 0.25), 6) AS iqr
               FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type,
           round(CASE WHEN e.value < s.p05 THEN s.p05
                      WHEN e.value > s.p95 THEN s.p95
                      ELSE e.value END, 6) AS value_wins,
           round((e.value - s.p50) / nullif(s.iqr, 0), 6) AS robust_z
    FROM events e JOIN s USING (event_type)
    """,
)
def q_winsorize_robust_scale(spark, sf_dir):
    """Winsorization + robust scaling per group: clamp values to the
    group's [p05, p95] and standardize as (x − median)/IQR — the
    outlier-proof normalization ML feature pipelines use where
    mean/stddev z-scores break on heavy tails (complements mad_outliers
    and zscore_outliers).

    The per-group stats frame is |event_types| rows → comes back onto
    the fact table as a BROADCAST join; the facts are scanned once and
    never shuffled. Exact percentiles keep oracle parity (both engines
    interpolate linearly); at 100 TB swap approx_percentile into the
    same shape (the describe_stats trade). Zero-IQR groups yield NULL
    robust_z on both sides (nullif / when-guard)."""
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    s = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.05)"), 6).alias("p05"),
        F.round(F.expr("percentile(value, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(
            F.expr("percentile(value, 0.75) - percentile(value, 0.25)"), 6
        ).alias("iqr"),
    )
    j = ev.join(F.broadcast(s), "event_type")
    clamped = (
        F.when(F.col("value") < F.col("p05"), F.col("p05"))
        .when(F.col("value") > F.col("p95"), F.col("p95"))
        .otherwise(F.col("value"))
    )
    iqr_nz = F.when(F.col("iqr") != 0, F.col("iqr"))
    return j.select(
        "event_id",
        "event_type",
        F.round(clamped, 6).alias("value_wins"),
        F.round((F.col("value") - F.col("p50")) / iqr_nz, 6).alias("robust_z"),
    )


# ===========================================================================
# Approximate query processing (sampled estimates with error bars)
# ===========================================================================


@query(
    "aqp_sampled_groupby",
    oracle="""
    WITH s AS (SELECT l_returnflag, l_quantity FROM lineitem
               WHERE CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)
                                             || '-'
                                             || CAST(l_linenumber AS VARCHAR)),
                                         1, 12) AS BIGINT) % 10 = 0),
    est AS (SELECT l_returnflag,
                   CAST(count(*) AS BIGINT) AS n_sample,
                   round(avg(l_quantity), 4) AS est_avg_qty,
                   round(stddev_samp(l_quantity) / sqrt(count(*)), 4)
                       AS stderr
            FROM s GROUP BY l_returnflag),
    ex AS (SELECT l_returnflag, round(avg(l_quantity), 4) AS exact_avg_qty
           FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n_sample, est_avg_qty, stderr, exact_avg_qty
    FROM est JOIN ex USING (l_returnflag)
    """,
)
def q_aqp_sampled_groupby(spark, sf_dir):
    """Approximate query processing (the BlinkDB recipe): grouped
    averages estimated from a deterministic ~10% hash sample, with the
    CLT standard error (s/√n) as the error bar a dashboard renders —
    the latency/accuracy dial for interactive exploration of a 100 TB
    table where even one full scan is too slow. The sample is the
    engine-portable md5 row-hash (sample_hash's discipline, salted with
    the line number so it is row-level, not order-level), so the SAME
    rows are sampled on any engine, any run — estimates are
    reproducible, unlike rand()-sampling. Exact averages ride along so
    the estimation error is itself oracle-checked data; the witness
    asserts every group's exact mean inside est ± 3·stderr. At scale
    the sample is a stored 10% companion table (amortized across all
    exploratory queries) and the error bars are what make it honest."""
    li = _t(spark, sf_dir, "lineitem")
    rowkey = F.concat(
        F.col("l_orderkey").cast("string"),
        F.lit("-"),
        F.col("l_linenumber").cast("string"),
    )
    bucket = (
        F.conv(F.substring(F.md5(rowkey), 1, 12), 16, 10).cast("long") % 10
    )
    s = li.filter(bucket == 0)
    est = s.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_sample"),
        F.round(F.avg("l_quantity"), 4).alias("est_avg_qty"),
        F.round(
            F.stddev_samp("l_quantity") / F.sqrt(F.count(F.lit(1))), 4
        ).alias("stderr"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.round(F.avg("l_quantity"), 4).alias("exact_avg_qty")
    )
    return est.join(exact, "l_returnflag")
