"""Expression-library queries (SURVEY.md §2.6 F1-F11): regex parsing of
messy strings, verified end-to-end against ground truth.

Strategy: each query SYNTHESIZES messy strings deterministically from the
structured test tables (so both engines see identical inputs), runs the
engine's parsing expressions on them, and the oracle computes the expected
value DIRECTLY from the structured source — testing the whole regex chain
against ground truth rather than against another regex engine (DuckDB's
RE2 lacks lookaheads; ground-truth oracles sidestep the dialect gap).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from movies_etl_spark.functions import expr as E
from movies_etl_spark.plans.registry import _t, query


@query(
    "regexp_extract_id",
    oracle="""
    SELECT p_partkey,
           'tt' || lpad(CAST(p_partkey % 10000000 AS VARCHAR), 7, '0') AS imdb_id
    FROM part
    """,
)
def q_regexp_extract_id(spark, sf_dir):
    """F1 (challenge.py:90): extract tt\\d{7} from a URL built around the
    key; expected value is recomputed directly from the key."""
    p = _t(spark, sf_dir, "part")
    tt = F.concat(
        F.lit("tt"), F.lpad((F.col("p_partkey") % 10000000).cast("string"), 7, "0")
    )
    url = F.concat(F.lit("https://www.imdb.com/title/"), tt, F.lit("/"))
    return p.select("p_partkey", E.extract_imdb_id(url).alias("imdb_id"))


@query(
    "join_list_cell",
    oracle="""
    SELECT doc_id,
           array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ') AS first5
    FROM documents
    """,
)
def q_join_list_cell(spark, sf_dir):
    """F2 (challenge.py:131): array cell → space-joined string (here via a
    real ArrayType column made by splitting, then sliced and re-joined)."""
    d = _t(spark, sf_dir, "documents")
    arr = F.slice(F.split(F.col("text"), " "), 1, 5)
    return d.select("doc_id", E.join_list_cell(arr).alias("first5"))


@query(
    "strip_citations",
    oracle="""
    SELECT p_partkey, p_name || ' end' AS cleaned
    FROM part
    """,
)
def q_strip_citations(spark, sf_dir):
    """F4 (ETL.ipynb:3001): remove [n] footnote markers; ground truth is
    the string rebuilt without the marker."""
    p = _t(spark, sf_dir, "part")
    noisy = F.concat(
        F.col("p_name"), F.lit(" ["), F.col("p_size").cast("string"), F.lit("] end")
    )
    return p.select("p_partkey", E.strip_citations(noisy).alias("cleaned"))


@query(
    "parse_money",
    oracle="""
    SELECT o_orderkey,
           CASE o_orderkey % 5
             WHEN 0 THEN round(CAST(CAST(o_totalprice / 1000 AS VARCHAR)
                                     AS DECIMAL(38,18)), 1) * 1e6
             WHEN 1 THEN round(CAST(CAST(o_totalprice / 100000 AS VARCHAR)
                                     AS DECIMAL(38,18)), 2) * 1e9
             WHEN 2 THEN CAST(CAST(round(o_totalprice) AS BIGINT) + 1000 AS DOUBLE)
             WHEN 3 THEN round(CAST(CAST(o_totalprice / 1000 AS VARCHAR)
                                     AS DECIMAL(38,18)), 1) * 1e6
             ELSE NULL
           END AS amount
    FROM orders
    """,
)
def q_parse_money(spark, sf_dir):
    """F3+F5+F6 (challenge.py:120-147): the full money pipeline — range
    stripping, two-form extraction, parse_dollars conversion — over five
    deterministic input shapes per key mod 5:

      0: "$X million"            → X*1e6
      1: "$X billion"            → X*1e9
      2: "$#,###,###"            → plain float (amount forced ≥1000: money
         form two REQUIRES a thousands separator, so a sub-1000 synth
         would correctly parse to null and diverge from the oracle)
      3: "$A–$B million" (range) → upper bound B*1e6 (F3 strips "$A–")
      4: "N/A"                   → null

    Spark's ``round`` of a double rounds its shortest decimal string half
    up (443500.00 / 100000 = 4.435 → 4.44), while DuckDB's rounds the
    binary double (4.43). The oracle therefore rounds the quotient's
    shortest string as a DECIMAL in the branches that divide.
    """
    o = _t(spark, sf_dir, "orders")
    mod = F.col("o_orderkey") % 5
    mil = F.round(F.col("o_totalprice") / 1000, 1)
    bil = F.round(F.col("o_totalprice") / 100000, 2)
    whole = F.round(F.col("o_totalprice")).cast("bigint") + 1000
    lower = F.round(F.col("o_totalprice") / 2000, 1)
    s = (
        F.when(mod == 0, F.concat(F.lit("$"), mil.cast("string"), F.lit(" million")))
        .when(mod == 1, F.concat(F.lit("$"), bil.cast("string"), F.lit(" billion")))
        .when(mod == 2, F.concat(F.lit("$"), F.format_number(whole, 0)))
        .when(
            mod == 3,
            # wiki range style: "$23.5–46.9 million" (no second $)
            F.concat(
                F.lit("$"), lower.cast("string"), F.lit("–"),
                mil.cast("string"), F.lit(" million"),
            ),
        )
        .otherwise(F.lit("N/A"))
    )
    return o.select("o_orderkey", E.parse_money_column(s).alias("amount"))


@query(
    "parse_date_multiform",
    oracle="""
    SELECT o_orderkey,
           CAST(CASE o_orderkey % 4
             WHEN 0 THEN CASE WHEN CAST(strftime(o_orderdate, '%d') AS INTEGER) >= 10
                              THEN CAST(o_orderdate AS DATE)
                              ELSE CAST(date_trunc('year', o_orderdate) AS DATE) END
             WHEN 1 THEN CASE WHEN CAST(strftime(o_orderdate, '%d') AS INTEGER) >= 10
                              THEN CAST(o_orderdate AS DATE)
                              ELSE CAST(date_trunc('year', o_orderdate) AS DATE) END
             WHEN 2 THEN CAST(date_trunc('month', o_orderdate) AS DATE)
             ELSE CAST(date_trunc('year', o_orderdate) AS DATE)
           END AS TIMESTAMP) AS parsed_date
    FROM orders
    """,
)
def q_parse_date_multiform(spark, sf_dir):
    """F7+F8 (challenge.py:122-125,155-162): four date string shapes per
    key mod 4 — "Month D, YYYY" | "yyyy-MM-dd" | "Month YYYY" | "YYYY" —
    parsed back; partial forms truncate to month/year start (pandas
    to_datetime default-fills day and month with 1).

    Reference quirk reproduced (and encoded in the oracle): forms one and
    two only match days 10+ (`[123]\\d` / `[123]\\d`), so single-digit
    days degrade to the bare-year form → Jan 1 of the year."""
    o = _t(spark, sf_dir, "orders")
    mod = F.col("o_orderkey") % 4
    d = F.col("o_orderdate")
    s = (
        F.when(mod == 0, F.date_format(d, "MMMM d, yyyy"))
        .when(mod == 1, F.date_format(d, "yyyy-MM-dd"))
        .when(mod == 2, F.date_format(d, "MMMM yyyy"))
        .otherwise(F.date_format(d, "yyyy"))
    )
    return o.select(
        "o_orderkey", E.parse_date_column(s).cast("timestamp").alias("parsed_date")
    )


@query(
    "parse_running_time",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(CASE CAST(l_quantity AS BIGINT) % 4
             WHEN 0 THEN CAST(l_quantity AS BIGINT)
             WHEN 1 THEN (CAST(l_quantity AS BIGINT) % 4 + 1) * 60 + CAST(l_quantity AS BIGINT)
             WHEN 2 THEN (CAST(l_quantity AS BIGINT) % 4 + 1) * 60
             ELSE CAST(l_quantity AS BIGINT)
           END AS DOUBLE) AS minutes
    FROM lineitem
    """,
)
def q_parse_running_time(spark, sf_dir):
    """F11 (challenge.py:166-174): four running-time shapes per qty mod 4:

      0: "Q minutes"          → Q
      1: "H hours Q minutes"  → H*60+Q   (H = qty%4+1 = 2)
      2: "H hr"               → H*60     (H = qty%4+1 = 3)
      3: "approx. Q min"      → Q

    parsed by the three-group extract + conditional combine."""
    li = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("bigint")
    mod = q % 4
    h = (mod + 1).cast("string")
    qs = q.cast("string")
    s = (
        F.when(mod == 0, F.concat(qs, F.lit(" minutes")))
        .when(mod == 1, F.concat(h, F.lit(" hours "), qs, F.lit(" minutes")))
        .when(mod == 2, F.concat(h, F.lit(" hr")))
        .otherwise(F.concat(F.lit("approx. "), qs, F.lit(" min")))
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        E.parse_running_time(s).alias("minutes"),
    )


@query(
    "strip_money_ranges",
    oracle="""
    SELECT o_orderkey,
           '$' || CAST(round(o_totalprice / 1000, 1) AS VARCHAR) || ' million' AS cleaned
    FROM orders
    """,
)
def q_strip_money_ranges(spark, sf_dir):
    """F3 standalone (challenge.py:132,145): "$A–B million" → "$B million"
    (everything through the dash collapses to '$'); ground truth rebuilt
    from the upper bound directly."""
    o = _t(spark, sf_dir, "orders")
    lower = F.round(F.col("o_totalprice") / 2000, 1)
    upper = F.round(F.col("o_totalprice") / 1000, 1)
    ranged = F.concat(
        F.lit("$"), lower.cast("string"), F.lit("–"),
        upper.cast("string"), F.lit(" million"),
    )
    return o.select(
        "o_orderkey", E.strip_money_ranges(ranged).alias("cleaned")
    )


@query(
    "validated_cast",
    oracle="""
    SELECT o_orderkey,
           CAST(round(o_totalprice) AS BIGINT) AS price_ok
    FROM orders
    """,
)
def q_validated_cast(spark, sf_dir):
    """§2.8 validate-then-commit fault tolerance, driver-visible
    (reference: the try/except column-drop wrappers at challenge.py:129-230).

    Three synthesized columns exercise all three outcomes of
    :func:`movies_etl_spark.operators.normalize.validated_cast_many` in
    ONE validation pass:

    - ``price_ok``      — every row parses     → survives, typed
    - ``price_corrupt`` — "N/A" on key%97 rows → ``fail_when='any'`` drops
    - ``date_dead``     — digit-free garbage   → ``fail_when='all'`` drops

    The survivor schema is deterministic, so the oracle states it
    directly: the key plus the typed ``price_ok``."""
    from movies_etl_spark.operators.normalize import validated_cast_many

    o = _t(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    num = F.round(F.col("o_totalprice")).cast("bigint").cast("string")
    corrupt = F.when(key % 97 == 0, F.lit("N/A")).otherwise(num)
    # digit-free so no substring can satisfy even the bare-year date form
    dead = F.concat(
        F.lit("tba-"),
        F.translate(key.cast("string"), "0123456789", "abcdefghij"),
    )
    staged = o.select(
        key.alias("o_orderkey"),
        num.alias("price_ok"),
        corrupt.alias("price_corrupt"),
        dead.alias("date_dead"),
    )
    out, _stats = validated_cast_many(
        staged,
        {
            "price_ok": (F.col("price_ok").try_cast("bigint"), "any"),
            "price_corrupt": (F.col("price_corrupt").try_cast("bigint"), "any"),
            "date_dead": (E.parse_date_column(F.col("date_dead")), "all"),
        },
    )
    return out
