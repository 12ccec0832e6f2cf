"""Scalar expression library: messy-string → typed values, as NATIVE Spark
column expressions (SURVEY.md §2.6, ops F1-F18).

The reference implements these as pandas ``.str`` pipelines plus row-wise
Python lambdas (``parse_dollars`` applied per element at challenge.py:133,
row-wise ``apply`` at challenge.py:169,241). Here every one is a composed
``pyspark.sql.functions`` expression: JVM-side, whole-stage-codegen'd,
zero Python in the hot path — the single biggest idiomatic-Spark win for
scale (a per-row Python UDF over 100 TB is 10-100× slower than codegen).

All expressions are null-propagating: a null/unparseable input yields a
null output, matching pandas-NaN behavior where the reference relies on it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Regex vocabulary (reference: challenge.py:120-125)
# ---------------------------------------------------------------------------

_MONTHS = (
    "January|February|March|April|May|June|July|"
    "August|September|October|November|December"
)

#: the four date shapes — challenge.py:122-125. NB reference quirk kept
#: for parity: form one's day is `[123]\d` (10-39 only), so single-digit
#: days match neither form one nor form three and degrade to the bare-year
#: form four ("July 3, 1994" → "1994" → Jan 1, 1994).
DATE_FORM_ONE = rf"(?:{_MONTHS})\s[123]\d,\s\d{{4}}"  # "July 11, 1990"
DATE_FORM_TWO = r"\d{4}.[01]\d.[123]\d"  # "1990-07-11"
DATE_FORM_THREE = rf"(?:{_MONTHS})\s\d{{4}}"  # "July 1990"
DATE_FORM_FOUR = r"\d{4}"  # "1990"

#: running time: "1 hour 42 minutes" | "102 m(in/inutes)" — challenge.py:168
RUNNING_TIME_PATTERN = r"(\d+)\s*ho?u?r?s?\s*(\d*)|(\d+)\s*m"

IMDB_ID_PATTERN = r"(tt\d{7})"  # challenge.py:90


def _nullif_empty(c: Column) -> Column:
    """Spark's regexp_extract returns '' on no-match; pandas returns NaN.
    Normalize to null for parity."""
    return F.nullif(c, F.lit(""))


#: group delimiter for single-pass multi-group extraction; cannot collide
#: with captured content because no capture group in the fused patterns
#: below can match a control character.
_GSEP = "\x01"


def _extract_groups_bound(
    c: Column, alternation: str, n_groups: int, builder
) -> Column:
    """Single-pass multi-group extraction, BOUND to one per-row regex
    evaluation: ONE regexp_replace canonicalizes the first match of
    ``alternation`` into all its capture groups at once, where chained
    ``regexp_extract(c, pat, i)`` calls would re-run the same pattern
    over the full string once per group — the dominant cost of the
    parsing operators at scale (regex time ∝ passes × string length).
    ``builder`` receives a list of the captured-group columns ('' is
    normalized to null) and returns the final expression.

    The pattern wraps the alternation as ``^(?:[\\s\\S]*?(?:ALTS))?[\\s\\S]*$``:
    the optional shell means the replace ALWAYS applies (a no-match row
    yields all-empty groups → nulls, since Java substitutes '' for a
    non-participating group reference), ``^``-anchoring guarantees exactly
    one replacement, and the lazy prefix preserves regexp_extract's
    leftmost-first match semantics. ``[\\s\\S]`` rather than ``(?s)`` +
    ``.`` so any ``.`` INSIDE the alternation keeps its default
    doesn't-match-newline meaning.

    Why binding matters (measured): Spark's subexpression
    elimination deliberately skips CONDITIONALLY-evaluated subtrees —
    every `when` arm and every `coalesce` operand re-evaluates any
    shared subexpression it references. A fused-extract result consumed
    from 6 branch positions therefore re-ran the whole
    regexp_replace+split per position, which quietly rebuilt the exact
    multi-pass cost the fusion was designed to remove
    (parse_money_column measured 3.15 s at sf0.1; bound form 0.65 s,
    identical results; parse_date_column 1.19 → 0.57 s). Spark has no
    let-expression, so the binding rides a higher-order function: the
    split array becomes the element of a 1-element array literal and
    ``builder`` runs under ``transform``, whose lambda variable IS the
    once-evaluated value — branch arms then read the bound variable,
    not the regex lineage. Cost: one 1-element array allocation per
    row."""
    pat = rf"^(?:[\s\S]*?(?:{alternation}))?[\s\S]*$"
    repl = _GSEP.join(f"${i}" for i in range(1, n_groups + 1))
    parts = F.split(F.regexp_replace(c, pat, repl), _GSEP)

    def run(p):
        groups = [
            _nullif_empty(F.element_at(p, i)) for i in range(1, n_groups + 1)
        ]
        return builder(groups)

    return F.element_at(F.transform(F.array(parts), run), 1)


# ---------------------------------------------------------------------------
# F1-F4: extraction / cleanup
# ---------------------------------------------------------------------------


def extract_imdb_id(c: Column) -> Column:
    """F1: pull ``tt\\d{7}`` out of a URL (challenge.py:90)."""
    return _nullif_empty(F.regexp_extract(c, IMDB_ID_PATTERN, 1))


def join_list_cell(c: Column) -> Column:
    """F2: collapse an array-valued cell to a space-joined string
    (reference: ``' '.join(x) if type(x) == list else x``,
    challenge.py:131,144,156,167). Apply to ArrayType columns;
    for mixed string-or-array JSON columns see
    :func:`movies_etl_spark.operators.normalize.normalize_mixed_cell`."""
    return F.concat_ws(" ", c)


def strip_money_ranges(c: Column) -> Column:
    """F3: collapse "$79.6–$80.2 million" ranges to the upper value by
    replacing everything up to a hyphen/en/em-dash with "$"
    (challenge.py:132,145; negative lookahead keeps hyphenated words).
    NB: "$" is a group reference in Java replacement strings → escaped."""
    return F.regexp_replace(c, r"\$.*[-—–](?![a-z])", "\\$")


def strip_citations(c: Column) -> Column:
    """F4: remove "[n]" footnote markers (ETL.ipynb:3001, cell 38)."""
    return F.regexp_replace(c, r"\[\d+\]\s*", "")


# ---------------------------------------------------------------------------
# F5-F6: money parsing
# ---------------------------------------------------------------------------


#: fused F5+F6 alternation — the reference's two money forms
#: (challenge.py:120-121): "$21.4 million" / "$1.2 billion" (misspelling-
#: tolerant "milion"/"bilion" via ``illi?on``) and "$123,456,789" (1-3
#: leading digits then ,/. separated thousands, not followed by
#: " million"), with the branch-deciding pieces captured — (1) form-one
#: number, (2) form-one unit letter, (3) form-two digit string. ``(?i)`` is
#: scoped by Java to the enclosing group _extract_groups_bound wraps the
#: alternation in. Form one comes first, as in the reference; the leftmost
#: match still wins across forms, exactly like regexp_extract.
_MONEY_FUSED = (
    r"(?i)\$\s*(\d+\.?\d*)\s*([mb])illi?on"
    r"|\$\s*(\d{1,3}(?:[,\.]\d{3})+)(?!\s[mb]illion)"
)


def parse_money_column(c: Column) -> Column:
    """F3+F5+F6 composed: the reference's full box-office/budget pipeline
    (challenge.py:130-147): join list cells upstream, strip ranges,
    extract the money expression, convert to a double.

    Single-pass form: one range-strip regexp_replace plus ONE fused
    extraction via :func:`_extract_groups_bound`, where extracting the
    money expression and then parsing it would cost four more regex
    passes over the full string (extract + unit-extract + rlike + digit
    strip). Branch dispatch then happens on the short captured groups:
    a non-null unit group ⇔ form one matched first (reference's
    million/billion branches, challenge.py:104-112), a non-null comma
    group ⇔ form two (challenge.py:113-116). try_cast null-safes the
    reference's ``float()``-raises quirk on mixed separators like
    "1.234.567" (SURVEY §7.3.2). The extraction is BOUND to one
    evaluation: the branch dispatch references the groups from 6
    conditional positions, and unbound that re-ran the fused regex per
    position — see :func:`_extract_groups_bound` (3.15 → 0.65 s at
    sf0.1). tests/test_hypothesis_expr.py property-tests it against
    Python ``re`` over the same two forms.

    The unit group is compared as a letter (``isin("m", "M")``), never
    lowercased. Java's ``(?i)`` without ``UNICODE_CASE`` folds ASCII only,
    so the group holds ``m``, ``M``, ``b``, ``B`` or null. Lowering it
    would cost a cold JVM a one-time table: in Spark 4.1 the first
    ``Lower``/``Upper``/``InitCap`` a JVM evaluates runs the static
    initialiser of ``CollationAwareUTF8String``, which ICU-title-cases
    all 1,114,112 code points. Measured on 4 vCPUs, ``local[4]``, in a
    fresh JVM: the ``parse_money`` query over 15 K orders rows takes
    2.32-2.58 executor CPU-s cold with ``lower`` and 0.83-0.98 s with
    the letter test (0.14-0.22 s warm either way, 3 runs each); in the
    perfbench etl_reference trace (seed 7) clean_wiki takes 2.58 s with
    ``lower`` and 1.77 s without."""

    def build(g):
        g_num, g_unit, g_comma = g
        num = g_num.try_cast("double")
        plain = F.regexp_replace(g_comma, ",", "").try_cast("double")
        return (
            F.when(g_unit.isin("m", "M"), num * F.lit(1e6))
            .when(g_unit.isin("b", "B"), num * F.lit(1e9))
            .when(g_comma.isNotNull(), plain)
            .otherwise(F.lit(None).cast("double"))
        )

    return _extract_groups_bound(
        strip_money_ranges(c), _MONEY_FUSED, 3, build
    )


# ---------------------------------------------------------------------------
# F7-F10: dates & timestamps
# ---------------------------------------------------------------------------


def _bound_pydate(d: Column) -> Column:
    """Nullify parsed dates outside Python's representable range.

    Spark's proleptic-Gregorian calendar happily parses year 0
    (``try_to_timestamp("0000", "yyyy")``) and DateTimeFormatter's
    ``yyyy`` admits 5+ digit years, but ``datetime.date`` is bounded to
    [MINYEAR=1, MAXYEAR=9999] — an out-of-range value is not a wrong
    result but a driver-side CRASH (``DateType.fromInternal`` raises
    ``ValueError: ordinal must be >= 1``) the moment the column is
    collected or Arrow-converted. The reference's strptime/pandas path
    raises on the same inputs and degrades to NaT/None (challenge.py:157
    via ``pd.to_datetime``), so null is also the parity-correct value.
    Falsifying input: ``"00007"`` (form four grabs year 0)."""
    return F.when(
        (d >= F.lit("0001-01-01").cast("date"))
        & (d <= F.lit("9999-12-31").cast("date")),
        d,
    )


#: fused F7+F8 alternation: the four date shapes (challenge.py:157) in the
#: reference's priority order, each wrapped in its own capture group so
#: the matching FORM is known from which group participated.
_DATE_FUSED = (
    f"({DATE_FORM_ONE})|({DATE_FORM_TWO})|({DATE_FORM_THREE})|({DATE_FORM_FOUR})"
)


def parse_date_column(c: Column) -> Column:
    """F7+F8 composed: the reference's release-date pipeline
    (challenge.py:155-162).

    Single-pass form: ONE fused extraction via :func:`_extract_groups_bound`
    with one capture group per date shape, then a per-form
    ``try_to_timestamp`` — the matched form is known from which group
    participated, so each row attempts exactly one format. "Month YYYY"
    and bare "YYYY" default to day/month 1, matching pandas'
    ``to_datetime(..., infer_datetime_format=True)``.

    Per-form parsing equals the reference's extract-then-infer pipeline
    because Spark's non-legacy datetime parser rejects trailing text: a
    string of form k that its own format cannot parse (e.g. "July 39,
    1994" — the ``[123]\\d`` day quirk admits invalid days) is not
    parseable by any OTHER format either. The property test
    ``test_parse_date_matches_python_strptime``
    (tests/test_hypothesis_expr.py) checks the claim against Python
    ``re`` + ``strptime`` on each matched form, and the corpus in
    tests/test_expr_unit.py pins the quirks. The extraction is BOUND to
    one evaluation: coalesce operands are conditionally evaluated, so
    unbound the fused regex re-ran once per still-null operand — see
    :func:`_extract_groups_bound` (1.19 → 0.57 s at sf0.1)."""

    def build(g):
        g1, g2, g3, g4 = g
        # Each row matches exactly one fused group, so bounding the final
        # coalesce is equivalent to bounding each operand (and cheaper).
        return _bound_pydate(
            F.coalesce(
                F.try_to_timestamp(g1, F.lit("MMMM d, yyyy")).cast("date"),
                F.try_to_timestamp(g2, F.lit("yyyy-MM-dd")).cast("date"),
                F.try_to_timestamp(g3, F.lit("MMMM yyyy")).cast("date"),
                F.try_to_timestamp(g4, F.lit("yyyy")).cast("date"),
            )
        )

    return _extract_groups_bound(c, _DATE_FUSED, 4, build)


def to_date_std(c: Column) -> Column:
    """F9: ISO "yyyy-MM-dd" string → date (challenge.py:216); null on bad.

    Bounded to Python-representable years: "0000-01-31" parses in Spark's
    proleptic calendar but crashes ``DateType.fromInternal``; the
    reference's parser raises → NaT (see :func:`_bound_pydate`)."""
    return _bound_pydate(F.try_to_timestamp(c, F.lit("yyyy-MM-dd")).cast("date"))


#: epoch-second bounds for :func:`from_unix_seconds` — the timestamp
#: twin of :func:`_bound_pydate`'s year range, with an asymmetric guard
#: band inside [0001-01-01T00:00:00Z, 9999-12-31T23:59:59Z]. The crash
#: site is ``TimestampType.fromInternal`` → ``datetime.fromtimestamp``
#: with the DRIVER PROCESS's OS timezone (``TZ``), which the engine
#: cannot pin (``spark.sql.session.timeZone=UTC`` does not reach it), so
#: the band must hold under EVERY OS zone:
#:
#: - lower: CPython's ``fromtimestamp`` probes ``t − 24 h`` in local time
#:   for fold detection, so the unrepresentable window is 24 h PLUS the
#:   zone's year-1 LMT west offset (probed: America/New_York crashes
#:   up to exact_min + 104 162 s = 24 h + 4:56:02 — a one-day band
#:   leaks there). LMT offsets are longitude-bound (≤ ~12 h), so a
#:   2-day band covers fold-probe + any west offset.
#: - upper: no probe (it looks into the past), only the zone's year-9999
#:   east offset (≤ +14 h, Pacific/Kiritimati) — one day suffices.
#:
#: Both bounds verified against all 599 IANA zones via TZ+tzset over
#: ``TimestampType.fromInternal`` (test_expr_unit.py pins the sweep).
#: The band trims values the reference could never produce anyway
#: (pandas unit='s' raises beyond year 2262).
UNIX_SECONDS_MIN = -62_135_424_000  # 0001-01-03T00:00:00Z
UNIX_SECONDS_MAX = 253_402_214_399  # 9999-12-30T23:59:59Z


def from_unix_seconds(c: Column) -> Column:
    """F10: epoch seconds → timestamp (challenge.py:226); null outside
    the Python-representable instant range.

    Same crash class as the F7-F9 year-0 bug (see :func:`_bound_pydate`), three
    flavors probed: |v|·10⁶ beyond Long.MAX throws ``ArithmeticException:
    long overflow`` INSIDE ``timestamp_seconds``'s codegen — an
    executor-side job abort, so the guard must gate the INPUT (CASE WHEN
    branches evaluate lazily in codegen), not the result; year ≥ 10000
    and year ≤ 0 crash ``TimestampType.fromInternal`` at collect. The
    reference's ``pd.to_datetime(unit='s')`` raises OutOfBoundsDatetime
    far earlier (datetime64[ns]: years 1677-2262), so null is the
    fault-tolerant superset — in-range behavior is identical."""
    return F.when(
        (c >= F.lit(UNIX_SECONDS_MIN)) & (c <= F.lit(UNIX_SECONDS_MAX)),
        F.timestamp_seconds(c),
    )


#: epoch-micros twin of UNIX_SECONDS_MIN/MAX (same asymmetric guard
#: band, same rationale — see the bounds comment above).
UNIX_MICROS_MIN = UNIX_SECONDS_MIN * 1_000_000
UNIX_MICROS_MAX = UNIX_SECONDS_MAX * 1_000_000 + 999_999


def from_unix_micros(c: Column) -> Column:
    """Epoch microseconds → timestamp; null outside the Python-representable
    instant range (the micros twin of :func:`from_unix_seconds`).

    Unlike the seconds form there is no overflow flavor — ``timestamp_micros``
    is the identity into the internal int64 — so the gate exists purely for
    ``TimestampType.fromInternal`` representability at collect (plus the
    documented session-tz rendering band). Built for int64 timestamp
    transport across Arrow/pandas kernels: pandas ``datetime64[ns]`` spans
    only [1677-09-21, 2262-04-11], so shipping a raw TIMESTAMP column into
    ``applyInPandas``/``mapInPandas`` crashes executor-side (Arrow
    ``OutOfBoundsDatetime``) on values Spark itself collects fine — carry
    ``unix_micros`` longs through the kernel instead and rebuild the
    timestamp with this builder on the way out (probed empirically)."""
    return F.when(
        (c >= F.lit(UNIX_MICROS_MIN)) & (c <= F.lit(UNIX_MICROS_MAX)),
        F.timestamp_micros(c),
    )


def bounded_date_add(d: Column, days) -> Column:
    """Total day-offset arithmetic: ``date_add`` that nulls instead of
    crashing when the offset crosses Python's date range.

    ``date_add`` is the one temporal derivation in the engine that maps
    an IN-RANGE input to an out-of-range output (the F7-F10 guards all
    gate parse/construct paths): internally a date is bare int32 days,
    so ``date_add(9999-12-15, 30)`` succeeds in the JVM and then crashes
    ``DateType.fromInternal`` at collect/Arrow time (``ValueError: year
    10000 is out of range``; symmetric ``ordinal must be >= 1`` below
    0001-01-01 — both probed empirically). Same contract as
    :func:`_bound_pydate`: null is the fault-tolerant superset, in-range
    behavior identical, and the comparison itself is int-safe on
    out-of-range internals (no ``fromInternal`` until collect)."""
    return _bound_pydate(F.date_add(d, days))


# ---------------------------------------------------------------------------
# F11: running time
# ---------------------------------------------------------------------------


def parse_running_time(c: Column) -> Column:
    """F11: running-time string → minutes as double (challenge.py:166-174).

    Three capture groups from RUNNING_TIME_PATTERN: (hours, minutes-after-
    hours, bare-minutes). The reference coerces each to numeric, fills NaN
    with 0, then computes ``g1*60 + g2 if g3 == 0 else g3`` row-wise; here
    that is a single native expression."""
    # Deliberately NOT fused through _extract_groups_bound: measured 2× slower
    # here (10.9 s vs 5.3 s at sf0.1) — on very short inputs the wrapped
    # replace+split+element_at machinery costs more than the two extra
    # find() passes it saves. Fusion pays off only when pattern passes over
    # LONG strings dominate (parse_money_column, parse_date_column).
    g1 = F.coalesce(
        _nullif_empty(F.regexp_extract(c, RUNNING_TIME_PATTERN, 1)).try_cast("double"),
        F.lit(0.0),
    )
    g2 = F.coalesce(
        _nullif_empty(F.regexp_extract(c, RUNNING_TIME_PATTERN, 2)).try_cast("double"),
        F.lit(0.0),
    )
    g3 = F.coalesce(
        _nullif_empty(F.regexp_extract(c, RUNNING_TIME_PATTERN, 3)).try_cast("double"),
        F.lit(0.0),
    )
    out = F.when(g3 == 0, g1 * 60 + g2).otherwise(g3)
    # A cell matching neither alternative is all-zeros in the reference
    # (NaN-filled), producing 0.0 — but a *null* input stays null.
    return F.when(c.isNull(), F.lit(None).cast("double")).otherwise(out)


# ---------------------------------------------------------------------------
# F12-F18: casts, conditionals, arithmetic
# ---------------------------------------------------------------------------


def cast_int(c: Column) -> Column:
    """F12: string → int, null on bad (reference ``astype(int)`` raises;
    drop-on-failure semantics live in
    operators.normalize.validated_cast_many)."""
    return c.try_cast("int")


def cast_long(c: Column) -> Column:
    """F13: string → long (``pd.to_numeric(errors='raise')``,
    challenge.py:199)."""
    return c.try_cast("long")


def cast_double(c: Column) -> Column:
    """F13: string → double (challenge.py:206)."""
    return c.try_cast("double")


def cast_bool_eq(c: Column, truthy: str = "True") -> Column:
    """F14: ``col == 'True'`` → boolean (challenge.py:183)."""
    return c == F.lit(truthy)


def fill_if_zero(keep: Column, fallback: Column) -> Column:
    """F15: column-pair precedence — keep the kaggle value unless it is 0,
    then take the wiki value (challenge.py:240-246). ``keep == 0`` is false
    for null keep → null stays null, matching pandas."""
    return F.when(keep == 0, fallback).otherwise(keep)
