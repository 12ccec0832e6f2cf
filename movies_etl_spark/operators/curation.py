"""Training-data curation operators (north star, beyond the reference
surface): deterministic corpus splitting, per-group quota sampling,
benchmark decontamination, repetition-based quality signals, PII
redaction, and embedding quantization.

These are the operators a large-scale LLM training-data pipeline chains
after dedup (operators/dedup.py) and quality scoring (operators/text.py).
Design rules match the rest of the engine: pure codegen column
expressions wherever possible (zero Python on the hot path), md5-derived
hashing only (engine-portable, so the DuckDB oracles replicate the
algorithm), candidate generation always blocked/broadcast (never n²).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# word n-grams (string form, for containment / decontamination checks)
# ---------------------------------------------------------------------------


def word_ngrams(toks: Column, k: int) -> Column:
    """String word n-grams of ``toks`` ("a b c" for k=3), empty array when
    fewer than k tokens.

    Sliding window via iterated ``zip_with`` over shifted ``slice``s — NOT
    ``element_at`` inside a per-element lambda, which Catalyst inlines
    into every element access (O(n²); see dedup._shingle_hash_array_sql for
    the same pattern over integer hashes)."""
    n = F.size(toks)
    acc = toks
    for j in range(1, k):
        shifted = F.slice(toks, j + 1, n)
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.when(n >= k, F.slice(acc, 1, n - (k - 1))).otherwise(
        F.array().cast("array<string>")
    )


# ---------------------------------------------------------------------------
# deterministic hash bucketing (splits, sticky samples)
# ---------------------------------------------------------------------------


def hash_bucket(key: Column, n_buckets: int) -> Column:
    """Uniform bucket in [0, n_buckets) from md5 of the key's string form.

    Engine-portable (DuckDB: ``CAST('0x' || substr(md5(..), 1, 12) AS
    BIGINT) % n``) and stable across runs/engines/retries — the property
    that makes train/test membership reproducible at 100 TB, unlike
    ``rand()``-based sampling."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 12), 16, 10).cast("long")
        % n_buckets
    )


def hash_order(key: Column) -> Column:
    """Deterministic pseudo-random ordering key (full md5 hex — string
    comparison of lowercase hex is identical on any engine)."""
    return F.md5(key.cast("string"))


# ---------------------------------------------------------------------------
# distributed prefix sum (sequence packing)
# ---------------------------------------------------------------------------


def global_running_offset(df, n_col: str, shard_col: str, order_cols: list) -> "object":
    """Global exclusive running sum of ``n_col`` over the total order
    (shard asc, then ``order_cols`` within shard) WITHOUT a single-task
    global window — the classic two-phase distributed prefix sum:

    1. per-shard exclusive cumsum (one shuffle on the shard key, W
       parallel window tasks);
    2. shard totals (P rows) → exclusive prefix per shard (a window over
       a P-row frame — trivially small even at 100 TB);
    3. broadcast-join the shard prefixes back and add.

    A naive ``Window.orderBy(...)`` with no partition key funnels the
    whole corpus through ONE task; this shape keeps the heavy pass fully
    parallel and puts only P rows through the serial step. Adds a
    ``cum_before`` column."""
    from pyspark.sql import Window

    w_local = (
        Window.partitionBy(shard_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = df.withColumn(
        "_local_cum", F.sum(n_col).over(w_local) - F.col(n_col)
    )
    totals = df.groupBy(shard_col).agg(F.sum(n_col).alias("_shard_total"))
    w_shard = Window.orderBy(shard_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    prefixes = totals.withColumn(
        "_shard_prefix", F.sum("_shard_total").over(w_shard) - F.col("_shard_total")
    ).select(shard_col, "_shard_prefix")
    return (
        local.join(F.broadcast(prefixes), shard_col)
        .withColumn("cum_before", F.col("_shard_prefix") + F.col("_local_cum"))
        .drop("_local_cum", "_shard_prefix")
    )


# ---------------------------------------------------------------------------
# repetition signals (Gopher-style quality filters)
# ---------------------------------------------------------------------------


def duplicate_fraction(arr: Column) -> Column:
    """Fraction of array elements that are repeats of an earlier element:
    1 - distinct/total, 0.0 for empty arrays. Rounded to 4 places (the
    engine-wide float discipline for threshold comparisons)."""
    n = F.size(arr)
    return F.when(
        n > 0,
        F.round(1.0 - F.size(F.array_distinct(arr)) / n.cast("double"), 4),
    ).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

#: deliberately conservative common-subset regexes — identical semantics
#: under Java regex (Spark) and RE2 (DuckDB): no lookaround, no backrefs.
EMAIL_RE = r"[a-z0-9]+@[a-z]+\.[a-z]+"
PHONE_RE = r"\d{3}-\d{4}"


def redact_pii(c: Column) -> Column:
    """Replace emails then phone numbers with typed placeholder tokens."""
    return F.regexp_replace(
        F.regexp_replace(c, EMAIL_RE, "[EMAIL]"), PHONE_RE, "[PHONE]"
    )


def pii_count(c: Column) -> Column:
    """Number of PII spans that redact_pii would replace."""
    return (F.regexp_count(c, F.lit(EMAIL_RE)) + F.regexp_count(c, F.lit(PHONE_RE))).cast(
        "long"
    )


# ---------------------------------------------------------------------------
# embedding quantization (int8, symmetric per-vector)
# ---------------------------------------------------------------------------


def int8_scale(vec_d: Column) -> Column:
    """Per-vector symmetric quantization scale: max |v| / 127 (double).
    0.0 for the all-zero vector (quantized form is then all zeros)."""
    return F.array_max(F.transform(vec_d, lambda x: F.abs(x))) / F.lit(127.0)


def int8_quantize(vec_d: Column, scale: Column) -> Column:
    """Quantize to int8 levels: floor(v/scale + 0.5) — floor(+0.5) instead
    of round() because floor is defined identically on every engine
    (round's half-case tie-breaking is not). Exact IEEE parity with the
    DuckDB oracle: both sides divide the same float-derived doubles by
    the same scale."""
    return F.when(
        scale == 0.0,
        F.transform(vec_d, lambda x: F.lit(0).cast("int")),
    ).otherwise(
        F.transform(vec_d, lambda x: F.floor(x / scale + F.lit(0.5)).cast("int"))
    )
