"""The ratings aggregation block: groupBy → bucket counts → prefix →
fill → join (SURVEY.md §2.4 A1-A3 + F16 + J2; reference
challenge.py:276-285).

This is the only part of the reference touching the 26M-row table, and the
part whose Spark plan matters most at 100 TB:

- A1+A2 are ONE hash aggregate over ``movieId`` with one conditional count
  per rating bucket — ONE shuffle of (map-side partial) rows over the fact
  table. Spark's ``.pivot()`` would plan two aggregates with two
  Exchanges, first on ``(movieId, rating)`` and then on ``movieId``, even
  with an explicit value list.
- Before that shuffle the ratings are semi-joined against a broadcast of
  the movies' keys, so the partial aggregate and its Exchange carry only
  movies the final join can keep (a semi-join reducer): the reference
  counts ~45 K rated movies to keep 6 K of them.
- The counted result is dimension-sized (at most one row per movie) →
  broadcast-joined to the movies table, no second fact shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: the ten rating buckets (challenge.py:278-279; FIXTURES.md)
RATING_BUCKETS = [0.5, 1.0, 1.5, 2.0, 2.5, 3.0, 3.5, 4.0, 4.5, 5.0]


def groupby_count(df: DataFrame, keys: Sequence[str], alias: str = "count") -> DataFrame:
    """A1: count per key group (challenge.py:276). Partial (map-side)
    aggregation is automatic in Spark's hash aggregate."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias(alias))


def pivot_counts(
    df: DataFrame,
    group_key: str,
    pivot_key: str,
    values: Sequence,
    prefix: str = "",
    fill_zero: bool = True,
) -> DataFrame:
    """A2+A3+F16: count `pivot_key` values into one column each, one row
    per `group_key` (challenge.py:278-283).

    Same output as ``groupBy(group_key).pivot(pivot_key, values).count()``
    but planned as one aggregate with one Exchange (conditional
    aggregation). Pivot's matching rules are kept: each value is cast to
    the pivot column's type and compared null-safely, so a ``None`` value
    counts null keys. Empty buckets are 0 with ``fill_zero`` and null
    (pivot's own convention) without it. Column names are ``prefix`` + the
    pandas ``str(value)`` rendering (``str(0.5)='0.5'``,
    ``str(1.0)='1.0'``) for golden-output parity; every count is bigint."""
    key = F.col(pivot_key)
    key_type = df.schema[pivot_key].dataType
    agg = F.count if fill_zero else F.sum
    return df.groupBy(group_key).agg(
        *[
            agg(F.when(key.eqNullSafe(F.lit(v).cast(key_type)), 1)).alias(
                f"{prefix}{v}"
            )
            for v in values
        ]
    )


def rating_counts(ratings: DataFrame) -> DataFrame:
    """The reference's exact block: per-movie rating-bucket counts with
    nulls filled to 0 BEFORE the join (challenge.py:276-283 — movies with
    no ratings at all still get nulls post-join; see SURVEY F16 note)."""
    return pivot_counts(
        ratings, "movieId", "rating", RATING_BUCKETS, prefix="rating_", fill_zero=True
    )


def attach_rating_counts(movies: DataFrame, ratings: DataFrame) -> DataFrame:
    """J2: movies LEFT JOIN bucket counts on kaggle_id = movieId
    (challenge.py:285).

    Only ratings whose movieId matches a movie key are counted: a
    broadcast LEFT SEMI join on the same condition runs before the
    aggregate, so its one Exchange carries no count the left join would
    discard. Rows, names, bigint types and nullability equal the
    unfiltered join's. ``movies`` is read twice (keys and join side), so
    callers pass a cached frame when it is expensive to rebuild. The
    counts side is dimension-sized → broadcast."""
    keys = movies.select("kaggle_id")
    kept = ratings.join(
        F.broadcast(keys), ratings["movieId"] == keys["kaggle_id"], "left_semi"
    )
    counts = rating_counts(kept)
    return movies.join(
        F.broadcast(counts), movies["kaggle_id"] == counts["movieId"], "left"
    ).drop(counts["movieId"])
