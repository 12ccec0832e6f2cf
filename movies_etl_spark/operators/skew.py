"""Skew mitigation (SURVEY §7.3.6 / north-star scale design): salted
two-stage aggregation and salted broadcast-join helpers.

When a groupBy key is heavily skewed (a handful of hot keys holding most
rows), the single hash-aggregate shuffle sends every hot-key row to one
reducer. Salting splits each key into ``n_salts`` sub-keys for a partial
aggregate, then reduces the partials in a second (tiny) aggregation —
bounded reducer fan-in at the cost of one extra small shuffle. AQE's
skew-join splitting covers JOIN skew automatically; aggregation skew
still needs the salt.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_groupby_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
) -> DataFrame:
    """Two-stage skew-safe aggregation over 16 salts.

    ``aggs`` maps output column → (input column, fn) with fn in
    {"sum", "count", "min", "max"} — the algebraic aggregates that
    decompose into partial/final pairs (count re-aggregates as sum).

    Stage 1 groups by (keys + random salt) — hot keys fan out over 16
    reducers; stage 2 groups by keys alone over 16 partial rows per
    key. The salt is random per row, which is safe
    because every listed aggregate is decomposable."""
    salted = df.withColumn(
        "__salt__", (F.rand(seed=42) * 16).cast("int")
    )
    partial_exprs: list[Column] = []
    final_exprs: list[Column] = []
    for out, (col, fn) in aggs.items():
        if fn == "count":
            partial_exprs.append(F.count(F.lit(1)).alias(f"__p_{out}"))
            final_exprs.append(F.sum(f"__p_{out}").alias(out))
        elif fn == "sum":
            partial_exprs.append(F.sum(col).alias(f"__p_{out}"))
            final_exprs.append(F.sum(f"__p_{out}").alias(out))
        elif fn == "min":
            partial_exprs.append(F.min(col).alias(f"__p_{out}"))
            final_exprs.append(F.min(f"__p_{out}").alias(out))
        elif fn == "max":
            partial_exprs.append(F.max(col).alias(f"__p_{out}"))
            final_exprs.append(F.max(f"__p_{out}").alias(out))
        else:
            raise ValueError(f"non-decomposable aggregate: {fn}")
    partial = salted.groupBy(*keys, "__salt__").agg(*partial_exprs)
    return partial.groupBy(*keys).agg(*final_exprs)


def salted_join_hot_keys(
    big: DataFrame,
    small: DataFrame,
    key: str,
    hot_keys: Sequence,
    n_salts: int = 16,
    broadcast_small: bool = True,
) -> DataFrame:
    """Manual skew-join: replicate the small side ``n_salts``× for the
    hot keys, salt the big side's hot rows, equi-join on (key, salt).
    Kept as the explicit form of what AQE skew-join does adaptively —
    useful when statistics are known ahead of time (e.g. a fixed head-key
    distribution in a production feed).

    Two execution modes:

    - ``broadcast_small=True`` (default): broadcast the replicated
      small side. Safe because callers pass a genuinely dimension-sized
      ``small`` (the contract of a skew JOIN mitigation — the big side
      salts, the small side replicates) and replication is bounded by
      ``n_salts``, so the payload stays dimension-scale. Contrast
      flagship_user_activity, where an unbounded-cardinality aggregate
      must NOT be broadcast. In this mode the broadcast itself already
      removes the key shuffle; the salt matters only for downstream
      (key, salt)-partitioned stages.
    - ``broadcast_small=False``: plain shuffle equi-join on
      (key, salt). This is where the salting IS the mechanism: a
      sort-merge join on the raw key would send every hot-key row to
      one reducer, while (key, salt) fans each hot key over ``n_salts``
      reducers — the mode to use when the small side exceeds broadcast
      budget (a replicated mid-size dimension) or when the engine's
      adaptive skew handling is unavailable/mis-estimating; proven with
      AQE off by the join_skew_salted query + balance test."""
    hot = F.array(*[F.lit(k) for k in hot_keys])
    big_salted = big.withColumn(
        "__salt__",
        F.when(
            F.array_contains(hot, F.col(key)),
            (F.rand(seed=42) * n_salts).cast("int"),
        ).otherwise(F.lit(0)),
    )
    salts = F.when(
        F.array_contains(hot, F.col(key)),
        F.sequence(F.lit(0), F.lit(n_salts - 1)),
    ).otherwise(F.array(F.lit(0)))
    small_rep = small.withColumn("__salt__", F.explode(salts))
    if broadcast_small:
        small_rep = F.broadcast(small_rep)
    out = big_salted.join(small_rep, [key, "__salt__"])
    return out.drop("__salt__")
