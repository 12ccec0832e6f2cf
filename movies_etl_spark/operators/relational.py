"""Relational operators: joins with suffix handling, order-stable dedup,
precedence fills, projection/rename helpers (SURVEY.md §2.3/§2.5, P6-P8).

Scale notes baked in:
- `join_with_suffixes` broadcasts the small side when told to; at cluster
  scale AQE auto-converts sub-threshold sides anyway.
- `dedup_first_wins` is the one window-function use required for pandas
  parity (pandas `drop_duplicates` keeps the first row in file order;
  Spark's `dropDuplicates` keeps an arbitrary one). It shuffles once on
  the key — same cost class as `dropDuplicates` itself.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def join_with_suffixes(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    suffixes: tuple[str, str] = ("_x", "_y"),
    broadcast_right: bool = False,
) -> DataFrame:
    """J1: inner equi-join with pandas-style collision suffixes
    (reference: ``pd.merge(..., suffixes=['_wiki','_kaggle'])``,
    challenge.py:235). Spark has no suffix mechanism — colliding non-key
    columns are renamed before the join."""
    keys = [on] if isinstance(on, str) else list(on)
    collisions = (set(left.columns) & set(right.columns)) - set(keys)
    lsuf, rsuf = suffixes
    for c in collisions:
        left = left.withColumnRenamed(c, c + lsuf)
        right = right.withColumnRenamed(c, c + rsuf)
    if broadcast_right:
        right = F.broadcast(right)
    return left.join(right, keys, "inner")


def join_left_on_keys(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
) -> DataFrame:
    """J2: left equi-join on differently-named keys, dropping the right key
    (reference: ``pd.merge(..., left_on='kaggle_id', right_index=True,
    how='left')``, challenge.py:285 — the pandas index becomes an ordinary
    column in Spark)."""
    return left.join(
        right, left[left_key] == right[right_key], "left"
    ).drop(right[right_key])


def dedup_first_wins(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[str]
) -> DataFrame:
    """D1 (exact pandas parity): keep the FIRST row per key under a
    deterministic ordering (pandas ``drop_duplicates`` keeps first in file
    order; here ``order_by`` supplies the order, e.g. a monotonically
    increasing id captured at scan time). One shuffle on the keys."""
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        *[F.col(o) for o in order_by]
    )
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def select_reorder(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """P6: explicit fixed-order projection (challenge.py:249-254)."""
    return df.select(*[F.col(f"`{c}`") for c in columns])


def rename_columns(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """P8: bulk rename (challenge.py:256-271)."""
    return df.withColumnsRenamed(mapping)


def drop_columns(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """P7: drop redundant columns (challenge.py:237)."""
    return df.drop(*columns)


def snapshot_diff(
    old: DataFrame, new: DataFrame, key: str, value: str
) -> DataFrame:
    """Churn between two ``(key, value)`` snapshots: one full outer join
    on ``key``, then (key, status, old_<value>, new_<value>) for every
    key that changed. Key presence decides ``added`` (only in ``new``)
    and ``removed`` (only in ``old``). A key in both is ``changed`` when
    ``NOT old <=> new``, so null → value and value → null are changes
    and null → null is not. The unchanged-row filter runs before the
    projection, so the output is proportional to the churn."""
    o, n = F.col(f"o.{key}"), F.col(f"n.{key}")
    ov, nv = F.col(f"o.{value}"), F.col(f"n.{value}")
    return (
        old.alias("o")
        .join(new.alias("n"), o == n, "full_outer")
        .filter(o.isNull() | n.isNull() | ~ov.eqNullSafe(nv))
        .select(
            F.coalesce(o, n).alias(key),
            F.when(o.isNull(), "added")
            .when(n.isNull(), "removed")
            .otherwise("changed")
            .alias("status"),
            ov.alias(f"old_{value}"),
            nv.alias(f"new_{value}"),
        )
    )
