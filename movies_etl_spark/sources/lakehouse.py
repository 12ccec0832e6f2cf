"""Lakehouse table formats — a gated Delta sink stub.

The v1 image ships no lakehouse jars; `write_delta` fails with a clear
message instead of a classpath error, and becomes real with the jar on
the classpath (`spark.jars.packages`). MERGE/SCD2 semantics are
emulated engine-side meanwhile (anti-join + union + window — see
`emulate_merge_into`).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


class LakehouseUnavailableError(RuntimeError):
    pass


def _require(module: str, package_hint: str):
    try:
        import importlib

        return importlib.import_module(module)
    except ImportError as exc:
        raise LakehouseUnavailableError(
            f"{module} not on the classpath; add {package_hint} via "
            "spark.jars.packages to enable this sink"
        ) from exc


def write_delta(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    _require("delta", "io.delta:delta-spark_2.13")
    df.write.format("delta").mode(mode).save(path)


def emulate_merge_into(
    target: DataFrame, updates: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """MERGE INTO without a lakehouse format: updated rows replace
    matching target rows, new rows append (upsert). Plan: union + window
    keep-latest — one shuffle on the keys; with a real Delta table this
    becomes a transactional MERGE."""
    tagged = target.withColumn("__src__", F.lit(0)).unionByName(
        updates.withColumn("__src__", F.lit(1))
    )
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(F.desc("__src__"))
    return (
        tagged.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__", "__src__")
    )
