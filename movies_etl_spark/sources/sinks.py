"""Sinks: parquet primary, JDBC parity mode.

Reference behaviors covered (SURVEY.md §2.1):
  S5 sink_jdbc_overwrite      — full-table replace (challenge.py:293,295)
  S6 sink_jdbc_append_chunked — first chunk replaces, rest append
                                (challenge.py:299-314). In Spark the chunk
                                loop disappears: a partitioned scan feeding a
                                partitioned write is the same semantics with
                                no driver materialization; each output
                                partition opens its own connection.

At 100 TB the parquet path is the real sink (distributed columnar write);
JDBC is kept for parity and sized by ``numPartitions`` so a 1000-executor
write does not open 1000× too many connections.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(df: DataFrame, path: str) -> None:
    """Replace ``path`` with ``df`` as parquet."""
    df.write.mode("overwrite").parquet(path)


def write_parquet_then_append(first: DataFrame, rest: list[DataFrame], path: str) -> None:
    """S6 semantics: replace-then-append, without the reference's chunk loop.

    The reference re-read its CSV in 1M-row chunks (challenge.py:302) purely
    to bound driver memory; Spark's partitioned scan already streams, so a
    single overwrite write is the usual call. This helper keeps the
    replace/append contract for callers that genuinely arrive in batches.
    """
    first.write.mode("overwrite").parquet(path)
    for df in rest:
        df.write.mode("append").parquet(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    properties: dict[str, str] | None = None,
    num_partitions: int | None = None,
) -> None:
    """S5: JDBC write. ``num_partitions`` caps concurrent connections —
    at cluster scale an uncapped write opens one connection per task."""
    writer = df
    if num_partitions:
        writer = df.coalesce(num_partitions)
    writer.write.jdbc(url=url, table=table, mode=mode, properties=properties or {})
