"""The engine's storage format: zstd for parquet pages and for shuffle,
spill and broadcast blocks, and parquet timestamps as INT64 microseconds
adjusted to UTC, with statistics.

The byte bound is read through ``perfbench.probe.StatusProbe`` (imported,
as ``bench_reference_scale.py`` does). The quantile sketch's per-shard
rank window over 60,000 seeded values in 4 input partitions and 8 shards
(k=50) writes 507,991 shuffle bytes under Spark's default lz4 and 135,709
under zstd (local[4], 8 shuffle partitions); the bound sits between the
two.
"""

from __future__ import annotations

import datetime as dt
import glob
import json

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from movies_etl_spark.functions import expr as E
from movies_etl_spark.operators.sketch import equidepth_centroids
from movies_etl_spark.sources import sinks
from perfbench.probe import StatusProbe

SHUFFLE_WRITE_BOUND = 300_000


def test_blocks_use_the_engine_codec(spark):
    assert spark.sparkContext.getConf().get("spark.io.compression.codec") == "zstd"
    assert spark.conf.get("spark.sql.parquet.compression.codec") == "zstd"

    df = spark.range(0, 60_000, 1, 4).select(
        (F.col("id") % 8).alias("shard"),
        F.pmod(F.col("id") * 2_654_435_761, F.lit(100_003)).alias("v"),
    )
    probe = StatusProbe(spark)
    mark = probe.mark()
    rows = equidepth_centroids(df, "v", "shard", k=50).collect()
    c = probe.since(mark)
    assert len(rows) == 8 * 50
    assert sum(r["w"] for r in rows) == 60_000
    assert 0 < c.shuffle_write_bytes < SHUFFLE_WRITE_BOUND, c


def test_timestamps_are_int64_micros_with_statistics(spark, tmp_path):
    """Spark's default INT96 has no statistics, and pyarrow reads its
    year-1 instant back as 1754; the engine's int64 micros keep every
    instant ``from_unix_seconds`` lets through."""
    assert spark.conf.get("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS"

    seconds = [E.UNIX_SECONDS_MIN, 1_500_000_000, E.UNIX_SECONDS_MAX]
    df = spark.createDataFrame([(s,) for s in seconds], "s bigint").select(
        E.from_unix_seconds(F.col("s")).alias("ts")
    )
    path = str(tmp_path / "ts")
    sinks.write_parquet(df.coalesce(1), path)

    (part,) = glob.glob(f"{path}/part-*.parquet")
    meta = pq.ParquetFile(part).metadata
    col = meta.schema.column(0)
    assert col.physical_type == "INT64"
    logical = json.loads(col.logical_type.to_json())
    assert (logical["Type"], logical["isAdjustedToUTC"], logical["timeUnit"]) == (
        "Timestamp", True, "microseconds"
    )
    utc = dt.timezone.utc
    first, last = (dt.datetime(1, 1, 3, tzinfo=utc),
                   dt.datetime(9999, 12, 30, 23, 59, 59, tzinfo=utc))
    stats = meta.row_group(0).column(0).statistics
    assert stats is not None and stats.has_min_max
    assert (stats.min, stats.max) == (first, last)

    epoch = dt.datetime(1970, 1, 1, tzinfo=utc)
    arrow = [
        (t - epoch) // dt.timedelta(microseconds=1)
        for t in pq.read_table(path).column("ts").to_pylist()
    ]
    collected = [
        r[0] for r in spark.read.parquet(path).select(F.unix_micros("ts")).collect()
    ]
    assert sorted(arrow) == sorted(collected) == [s * 1_000_000 for s in seconds]
