"""The engine's session compresses shuffle, spill and broadcast blocks
with zstd, the codec it writes parquet with.

The byte bound is read through ``perfbench.probe.StatusProbe`` (imported,
as ``bench_reference_scale.py`` does). The quantile sketch's per-shard
rank window over 60,000 seeded values in 4 input partitions and 8 shards
(k=50) writes 507,991 shuffle bytes under Spark's default lz4 and 135,709
under zstd (local[4], 8 shuffle partitions); the bound sits between the
two.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from movies_etl_spark.operators.sketch import equidepth_centroids
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
