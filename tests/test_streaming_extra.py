"""Streaming extras: watermark append-mode semantics, foreachBatch sink,
MERGE emulation."""

from __future__ import annotations

from pyspark.sql import functions as F

from movies_etl_spark.streaming import ops


def test_watermark_append_emits_finalized_subset(spark, sf_dir):
    complete = ops.windowed_counts(spark, sf_dir).select(
        "window_start", "event_type", "cnt"
    )
    appended = ops.windowed_counts_watermarked(spark, sf_dir, watermark="2 hours")
    comp = {(r["window_start"], r["event_type"]): r["cnt"] for r in complete.collect()}
    app = {(r["window_start"], r["event_type"]): r["cnt"] for r in appended.collect()}
    # single-batch bounded input: watermark never advances past data the
    # batch itself observed → append emits a (possibly empty) subset,
    # and every emitted window is finalized and exact
    assert set(app) <= set(comp)
    for k, v in app.items():
        assert comp[k] == v


def test_foreach_batch_sink_roundtrip(spark, sf_dir, tmp_path):
    target = str(tmp_path / "fb")
    n_batches = ops.foreach_batch_to_parquet(spark, sf_dir, target)
    assert n_batches >= 1
    written = spark.read.parquet(f"{target}/batch=*")
    from movies_etl_spark.sources import readers

    n_events = readers.load_table(spark, sf_dir, "events").count()
    assert written.count() == n_events


def test_emulate_merge_into(spark):
    from movies_etl_spark.sources.lakehouse import emulate_merge_into

    target = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"
    )
    updates = spark.createDataFrame(
        [(2, "b2"), (3, "c")], "id long, v string"
    )
    out = {r["id"]: r["v"] for r in emulate_merge_into(target, updates, ["id"]).collect()}
    assert out == {1: "a", 2: "b2", 3: "c"}


def test_lakehouse_gated(spark):
    import pytest

    from movies_etl_spark.sources.lakehouse import (
        LakehouseUnavailableError,
        write_delta,
    )

    df = spark.range(1)
    with pytest.raises(LakehouseUnavailableError):
        write_delta(df, "/tmp/never")


def test_stream_source_dir_self_heals_and_keys_by_full_path(tmp_path):
    """ADVICE r1: the scratch dir must key on the RESOLVED sf_dir (two
    datasets sharing a basename must not alias), and a dangling leftover
    symlink must be replaced, not raise FileExistsError."""
    import os

    from movies_etl_spark.streaming.ops import _stream_source_dir

    a = tmp_path / "x" / "sf0.001"
    b = tmp_path / "y" / "sf0.001"
    for d in (a, b):
        d.mkdir(parents=True)
        (d / "events.parquet").write_bytes(b"")
    da, db = _stream_source_dir(str(a)), _stream_source_dir(str(b))
    assert da != db, "same-basename datasets must not share scratch"
    assert os.readlink(f"{da}/events.parquet").startswith(str(tmp_path))
    # dangling leftover: point the link at something then delete the target
    (a / "events.parquet").unlink()
    da2 = _stream_source_dir(str(a))  # must not raise despite dangling link
    assert da2 == da


def test_checkpoint_restart_resumes_without_reprocessing(spark, sf_dir, tmp_path):
    """The checkpoint half of the exactly-once contract (the sink half is
    streaming_foreach_batch_sink's idempotent batch addressing): a stream
    stopped after batch 1 and RESTARTED with the same checkpoint must
    process only the files that arrived while it was down — source
    offsets come from the checkpoint, so nothing is re-emitted and
    nothing is lost."""
    src = tmp_path / "src"
    sink = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    from movies_etl_spark.sources import readers

    ev = readers.load_table(spark, sf_dir, "events").select("event_id", "user_id")
    part1 = ev.filter(F.col("event_id") % 2 == 0)
    part2 = ev.filter(F.col("event_id") % 2 == 1)
    part1.coalesce(1).write.mode("overwrite").parquet(str(src / "p1"))

    def run_once():
        stream = (
            spark.readStream.schema("event_id BIGINT, user_id BIGINT")
            .option("recursiveFileLookup", "true")
            .format("parquet")
            .load(str(src))
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n1 = spark.read.parquet(str(sink)).count()
    assert n1 == part1.count()
    # files arriving while the stream is down
    part2.coalesce(1).write.mode("overwrite").parquet(str(src / "p2"))
    run_once()
    out = spark.read.parquet(str(sink))
    assert out.count() == ev.count(), "resume must add only the new files"
    assert out.select("event_id").distinct().count() == ev.count(), (
        "no event may be emitted twice across the restart"
    )


def test_incremental_rollup_is_actually_incremental(spark, sf_dir, tmp_path):
    """The maintenance must run across MULTIPLE micro-batches (one per
    source file) and leave a version per batch — otherwise the query
    degenerates to a single batch aggregate and the merge path is
    untested. Also: the final version equals the direct batch aggregate."""
    import glob

    from pyspark.sql import functions as F

    from movies_etl_spark.sources import readers
    from movies_etl_spark.streaming import ops

    work = str(tmp_path / "inc")
    out = ops.incremental_hourly_rollup(spark, sf_dir, work, n_source_files=4)
    versions = sorted(glob.glob(f"{work}/agg/v=*"))
    assert len(versions) >= 2, versions
    direct = (
        readers.load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", F.date_trunc("second", F.col("ts")))
            .cast("timestamp")
            .alias("h")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
    )
    got = {tuple(r) for r in out.collect()}
    want = {tuple(r) for r in direct.collect()}
    assert got == want


def test_incremental_rollup_retry_does_not_double_count(spark, tmp_path):
    """A micro-batch that retries AFTER its versioned write succeeded
    (checkpoint commit failed) must regenerate v=batch_id from the
    version strictly below it — not merge into its own output. The
    previous in-process-dict implementation double-counted here."""
    from pyspark.sql import functions as F

    from movies_etl_spark.streaming.ops import _merge_versioned

    work = str(tmp_path / "retry")
    part0 = spark.createDataFrame(
        [("2026-01-01 10:00:00", 2, 100)], "h STRING, cnt LONG, sum_cents LONG"
    ).withColumn("h", F.col("h").cast("timestamp"))
    part1 = spark.createDataFrame(
        [("2026-01-01 10:00:00", 3, 50)], "h STRING, cnt LONG, sum_cents LONG"
    ).withColumn("h", F.col("h").cast("timestamp"))
    _merge_versioned(spark, work, part0, 0)
    _merge_versioned(spark, work, part1, 1)
    first = spark.read.parquet(f"{work}/agg/v=1").collect()
    # simulate the retry: same batch partials, same batch_id, with v=1
    # already on disk from the "failed" attempt
    _merge_versioned(spark, work, part1, 1)
    retried = spark.read.parquet(f"{work}/agg/v=1").collect()
    assert first == retried
    assert retried[0]["cnt"] == 5 and retried[0]["sum_cents"] == 150


def test_rollup_state_written_as_int96_merges_into_int64(spark, tmp_path):
    """A rollup store whose ``v=0`` was written under Spark's INT96
    timestamps (before the engine wrote int64 micros) merges its next
    batch into ``v=1`` exactly as a store written in int64 throughout."""
    import glob

    import pyarrow.parquet as pq

    from movies_etl_spark.session import temp_confs
    from movies_etl_spark.streaming.ops import _merge_versioned

    schema = "h STRING, cnt LONG, sum_cents LONG"
    part0 = spark.createDataFrame(
        [("1850-03-01 07:00:00", 1, 7), ("2026-01-01 10:00:00", 2, 100),
         ("2026-01-01 11:00:00", 4, 40)], schema,
    ).withColumn("h", F.col("h").cast("timestamp"))
    part1 = spark.createDataFrame(
        [("2026-01-01 10:00:00", 3, 50), ("2026-01-01 12:00:00", 1, 9)], schema,
    ).withColumn("h", F.col("h").cast("timestamp"))

    def physical(path):
        return {
            pq.ParquetFile(f).metadata.schema.column(0).physical_type
            for f in glob.glob(f"{path}/part-*.parquet")
        }

    old, new = str(tmp_path / "int96"), str(tmp_path / "int64")
    with temp_confs(spark, {"spark.sql.parquet.outputTimestampType": "INT96"}):
        _merge_versioned(spark, old, part0, 0)
    _merge_versioned(spark, old, part1, 1)
    _merge_versioned(spark, new, part0, 0)
    _merge_versioned(spark, new, part1, 1)
    assert physical(f"{old}/agg/v=0") == {"INT96"}
    assert physical(f"{old}/agg/v=1") == physical(f"{new}/agg/v=1") == {"INT64"}

    upgraded = sorted(spark.read.parquet(f"{old}/agg/v=1").collect())
    assert upgraded == sorted(spark.read.parquet(f"{new}/agg/v=1").collect())
    assert [(str(r["h"]), r["cnt"], r["sum_cents"]) for r in upgraded] == [
        ("1850-03-01 07:00:00", 1, 7), ("2026-01-01 10:00:00", 5, 150),
        ("2026-01-01 11:00:00", 4, 40), ("2026-01-01 12:00:00", 1, 9),
    ]


def test_hll_rollup_retry_regenerates_same_version(spark, tmp_path):
    """Register-table sibling of the rollup retry test: a retried batch
    must regenerate v=batch_id from the version strictly below it. Max
    is idempotent arithmetic, so the sharper assertion is that the
    retry reads the RIGHT prior (v=0, not its own v=1 output) and the
    merged registers equal the max of both batches."""
    from pyspark.sql import functions as F

    from movies_etl_spark.streaming.ops import _merge_versioned_regs

    work = str(tmp_path / "hllretry")
    p0 = spark.createDataFrame(
        [("2026-01-01", 7, 3), ("2026-01-01", 9, 5)],
        "day STRING, register LONG, rho INT",
    ).withColumn("day", F.col("day").cast("date"))
    p1 = spark.createDataFrame(
        [("2026-01-01", 7, 4), ("2026-01-01", 11, 2)],
        "day STRING, register LONG, rho INT",
    ).withColumn("day", F.col("day").cast("date"))
    _merge_versioned_regs(spark, work, p0, 0)
    _merge_versioned_regs(spark, work, p1, 1)
    first = sorted(
        (r["register"], r["rho"])
        for r in spark.read.parquet(f"{work}/agg/v=1").collect()
    )
    _merge_versioned_regs(spark, work, p1, 1)  # retry after successful write
    retried = sorted(
        (r["register"], r["rho"])
        for r in spark.read.parquet(f"{work}/agg/v=1").collect()
    )
    assert first == retried == [(7, 4), (9, 5), (11, 2)]


def test_cms_rollup_retry_regenerates_same_version(spark, tmp_path):
    """CMS sibling of the HLL retry test, where the discipline is
    LOAD-BEARING: sum-merge is not idempotent, so a retry that folded
    into its own prior output would double-count. The retried version
    must equal the first write exactly (regenerated from v=0)."""
    from movies_etl_spark.streaming.ops import _merge_versioned_cells

    work = str(tmp_path / "cmsretry")
    p0 = spark.createDataFrame(
        [(0, 5, 10), (1, 7, 4)], "seed INT, cell BIGINT, cnt BIGINT"
    )
    p1 = spark.createDataFrame(
        [(0, 5, 3), (2, 9, 6)], "seed INT, cell BIGINT, cnt BIGINT"
    )
    _merge_versioned_cells(spark, work, p0, 0)
    _merge_versioned_cells(spark, work, p1, 1)
    first = sorted(
        (r["seed"], r["cell"], r["cnt"])
        for r in spark.read.parquet(f"{work}/agg/v=1").collect()
    )
    _merge_versioned_cells(spark, work, p1, 1)  # retry after a write
    retried = sorted(
        (r["seed"], r["cell"], r["cnt"])
        for r in spark.read.parquet(f"{work}/agg/v=1").collect()
    )
    assert first == retried == [(0, 5, 13), (1, 7, 4), (2, 9, 6)]


def test_streaming_cms_equals_batch_sketch(spark, sf_dir):
    """Maintenance invariant, engine-side (no oracle replay): the
    streamed, per-batch sum-merged cell table must produce the same
    top-20 estimates as the one-shot batch heavy_hitters_cms sketch —
    associativity of the additive merge made observable."""
    import __spark_entry__ as m

    qs = m.queries()
    streamed = {
        r["bigram"]: (r["exact_cnt"], r["cms_est"])
        for r in qs["streaming_cms_freq"](spark, sf_dir).collect()
    }
    batch = {
        r["bigram"]: (r["exact_cnt"], r["cms_est"])
        for r in qs["heavy_hitters_cms"](spark, sf_dir).collect()
    }
    assert streamed == batch and len(streamed) == 20
