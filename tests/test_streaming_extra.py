"""Streaming extras: the foreachBatch sink, stream restart, and the
versioned-store rollups (retry, torn versions, plan shape)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from movies_etl_spark.streaming import ops


def test_foreach_batch_sink_roundtrip(spark, sf_dir, tmp_path):
    target = str(tmp_path / "fb")
    n_batches = ops.foreach_batch_to_parquet(spark, sf_dir, target)
    assert n_batches >= 1
    written = spark.read.parquet(f"{target}/batch=*")
    from movies_etl_spark.sources import readers

    n_events = readers.load_table(spark, sf_dir, "events").count()
    assert written.count() == n_events


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

    from movies_etl_spark.streaming.ops import ROLLUP_STATE, _merge_versioned

    work = str(tmp_path / "retry")
    part0 = spark.createDataFrame(
        [("2026-01-01 10:00:00", 2, 100)], "h STRING, cnt LONG, sum_cents LONG"
    ).withColumn("h", F.col("h").cast("timestamp"))
    part1 = spark.createDataFrame(
        [("2026-01-01 10:00:00", 3, 50)], "h STRING, cnt LONG, sum_cents LONG"
    ).withColumn("h", F.col("h").cast("timestamp"))
    _merge_versioned(spark, work, part0, 0, ROLLUP_STATE)
    _merge_versioned(spark, work, part1, 1, ROLLUP_STATE)
    first = spark.read.parquet(f"{work}/agg/v=1").collect()
    # simulate the retry: same batch partials, same batch_id, with v=1
    # already on disk from the "failed" attempt
    _merge_versioned(spark, work, part1, 1, ROLLUP_STATE)
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
    from movies_etl_spark.streaming.ops import ROLLUP_STATE, _merge_versioned

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
        _merge_versioned(spark, old, part0, 0, ROLLUP_STATE)
    _merge_versioned(spark, old, part1, 1, ROLLUP_STATE)
    _merge_versioned(spark, new, part0, 0, ROLLUP_STATE)
    _merge_versioned(spark, new, part1, 1, ROLLUP_STATE)
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

    from movies_etl_spark.streaming.ops import HLL_STATE, _merge_versioned

    work = str(tmp_path / "hllretry")
    p0 = spark.createDataFrame(
        [("2026-01-01", 7, 3), ("2026-01-01", 9, 5)],
        "day STRING, register LONG, rho INT",
    ).withColumn("day", F.col("day").cast("date"))
    p1 = spark.createDataFrame(
        [("2026-01-01", 7, 4), ("2026-01-01", 11, 2)],
        "day STRING, register LONG, rho INT",
    ).withColumn("day", F.col("day").cast("date"))
    _merge_versioned(spark, work, p0, 0, HLL_STATE)
    _merge_versioned(spark, work, p1, 1, HLL_STATE)
    first = sorted(
        (r["register"], r["rho"])
        for r in spark.read.parquet(f"{work}/agg/v=1").collect()
    )
    _merge_versioned(spark, work, p1, 1, HLL_STATE)  # retry after successful write
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
    from movies_etl_spark.streaming.ops import CMS_STATE, _merge_versioned

    work = str(tmp_path / "cmsretry")
    p0 = spark.createDataFrame(
        [(0, 5, 10), (1, 7, 4)], "seed INT, cell BIGINT, cnt BIGINT"
    )
    p1 = spark.createDataFrame(
        [(0, 5, 3), (2, 9, 6)], "seed INT, cell BIGINT, cnt BIGINT"
    )
    _merge_versioned(spark, work, p0, 0, CMS_STATE)
    _merge_versioned(spark, work, p1, 1, CMS_STATE)
    first = sorted(
        (r["seed"], r["cell"], r["cnt"])
        for r in spark.read.parquet(f"{work}/agg/v=1").collect()
    )
    _merge_versioned(spark, work, p1, 1, CMS_STATE)  # retry after a write
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


def test_torn_version_is_not_read_as_prior_state(spark, tmp_path):
    """An ``agg/v=N`` whose ``_SUCCESS`` is gone (a write torn before its
    commit) is not prior state: the next merge folds into the newest
    COMMITTED version below it, here v=0."""
    import os

    from movies_etl_spark.streaming.ops import CMS_STATE, _merge_versioned

    work = str(tmp_path / "torn")
    for batch_id, cnt in enumerate((10, 3, 1)):
        part = spark.createDataFrame([(0, 5, cnt)], CMS_STATE.schema)
        _merge_versioned(spark, work, part, batch_id, CMS_STATE)
        if batch_id == 1:
            os.remove(f"{work}/agg/v=1/_SUCCESS")
    got = [tuple(r) for r in spark.read.parquet(f"{work}/agg/v=2").collect()]
    assert got == [(0, 5, 11)]


def test_lsh_torn_index_batch_is_not_read(spark, tmp_path):
    """A ``bands/batch=N`` dir whose ``_SUCCESS`` is gone does not join
    the index the next batch dedups against (nor does its committed
    ``shingles/batch=N`` twin): the next batch's survivors equal its
    recompute on a store that never held batch N."""
    import os

    from movies_etl_spark.streaming.ops import lsh_dedup_batch

    text = "the quick brown fox jumps over the lazy dog by the river bank"
    schema = "doc_id BIGINT, text STRING"
    b0 = spark.createDataFrame([(1, text)], schema)
    b1 = spark.createDataFrame(
        [(2, text), (3, "versioned parquet stores list committed dirs only")],
        schema,
    )
    torn, fresh = str(tmp_path / "torn"), str(tmp_path / "fresh")
    lsh_dedup_batch(spark, b0, 0, torn)
    os.remove(f"{torn}/bands/batch=0/_SUCCESS")
    lsh_dedup_batch(spark, b1, 1, torn)
    lsh_dedup_batch(spark, b1, 1, fresh)

    def survivors(store):
        out = spark.read.parquet(f"{store}/out/batch=1").collect()
        return sorted(r.doc_id for r in out)

    assert survivors(torn) == survivors(fresh) == [2, 3]


@pytest.mark.parametrize(
    "state_name,row",
    [
        ("ROLLUP_STATE", (datetime.datetime(2026, 1, 1, 10), 2, 100)),
        ("HLL_STATE", (datetime.date(2026, 1, 1), 7, 3)),
        ("CMS_STATE", (0, 5, 10)),
    ],
)
def test_tiny_merge_confs_make_a_merge_one_job(spark, tmp_path, state_name, row):
    """Why ``_tiny_merge_confs`` exists: a merge into a prior version
    runs as 1 job of 2 stages inside it, and as 2 jobs under the
    session's AQE, which runs the shuffle-map stage as a job of its
    own."""
    from perfbench.probe import StatusProbe

    state = getattr(ops, state_name)
    work = str(tmp_path / "merge")
    part = spark.createDataFrame([row], state.schema)
    ops._merge_versioned(spark, work, part, 0, state)
    probe = StatusProbe(spark)

    def merge(batch_id):
        mark = probe.mark()
        ops._merge_versioned(spark, work, part, batch_id, state)
        c = probe.since(mark)
        return c.jobs, c.stages

    with ops._tiny_merge_confs(spark):
        assert merge(1) == (1, 2)
    assert merge(2)[0] == 2


def test_cms_rollup_batch_is_one_job_of_three_stages(
    spark, sf_dir, tmp_path, monkeypatch
):
    """One real CMS rollup batch, streamed from the landing zone: every
    batch after the first runs its partials, the prior-version read and
    the versioned write as one job of three stages under
    ``_tiny_merge_confs``: batch scan to the partials' shuffle, partials
    and prior version to the merge's shuffle, merge and write."""
    from perfbench.probe import StatusProbe

    probe = StatusProbe(spark)
    merge = ops._merge_versioned
    counts = {}

    def counted(spark_, work_dir, part, batch_id, state):
        mark = probe.mark()
        merge(spark_, work_dir, part, batch_id, state)
        c = probe.since(mark)
        counts[batch_id] = (c.jobs, c.stages)

    monkeypatch.setattr(ops, "_merge_versioned", counted)
    ops.incremental_cms_rollup(spark, sf_dir, str(tmp_path / "cms"))
    assert sorted(counts) == [0, 1, 2, 3]
    assert {counts[b] for b in (1, 2, 3)} == {(1, 3)}


def test_store_commits_when_session_turns_success_marker_off(spark, tmp_path):
    """A session built with ``marksuccessfuljobs`` off still leaves
    ``_SUCCESS`` in every store version, so the next merge reads its
    prior state and the next LSH batch dedups against the index."""
    from movies_etl_spark.session import temp_confs

    off = {"mapreduce.fileoutputcommitter.marksuccessfuljobs": "false"}
    text = "the quick brown fox jumps over the lazy dog by the river bank"
    schema = "doc_id BIGINT, text STRING"
    work, store = str(tmp_path / "cms"), str(tmp_path / "lsh")
    with temp_confs(spark, off):
        for batch_id, cnt in enumerate((10, 3)):
            part = spark.createDataFrame([(0, 5, cnt)], ops.CMS_STATE.schema)
            ops._merge_versioned(spark, work, part, batch_id, ops.CMS_STATE)
        ops.lsh_dedup_batch(spark, spark.createDataFrame([(1, text)], schema), 0, store)
        ops.lsh_dedup_batch(spark, spark.createDataFrame([(2, text)], schema), 1, store)
    got = [tuple(r) for r in spark.read.parquet(f"{work}/agg/v=1").collect()]
    assert got == [(0, 5, 13)]
    assert spark.read.parquet(f"{store}/out/batch=1").count() == 0
