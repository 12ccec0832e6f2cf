"""Streaming state-growth soak (r18, VERDICT r17 #4 "what's missing" /
task #7): drive N checkpointed micro-batches through the two stateful
operators and assert the state store PLATEAUS instead of growing with
stream lifetime.

All other streaming tests are single availableNow runs over bounded
input — they prove semantics but never observe state across batches.
Here a file source with maxFilesPerTrigger=1 yields one micro-batch per
file inside one availableNow run, and ``query.recentProgress`` exposes
``stateOperators[].numRowsTotal`` after every batch:

- ``dedup_within_watermark``: event time advances 2 h per batch against
  a 1 h horizon, keys unique per batch → the watermark passes each
  batch's entries one batch later, so numRowsTotal must stay O(rows per
  horizon), never O(rows ingested). This is the difference between a
  dedup that survives a year of ingest and one that OOMs.
- ``sessionize_stateful`` (applyInPandasWithState, NoTimeout by
  documented contract): state is one row per DISTINCT USER, so with a
  fixed user population it must plateau at n_users from batch 1 and stay
  flat for all later batches, independent of events ingested.
"""

from __future__ import annotations

import os
import time

import pytest

from movies_etl_spark.session import temp_confs
from movies_etl_spark.streaming import ops

pytestmark = pytest.mark.slow

N_BATCHES = 6
ROWS_PER_BATCH = 200
N_USERS = 25
BASE_US = 1_700_000_000 * 1_000_000  # 2023-11-14, comfortably in range


def _write_batches(spark, src_dir, make_rows, schema):
    """One parquet file per micro-batch, mtimes strictly increasing so the
    file source (ordered by modification time) replays them in order."""
    for b in range(N_BATCHES):
        path = os.path.join(src_dir, f"batch_{b:03d}.parquet")
        spark.createDataFrame(make_rows(b), schema).coalesce(
            1
        ).write.mode("overwrite").parquet(path)
        ts = time.time() + b  # monotone, 1s apart
        for root, _, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (ts, ts))
        os.utime(path, (ts, ts))


def _run_and_progress(stream_df, out_mode, chk_dir):
    q = (
        stream_df.writeStream.outputMode(out_mode)
        .format("noop")
        .option("checkpointLocation", chk_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # state rows after each micro-batch, in batch order
    prog = sorted(q.recentProgress, key=lambda p: p["batchId"])
    return [
        p["stateOperators"][0]["numRowsTotal"]
        for p in prog
        if p.get("stateOperators")
        and p["numInputRows"] > 0
    ]


def test_dedup_within_watermark_state_plateaus(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    two_hours_us = 2 * 3600 * 1_000_000

    def rows(b):
        # unique keys per batch; event times advance 2h per batch
        t0 = (BASE_US + b * two_hours_us) // 1_000_000
        return [
            (b * ROWS_PER_BATCH + i, t0 + i)
            for i in range(ROWS_PER_BATCH)
        ]

    _write_batches(spark, src, rows, "event_id long, ts_s long")
    from pyspark.sql import functions as F

    ev = (
        spark.readStream.schema("event_id long, ts_s long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*.parquet")
        .select("event_id", F.timestamp_seconds(F.col("ts_s")).alias("s"))
    )
    deduped = ops.dedup_within_watermark(ev, ["event_id"], "s")
    with temp_confs(spark, {"spark.sql.shuffle.partitions": "4"}):
        totals = _run_and_progress(deduped, "append", str(tmp_path / "chk"))

    assert len(totals) == N_BATCHES
    # Plateau: once the watermark starts evicting (batch 2+), state never
    # exceeds two batches' worth of keys — bounded by the horizon, not by
    # rows ingested (which reach N_BATCHES * ROWS_PER_BATCH).
    for t in totals[1:]:
        assert t <= 2 * ROWS_PER_BATCH, totals
    # and it really ingested everything batch by batch
    assert totals[-1] < N_BATCHES * ROWS_PER_BATCH


def test_sessionize_state_plateaus_at_user_count(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    hour_us = 3600 * 1_000_000

    def rows(b):
        # fixed user population, advancing event times
        return [
            (i % N_USERS, BASE_US + b * hour_us + i * 1_000_000)
            for i in range(ROWS_PER_BATCH)
        ]

    _write_batches(spark, src, rows, "user_id long, ts_us long")
    ev = (
        spark.readStream.schema("user_id long, ts_us long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*.parquet")
    )
    sessions = ops.sessionize_stateful(ev)
    with temp_confs(spark, {"spark.sql.shuffle.partitions": "4"}):
        totals = _run_and_progress(sessions, "append", str(tmp_path / "chk"))

    assert len(totals) == N_BATCHES
    # one state row per distinct user, flat from the first batch on —
    # 1200 events ingested, state never passes 25 rows
    assert all(t == N_USERS for t in totals), totals
