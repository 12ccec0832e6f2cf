"""Structured Streaming operators (SURVEY §2.1 S4 analog + north star).

The reference's only streaming-shaped construct is the chunked
re-scan-and-append load (challenge.py:299-314) — a bounded micro-batch.
Here that generalizes properly: a file-source stream with an
available-now trigger (process everything, then stop) drives

- a windowed aggregation (tumbling event-time windows), and
- a custom stateful operator (session windows via applyInPandasWithState)

so the same plans run unchanged against an unbounded source (kafka/files)
with a watermark swapped in for the available-now trigger.

Local smoke contract: memory sink + awaitTermination, per the public
Spark docs pattern. Results are deterministic on the bounded test data.

The foreachBatch operators keep their state in batch-id-versioned
parquet stores instead of the Spark state store: the hourly, HLL and
CMS rollups (``agg/v=N``) and the LSH band/shingle index
(``bands/batch=N``, ``shingles/batch=N``). One discipline serves all
four, written once:

- :func:`_versions` lists a store's committed versions (dirs holding
  ``_SUCCESS``, which :func:`_write_version` always leaves), optionally
  strictly below a batch id;
- :func:`_merge_versioned` folds a batch's partials into the newest
  committed version below it, per a :class:`VersionedState` spec;
- :func:`_drain` runs a bounded stream's foreachBatch to completion;
- :func:`_versioned_rollup` lands, drains and merges one rollup.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movies_etl_spark.session import temp_confs

#: events parquet schema when ts is TIMESTAMP(NANOS) read with nanosAsLong
#: (ts = nanos since epoch); the µs encoding instead reads as TIMESTAMP_NTZ
#: — events_stream picks per-dataset by peeking at the batch schema
#: (file stream sources need an explicit schema, so auto-infer can't help).
EVENTS_STREAM_SCHEMA_NANOS = (
    "event_id BIGINT, ts BIGINT, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)
EVENTS_STREAM_SCHEMA_MICROS = (
    "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)

SESSION_GAP_MINUTES = 30


def _stream_source_dir(sf_dir: str) -> str:
    """Scratch directory exposing ``<sf_dir>/events.parquet`` as a
    one-file directory (Spark's file stream source requires a directory;
    in production the source is already a directory of arriving files).

    Keyed by a digest of the FULL resolved sf_dir — not its basename — so
    two datasets that share a basename (e.g. an override pointing at a
    different tree) can never alias each other's scratch. The symlink is
    recreated atomically on every call (temp name + os.replace), which
    also self-heals a dangling leftover link, where a bare
    ``os.path.exists`` check would see False and ``os.symlink`` would then
    raise FileExistsError."""
    resolved = os.path.realpath(sf_dir)
    key = hashlib.sha1(resolved.encode()).hexdigest()[:12]
    stream_dir = f"/tmp/movies_etl_scratch/stream-src-{key}"
    os.makedirs(stream_dir, exist_ok=True)
    link = f"{stream_dir}/events.parquet"
    tmp = f"{link}.{os.getpid()}.{uuid.uuid4().hex[:6]}.tmp"
    os.symlink(f"{resolved}/events.parquet", tmp)
    os.replace(tmp, link)
    return stream_dir


def _events_ts_is_nanos_long(spark: SparkSession, sf_dir: str) -> bool:
    """True when `events.ts` is TIMESTAMP(NANOS) in parquet (which Spark
    surfaces as a bigint under the nanosAsLong legacy conf). One footer
    read — no data scan."""
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    return dict(batch.dtypes).get("ts") == "bigint"


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table, normalized to a
    session-timezone TimestampType `ts` (same contract as the batch
    loader) for either parquet encoding of the column."""
    nanos = _events_ts_is_nanos_long(spark, sf_dir)
    schema = EVENTS_STREAM_SCHEMA_NANOS if nanos else EVENTS_STREAM_SCHEMA_MICROS
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .load(_stream_source_dir(sf_dir))
    )
    if nanos:
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


#: State-store partition count for the stateful streams, set with
#: ``temp_confs`` around each one. Stateful operators read
#: ``spark.sql.shuffle.partitions`` at FIRST start as the state partition
#: count (then it's fixed into the checkpoint) — a per-query sizing knob,
#: not a session property. Each state partition costs store instances +
#: checkpoint files + a task per micro-batch, so over-provisioning
#: dominates small runs: the stream-stream join carries FOUR stores per
#: partition per side, and 32 partitions cost ~24 s on the bounded test
#: input vs ~3 s at a right-sized count, identical results. Production
#: unbounded runs size this to ~2× cores before the first start.
_STATE_PARTITIONS = {"spark.sql.shuffle.partitions": "8"}


def _run_to_memory(agg: DataFrame, output_mode: str) -> DataFrame:
    """Drive a bounded stream to completion into a memory sink and return
    the materialized result table."""
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = agg.sparkSession
    return spark.table(name)


def windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows × event_type: count + value sum.

    Unbounded variant: add ``withWatermark("ts", "...")`` and switch the
    trigger; the aggregation plan is identical."""
    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "cnt",
        "total_value",
    )


def hopping_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows on a stream: 1-hour windows every 30
    minutes × event_type — each event feeds exactly two open windows.
    The streaming twin of the batch hopping_window_agg: identical
    F.window(slide) generator, so the migration between the two is the
    source swap alone.

    Unbounded variant: add ``withWatermark("ts", ...)`` so closed
    windows evict from state; with the slide, peak state is
    (window/hop)× the tumbling equivalent — the cost knob the hop ratio
    controls. Window starts are emitted as epoch seconds so results
    compare as integers under either parquet ts encoding."""
    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy(
        F.window("ts", "1 hour", "30 minutes").alias("w"),
        F.col("event_type"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"),
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        (F.unix_micros(F.col("w.start").cast("timestamp")) / 1_000_000)
        .cast("long")
        .alias("ws"),
        "event_type",
        "n_events",
        "cents",
    )


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator: per-user session windows with a 30-minute
    inactivity gap, via ``applyInPandasWithState``.

    Emits one row per closed session (bounded input → all sessions close).
    The state handle carries the open-session accumulator between
    micro-batches; with an unbounded source the same function emits
    completed sessions incrementally and times out idle users.

    The stateful stage's shuffle — which IS the state-store partition
    count — takes the session's ``spark.sql.shuffle.partitions``, so a
    wide-cluster caller's tuning is never silently overridden (a
    hard-coded 8 buys nothing: interleaved warm A/B at sf0.1 reads
    8-partition 2.0-2.2 s vs inherited-32 1.8-2.0 s — within noise,
    slight edge to 32 on a 32-core box). That conf is the real
    production control for a LONG-RUNNING stream: the state-store count
    is frozen into the checkpoint at first run, and every partition pays
    a store open/commit per micro-batch even when empty, so set it to
    key parallelism (distinct users ÷ target keys per store) when
    creating a checkpoint, not to the scan-sized shuffle default. The
    remaining gap to the native session_window twin is the Arrow+Python
    state transfer itself — see SCALE.md "Streaming".

    Timestamps cross the Arrow/pandas boundary as epoch-micros int64, not
    as a TIMESTAMP column: pandas ``datetime64[ns]`` spans only
    [1677-09-21, 2262-04-11], so a TIMESTAMP transport crashes the
    Python worker (``OutOfBoundsDatetime``,
    executor-side job abort) on event times Spark itself collects fine —
    e.g. year 5000, probed empirically. The session arithmetic is
    identical on int64 (floor-to-second = floor-mod 1e6, which also
    floors toward -inf for pre-1970 instants exactly like
    ``.dt.floor("s")``; the 30-minute gap compare is the same strict
    inequality), the int64 codec is also cheaper than the timestamp one,
    and ``session_start`` is rebuilt JVM-side with the gated
    ``expr.from_unix_micros`` builder.

    The pandas function is a self-contained closure (Python workers never
    import this package)."""
    ev = events_stream(spark, sf_dir).select(
        "user_id", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    sessions = sessionize_stateful(ev)
    from movies_etl_spark.functions import expr as E

    def finish(out: DataFrame) -> DataFrame:
        return out.select(
            "user_id",
            E.from_unix_micros(F.col("session_start_us")).alias("session_start"),
            "n_events",
        )

    return finish(_run_to_memory(sessions, "append"))


def sessionize_stateful(ev: DataFrame) -> DataFrame:
    """The stateful core of :func:`sessionize`: per-user 30-minute-gap
    sessions over any ``(user_id, ts_us)`` stream via
    ``applyInPandasWithState`` — factored out so the state-growth
    soak test drives the ENGINE's operator through its own checkpointed
    micro-batches rather than a test-local copy. State is one row per
    distinct user (the open-session accumulator), independent of batch
    count — the plateau the soak asserts."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = SESSION_GAP_MINUTES * 60 * 1_000_000

    def fn(key, pdf_iter, state: GroupState):
        import numpy as np
        import pandas as pd

        times = []
        for pdf in pdf_iter:
            times.append(pdf["ts_us"])
        if not times:
            return
        s = pd.concat(times)
        # floor to the second; int64 floor-mod floors toward -inf, matching
        # .dt.floor("s") for pre-1970 instants too
        v = np.sort((s - s % 1_000_000).to_numpy())
        # session breaks via EXACT int64 diffs — pandas Series.diff()
        # routes through float64, whose ulp passes 32 µs beyond ~year
        # 2255, so an exactly-gap boundary (strict >: must MERGE) could
        # misread at extreme-but-in-range epochs; numpy int64
        # subtraction is exact over the whole [0001, 9999] span (max
        # possible diff ~3.2e17 << 2^63)
        brk = np.empty(len(v), dtype=bool)
        brk[0] = True
        brk[1:] = (v[1:] - v[:-1]) > gap_us
        new_session = np.cumsum(brk)
        out = (
            pd.Series(v, name="ts_us")
            .groupby(new_session)
            .agg(session_start_us="min", n_events="count")
            .reset_index(drop=True)
        )
        out.insert(0, "user_id", key[0])
        out["n_events"] = out["n_events"].astype("int64")
        state.update((int(len(out)),))  # exercise the state handle
        yield out

    return ev.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id BIGINT, session_start_us BIGINT, n_events BIGINT",
        stateStructType="n_sessions INT",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time streaming deduplication: ``dropDuplicates`` on a
    content hash over a file-source stream — the operator that keeps an
    append-only corpus exact-duplicate-free AT INGEST instead of by
    periodic batch re-scans (the streaming complement of
    ``dedup_exact`` / ``dedup_incremental``).

    State = one entry per distinct hash, kept in the JVM state store; on
    an unbounded source the production variant is
    ``dropDuplicatesWithinWatermark`` so state is TTL-bounded by the
    watermark horizon. Output projects only text-DERIVED columns
    (hash + length): which physical row survives is arrival-order
    dependent, and a corpus can hold the same text under two different
    (lang, source) rows — survivor-agnostic output keeps the result
    set-deterministic.

    The duplicated corpus (base ∪ exact copies of doc_id % 100 == 0,
    same planting as dedup_exact) is materialized to a scratch ingest
    directory first — the file stream source reads a directory, which is
    also the real shape of an ingest landing zone."""
    from movies_etl_spark.sources import readers

    base = readers.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    dups = base.filter(F.col("doc_id") % 100 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text", "lang", "source"
    )
    sf_tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    src = f"/tmp/movies_etl_scratch/{os.getpid()}/stream-dedup-{sf_tag}"
    base.unionByName(dups).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(
            "doc_id BIGINT, text STRING, lang STRING, source STRING"
        )
        .format("parquet")
        .load(src)
    )
    deduped = (
        stream.select(
            F.md5("text").alias("text_hash"),
            F.length("text").cast("long").alias("n_chars"),
        )
        .dropDuplicates(["text_hash"])
    )
    with temp_confs(spark, _STATE_PARTITIONS):
        return _run_to_memory(deduped, "append")


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: click→purchase attribution — each
    click joined to every purchase by the same user within the following
    30 minutes. Both sides are watermarked so the join state is bounded:
    Spark buffers each side only until the other side's watermark passes
    the join window (inner join emits matches immediately; the watermark
    exists to EVICT state, the knob that keeps a day-long 100 TB event
    join from accumulating unbounded buffers).

    Timestamps are truncated to seconds on both sides before the join so
    the bounded-data result is exactly reproducible by the batch SQL
    oracle (µs-vs-ns storage difference)."""
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.date_trunc("second", F.col("ts")).alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.date_trunc("second", F.col("ts")).alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.col("p_ts").cast("long") - F.col("c_ts").cast("long")).alias("lag_sec"),
    )
    with temp_confs(spark, _STATE_PARTITIONS):
        return _run_to_memory(joined, "append")


def foreach_batch_to_parquet(
    spark: SparkSession, sf_dir: str, target_dir: str
) -> int:
    """Exactly-once-shaped sink: ``foreachBatch`` writes each micro-batch
    to a batch-id-addressed parquet subdir (idempotent overwrite per
    batch id — a retried batch lands in the same place). Returns the
    number of batches written."""
    ev = events_stream(spark, sf_dir).select("event_id", "user_id", "value")
    seen: list[int] = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{target_dir}/batch={batch_id}")
        seen.append(batch_id)

    _drain(ev, sink, f"{target_dir}/_checkpoint")
    return len(seen)


def _drain(
    stream: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint: str,
) -> None:
    """Run ``fn(batch_df, batch_id)`` over every micro-batch of a bounded
    file stream and return once the stream is drained (available-now
    trigger). ``checkpoint`` holds the offsets, so a restarted drain
    resumes at the first uncommitted batch id."""
    (
        stream.writeStream.foreachBatch(fn)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .start()
        .awaitTermination()
    )


def dedup_stream_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest dedup with TTL-BOUNDED state: ``dropDuplicatesWithinWatermark``
    keyed on event_id over a watermarked event stream — the production
    variant `dedup_stream`'s docstring points at. Plain ``dropDuplicates``
    keeps one state entry per key FOREVER; within-watermark dedup evicts
    entries once the watermark passes them, so state is bounded by (event
    rate x horizon) instead of stream lifetime — the difference between a
    dedup that survives a year of 100 TB ingest and one that OOMs.

    Duplicates are planted by re-emitting every event_id % 100 == 0 row
    (same content, same key — the at-least-once-delivery shape this
    operator exists for). On the bounded test input everything arrives
    inside one watermark horizon, so the result is exactly the distinct
    base set and the batch SQL oracle is exact; on an unbounded source
    only LATE re-deliveries (beyond the horizon) would slip through —
    that is the documented trade-off being bought."""
    ev = events_stream(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        F.date_trunc("second", F.col("ts")).alias("s"),
    )
    dups = ev.filter(F.col("event_id") % 100 == 0)
    deduped = dedup_within_watermark(ev.unionByName(dups), ["event_id"], "s")
    with temp_confs(spark, _STATE_PARTITIONS):
        return _run_to_memory(deduped, "append")


def dedup_within_watermark(
    ev: DataFrame, key_cols: list[str], ts_col: str
) -> DataFrame:
    """TTL-bounded streaming dedup core (factored out for the
    state-growth soak): a one-hour watermark on ``ts_col`` +
    ``dropDuplicatesWithinWatermark`` on ``key_cols``. State entries are
    evicted once the watermark passes them, so state size is bounded by
    (event rate × one hour) — the property the soak test asserts batch
    by batch."""
    return ev.withWatermark(ts_col, "1 hour").dropDuplicatesWithinWatermark(
        key_cols
    )


def incremental_hourly_rollup(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> DataFrame:
    """Incremental materialized-view maintenance: a foreachBatch sink
    keeps an HOURLY aggregate table continuously up to date as event
    batches arrive — the streaming complement of the batch
    ``rollup_cascade`` (which assumes the hourly level already exists;
    this is the operator that maintains it).

    Each micro-batch aggregates to hourly partials, merges them with the
    previous version of the aggregate table (sum of additive partials —
    the same mergeability contract as the cascade), and writes the
    result to a BATCH-ID-VERSIONED directory. Versioned writes are the
    by-hand form of a table-format transaction: a retried batch
    regenerates the same version from the same previous version
    (idempotent), the reader only ever sees a complete version, and
    there is no read-modify-overwrite race on a single path. State is
    bounded by |hours|, not stream length.

    The source is the events table pre-bucketed to (hour, cents) and
    split across 4 files with maxFilesPerTrigger=1, so the maintenance
    genuinely runs across multiple micro-batches on bounded input (see
    :func:`_versioned_rollup` for the split). Returns the final version
    — exactly the batch hourly aggregate, the oracle-checked invariant."""
    ev = _load_events_batch(spark, sf_dir)
    source = ev.select(
        F.date_trunc("hour", F.date_trunc("second", F.col("ts")))
        .cast("timestamp")
        .alias("h"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )

    def partials(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy("h").agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("cents").alias("sum_cents"),
        )

    return _versioned_rollup(
        spark, source, ("h", "cents"), work_dir, partials, ROLLUP_STATE
    )


def _tiny_merge_confs(spark: SparkSession):
    """temp_confs preset for the versioned-state merges: every
    incremental rollup's state table is bounded and tiny — |hours| rows
    (hourly), days × 1024 registers (HLL), ≤ 2·d·w ≈ 8k cells (CMS) — so
    the merge plan is a fixed two-stage aggregate where adaptive stage
    materialization has nothing to decide. With AQE on, a merge into a
    prior version runs its shuffle-map stage as a job of its own: 2 jobs
    per merge; inside this block the same merge is 1 job of 2 stages,
    values bit-identical (test_streaming_extra pins both counts for all
    three states). AQE off + a narrow shuffle for the duration of the
    merge only; the streaming query itself is planned outside the
    block."""
    return temp_confs(
        spark,
        {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": "8",
        },
    )


#: On-disk versioned-state schemas: passed explicitly to every
#: prior-/final-version read, which skips the per-read parquet
#: schema-inference job (measured: 1 Spark job per inferred read — one
#: per merging micro-batch plus the post-stream read). The schema is
#: part of the state contract anyway: a production pipeline reads it
#: from the catalog, not from footers, and a drifted state file now
#: fails loudly at read time instead of silently re-inferring.
ROLLUP_STATE_SCHEMA = "h timestamp, cnt bigint, sum_cents bigint"
LSH_SHINGLE_SCHEMA = "doc_id bigint, shingles array<bigint>"
LSH_BAND_SCHEMA = "doc_id bigint, band_id int, band_key string"
HLL_STATE_SCHEMA = "day date, register bigint, rho int"
CMS_STATE_SCHEMA = "seed int, cell bigint, cnt bigint"


class VersionedState(NamedTuple):
    """A versioned rollup store: its on-disk ``schema``, the ``keys`` a
    batch's partials merge on, and the ``merge`` aggregates (SQL) that
    fold them into the prior version."""

    schema: str
    keys: tuple[str, ...]
    merge: tuple[str, ...]


ROLLUP_STATE = VersionedState(
    ROLLUP_STATE_SCHEMA, ("h",), ("sum(cnt) AS cnt", "sum(sum_cents) AS sum_cents")
)
HLL_STATE = VersionedState(HLL_STATE_SCHEMA, ("day", "register"), ("max(rho) AS rho",))
CMS_STATE = VersionedState(CMS_STATE_SCHEMA, ("seed", "cell"), ("sum(cnt) AS cnt",))


def _versions(root: str, prefix: str, below: int | None = None) -> list[int]:
    """Ascending ids of the committed versions in one store directory:
    the ``<prefix>N`` subdirs of ``root`` that hold ``_SUCCESS``,
    optionally only those strictly below ``below``.

    Spark writes ``_SUCCESS`` when the write job commits, so a torn
    write (a crash mid-write) is never read as state; its batch
    rewrites the dir on retry. The on-disk listing — not an in-process
    dict — is the source of truth for "previous version": a batch that
    retries AFTER its versioned write succeeded but BEFORE the
    checkpoint committed must read only the versions strictly below its
    own id, or it would fold its own output back in."""
    try:
        names = os.listdir(root)
    except FileNotFoundError:
        return []
    found = [
        int(d[len(prefix):])
        for d in names
        if d.startswith(prefix) and os.path.isfile(f"{root}/{d}/_SUCCESS")
    ]
    return sorted(v for v in found if below is None or v < below)


def _write_version(df: DataFrame, path: str) -> None:
    """Write one store version to ``path`` (overwrite: a retried batch
    rewrites its own dir). Spark leaves ``_SUCCESS`` only while the
    Hadoop conf ``mapreduce.fileoutputcommitter.marksuccessfuljobs`` is
    true; a session built with it off would hide every version from
    :func:`_versions`, so the write pins it for itself."""
    (
        df.write.mode("overwrite")
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "true")
        .parquet(path)
    )


def _landing(work_dir: str) -> str:
    """Where a streamed operator lands its bounded source files."""
    return f"{work_dir}/src"


def _merge_versioned(
    spark: SparkSession,
    work_dir: str,
    part: DataFrame,
    batch_id: int,
    state: VersionedState,
) -> None:
    """Merge a batch's partials into version ``batch_id`` of the store
    at ``<work_dir>/agg``.

    Reads the newest committed version STRICTLY below batch_id as the
    previous state, so a retried batch regenerates v=batch_id from the
    same input (idempotent) instead of folding its own output back in.
    For the sums (hourly, CMS) that is load-bearing: sum is not
    idempotent, and a retry folded into its own prior attempt would
    double-count. The HLL register max is idempotent anyway; there the
    discipline keeps readers off half-written versions."""
    prior = _versions(f"{work_dir}/agg", "v=", batch_id)
    if prior:
        prev = spark.read.schema(state.schema).parquet(
            f"{work_dir}/agg/v={prior[-1]}"
        )
        part = (
            prev.unionByName(part)
            .groupBy(*state.keys)
            .agg(*(F.expr(e) for e in state.merge))
        )
    _write_version(part, f"{work_dir}/agg/v={batch_id}")


def _versioned_rollup(
    spark: SparkSession,
    source: DataFrame,
    split_keys: tuple[str, ...],
    work_dir: str,
    partials: Callable[[DataFrame], DataFrame],
    state: VersionedState,
) -> DataFrame:
    """The shared body of the incremental rollups: split ``source`` into
    4 files in :func:`_landing`, stream them back one file per
    micro-batch, merge each batch's ``partials`` into the versioned
    store under :func:`_tiny_merge_confs`, and return the last version
    — the whole-input aggregate, since every merge is associative.

    The split hashes ``split_keys`` into 256 buckets over the 4 files,
    so the spread is statistical rather than round-robin by
    construction: keyless repartition(n) pays a local sort of its input
    (sortBeforeRepartition) to make retries reproducible, while a
    deterministic hash key needs no sort and is retry-safe by
    construction. Batch composition never reaches the result — ANY
    split of the same rows merges to the identical final state (the
    oracles replay the whole input either way)."""
    src = _landing(work_dir)
    landed = source.repartition(4, F.pmod(F.xxhash64(*split_keys), F.lit(256)))
    landed.write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(landed.schema)
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(src)
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        with _tiny_merge_confs(spark):
            _merge_versioned(spark, work_dir, partials(batch_df), batch_id, state)

    _drain(stream, upsert, f"{work_dir}/_ckpt")
    last = _versions(f"{work_dir}/agg", "v=")[-1]
    return spark.read.schema(state.schema).parquet(f"{work_dir}/agg/v={last}")


def _verify_dropped(
    cand: DataFrame, sh_all: DataFrame, sh_batch: DataFrame
) -> DataFrame:
    """Jaccard-verify LSH candidates against the accumulated shingle
    store and return the batch doc_ids with a verified (≥0.5) partner —
    as a bag, not a set: the sole consumer is a left_anti probe, which
    is set-semantic on its probe side, so a trailing ``.distinct()``
    would buy nothing but one more candidate-sized exchange + AQE stage
    per micro-batch. Duplicate id_b rows stay bounded by the same |cand|
    ≤ |batch| × cap broadcast contract.

    Verify shape, in the CONTRACT regime: the candidate frame is
    BROADCAST EXPLICITLY into the store join, so the store is probed
    map-side by construction — cand is derived (bands self-join), its
    size statistic is unknown to the static planner, and without the
    hint the store pays a full shuffle-map pass before AQE converts the
    SMJ (AQE rewrites at the stage boundary, AFTER both sides' exchanges
    ran their map phase). |cand| ≤ |batch| × band-bucket cap —
    broadcast-size by the same micro-batch contract as `touched`/`bnew`
    above. A candidate-id broadcast SEMI-PRUNE of the store does not
    pay: measured across a 64× store-size range (10k → 640k docs, small
    fixed batch — SCALE.md table), its extra prune pass never beats the
    direct broadcast join, which already makes the store map-only.

    ONE store pass, not two: cand's ``id_b`` side comes exclusively from
    the BATCH's own bands (``bnew`` in the caller — batch doc_ids are
    disjoint from the strictly-below index), so a second full store map
    pass for the ``id_b`` shingle lookup would only ever match batch
    rows. ``sh_batch`` (the batch's cached shingle frame, batch-size by
    the micro-batch contract) replaces it as a broadcast build: per
    batch the store is now scanned once for the ``id_a`` lookup and
    never again. Plan shape pinned in test_plan_shapes.py: two
    BroadcastHashJoins, zero Exchange on the store side, ONE store
    scan."""
    va = sh_all.select(
        F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a")
    )
    vb = sh_batch.filter(F.size("shingles") > 0).select(
        F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b")
    )
    from movies_etl_spark.operators import dedup as D

    probed_a = F.broadcast(cand).join(va, "id_a")
    return (
        probed_a.join(F.broadcast(vb), "id_b")
        .filter(F.round(D.jaccard(F.col("sh_a"), F.col("sh_b")), 4) >= 0.5)
        .select("id_b")
    )


def lsh_dedup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    work_dir: str,
    max_bucket_rows: int | None = None,
) -> None:
    """ONE micro-batch of the streaming MinHash-LSH near-dedup — the
    foreachBatch body of ``lsh_dedup_stream``, extracted to module level
    so the store-side scale harness (tools/scale_lsh_store.py)
    measures the EXACT shipped per-batch plan against pre-built stores
    instead of a reimplementation that could drift. Shingles + bands the
    batch's own documents, reads the accumulated band/shingle index for
    the committed batches strictly below ``batch_id``, candidate-joins
    batch-touched
    buckets, Jaccard-verifies, and writes survivors/bands/shingles into
    ``batch=N``-addressed dirs (overwrite → retry-idempotent).

    A failed survivor write (a band-bucket guard trip) un-commits the
    batch's index before the error propagates, so a caller that skips
    the batch dedups later batches only against documents it emitted."""
    from movies_etl_spark.operators import dedup as D

    sh_b = D.shingled(batch_df, "text", "doc_id").cache()
    bands_b = D.with_minhash_bands(sh_b, "doc_id").cache()
    # Index writes FIRST: a per-batch job profile shows that otherwise
    # the survivor plan's broadcast builds (touched/bnew/vb/cand)
    # launch CONCURRENTLY on the broadcast-exchange thread pool
    # and RACE to materialize the still-cold sh_b/bands_b caches —
    # 4-5 near-identical 1-task jobs each re-running the full
    # shingle+band compute. Writing the
    # batch's bands/shingles index dirs up front materializes both
    # caches through actions the batch must pay anyway, so every
    # broadcast build afterwards is a cache read. Write order within
    # the batch is free to choose: a retried batch never reads its own
    # writes (_versions lists strictly below it) and every write
    # overwrites its own batch=N dir, so idempotence is unchanged. A
    # guard trip lands after the index writes, so the survivor write
    # below takes them back out when it fails.
    index_dirs = [f"{work_dir}/{d}/batch={batch_id}" for d in ("bands", "shingles")]
    _write_version(bands_b, index_dirs[0])
    _write_version(sh_b, index_dirs[1])
    # a batch joins the index only once BOTH its dirs are committed
    ids = sorted(
        set(_versions(f"{work_dir}/bands", "batch=", batch_id))
        & set(_versions(f"{work_dir}/shingles", "batch=", batch_id))
    )
    if ids:
        # explicit index schemas: an inferred per-batch store read
        # pays a schema-inference job (see the state-schema
        # constants above for the rationale)
        index_bands = spark.read.schema(LSH_BAND_SCHEMA).parquet(
            *(f"{work_dir}/bands/batch={i}" for i in ids)
        )
        index_sh = spark.read.schema(LSH_SHINGLE_SCHEMA).parquet(
            *(f"{work_dir}/shingles/batch={i}" for i in ids)
        )
    else:
        index_bands = bands_b.limit(0)
        index_sh = sh_b.limit(0)
    # batch-touched buckets only (untouched index buckets cannot
    # pair with this batch), then the same bucket-size hard-fail as
    # the batch path — a viral template accumulating in one band
    # bucket fails loudly instead of squaring the candidate join.
    # The batch-derived sides are broadcast EXPLICITLY: the
    # scale contract already assumes the micro-batch is
    # broadcast-size (docstring), so the touched-bucket prune and
    # the candidate probe must stay map-only over the index read
    # instead of shuffling it — AQE would usually get there, but
    # only after planning with a shuffle it then rewrites.
    # no .distinct() on touched/cand/dropped: the semi join,
    # the verify, and the anti join are all set-semantic on these
    # inputs already (the broadcast hash build dedups touched's
    # keys; duplicate candidate pairs re-verify the same partner;
    # duplicate dropped ids anti-probe identically), and each
    # distinct costs a batch-sized exchange + AQE stage per
    # micro-batch — measured 93 vs 74 jobs for the 4-batch suite
    # fixture.
    # ONE broadcast serves both the touched-bucket prune and the
    # candidate probe: no separate `touched` key projection is
    # broadcast for the semi join — a left_semi on
    # (band_id, band_key) against broadcast(bnew) prunes the identical
    # bucket set (the build side dedups keys; bnew's extra id_b column
    # is unused), and because BOTH joins then reference the same bnew
    # subtree, the physical planner reuses one BroadcastExchange
    # (ReusedExchange) instead of building two. The batch side also
    # leaves the semi join: bands_b ⋉ touched ≡ bands_b (every batch
    # row's key is in its own key set by construction), so only the
    # index side is pruned and the union moves above the join — same
    # row multiset into the guard, one fewer broadcast-probe pass.
    bnew = bands_b.select(F.col("doc_id").alias("id_b"), "band_id", "band_key")
    bnew_b = F.broadcast(bnew)
    all_bands = D.guard_band_buckets(
        index_bands.join(
            bnew_b, ["band_id", "band_key"], "left_semi"
        ).unionByName(bands_b),
        max_bucket_rows
        if max_bucket_rows is not None
        else D.MAX_BAND_BUCKET_ROWS,
    )
    aold = all_bands.select(F.col("doc_id").alias("id_a"), "band_id", "band_key")
    cand = (
        aold.join(bnew_b, ["band_id", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    sh_all = index_sh.unionByName(sh_b).filter(F.size("shingles") > 0)
    dropped = _verify_dropped(cand, sh_all, sh_b)
    # dropped is batch-derived (≤ batch-size by the same contract as
    # touched/bnew) — broadcast it so the anti join is map-only over
    # the batch instead of shuffling both sides
    survivors = batch_df.select("doc_id").join(
        F.broadcast(dropped),
        batch_df["doc_id"] == dropped["id_b"],
        "left_anti",
    )
    try:
        survivors.write.mode("overwrite").parquet(
            f"{work_dir}/out/batch={batch_id}"
        )
    except Exception:
        # markers first: from then on _versions skips both dirs, even if
        # the removal below is cut short
        for d in index_dirs:
            if os.path.exists(f"{d}/_SUCCESS"):
                os.remove(f"{d}/_SUCCESS")
        for d in index_dirs:
            shutil.rmtree(d, ignore_errors=True)
        raise
    finally:
        sh_b.unpersist()
        bands_b.unpersist()


def lsh_dedup_stream(
    spark: SparkSession,
    corpus: DataFrame,
    work_dir: str,
    n_chunks: int = 4,
    max_bucket_rows: int | None = None,
) -> DataFrame:
    """Streaming MinHash-LSH NEAR-dedup at ingest: the gate between the
    exact-hash ``dedup_stream`` and the batch ``dedup_minhash_lsh`` — a
    production corpus pipeline drops near-duplicates AS DOCUMENTS ARRIVE
    instead of by periodic batch re-scans.

    Mechanics: foreachBatch banding over a file-source stream. Each
    micro-batch shingles and bands ONLY its own documents
    (``dedup.incremental_candidate_pairs`` discipline), joins the batch
    bands against the accumulated band index for candidates, verifies
    candidates by exact Jaccard against the accumulated shingle store,
    drops batch docs with a verified (≥ 0.5) partner of strictly smaller
    doc_id, and appends the batch's bands/shingles for future batches.
    State lives in batch-id-addressed parquet tables, NOT the Spark state
    store: every per-batch write (survivors, bands, shingles) overwrites
    its own ``batch=N`` subdir and the index read takes only batches
    STRICTLY below the current id, so a retried batch regenerates
    identical output instead of double-appending (the _merge_versioned
    discipline). At scale the index is a real table with TTL retention,
    and the candidate join shuffles only on (band_id, band_key) with the
    batch side broadcast-size.

    Determinism contract: ingest order is ascending doc_id (chunks are
    id-ranged with ascending mtimes), so "partner seen before me" ≡
    "partner with smaller doc_id" and the result is expressible as the
    batch full-recompute SQL — the bounded-input oracle. The decision
    rule is also batching-invariant: collapsing adjacent chunks into one
    micro-batch yields the same survivor set, because within-batch
    candidates apply the same smaller-id rule. The chunk-writing global
    sort below is TEST SCAFFOLDING (building an ordered landing zone),
    not part of the operator.

    Returns the survivor set (doc_id) read back from the sink."""
    import glob as globmod
    import time

    from pyspark.sql import Window

    src = _landing(work_dir)
    os.makedirs(src, exist_ok=True)
    # One-pass chunk scaffolding: corpus.count() plus FOUR filtered
    # writes would each recompute the global Window.orderBy sort — a
    # profiling breakdown charged ~5.9 s of the query's cold wall to
    # five executions of the same sort. ntile() yields the identical
    # id-ranged ascending chunks without needing n up front, and
    # partitionBy writes every chunk in ONE job; repartition(n_chunks,
    # "__c__") puts each chunk in exactly one task, so each chunk dir
    # holds exactly one file. Chunk boundaries shift by ±1 row vs
    # ceil-division for non-divisible n, which is immaterial: the
    # decision rule is batching-invariant (docstring above).
    w = Window.orderBy("doc_id")
    staged = f"{work_dir}/chunk_staged"
    (
        corpus.withColumn("__c__", F.ntile(n_chunks).over(w) - 1)
        .repartition(n_chunks, "__c__")
        .select("doc_id", "text", "__c__")
        .write.partitionBy("__c__")
        .mode("overwrite")
        .parquet(staged)
    )
    for c in range(n_chunks):
        d = f"{staged}/__c__={c}"
        if not os.path.isdir(d):  # fewer rows than chunks → empty chunk
            continue
        parts = [p for p in os.listdir(d) if p.endswith(".parquet")]
        assert len(parts) == 1, f"chunk {c}: expected one file, got {parts}"
        dst = f"{src}/chunk-{c:04d}.parquet"
        os.replace(f"{d}/{parts[0]}", dst)
        mt = time.time() - (n_chunks - c) * 10  # ascending mtimes = order
        os.utime(dst, (mt, mt))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        lsh_dedup_batch(spark, batch_df, batch_id, work_dir, max_bucket_rows)

    stream = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(src)
    )
    _drain(stream, process, f"{work_dir}/_ckpt")
    assert globmod.glob(f"{work_dir}/out/batch=*"), "no batches processed"
    return spark.read.parquet(f"{work_dir}/out/batch=*")


def _load_events_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch events load with the same ts normalization as the stream."""
    from movies_etl_spark.sources import readers

    return readers.load_table(spark, sf_dir, "events")


def incremental_distinct_rollup(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> DataFrame:
    """Incremental DISTINCT-count maintenance: a foreachBatch sink keeps
    per-day HyperLogLog register tables continuously merged as event
    batches arrive — the streaming complement of hll_distinct_shards,
    and the operator that answers "distinct users per day, updated per
    batch" without ever re-scanning history (a batch COUNT(DISTINCT)
    re-reads everything; additive rollups can't express distinctness —
    the HLL register table is the only bounded mergeable state for it).

    Each micro-batch reduces to (day, register, rho) partials
    (sketch.hll_partials — ≤ m=512 rows per day regardless of batch
    size) and merges them into the previous state by REGISTER-MAX,
    written batch-id-versioned exactly like incremental_hourly_rollup
    (idempotent retries, readers see only complete versions). Because
    the max-merge is associative and the hashing is deterministic md5,
    the final register table equals the whole-input sketch EXACTLY —
    so the estimates match the batch one-shot replay bit-for-bit (the
    oracle invariant), not merely approximately."""
    from movies_etl_spark.operators import sketch as SK

    ev = _load_events_batch(spark, sf_dir)
    source = ev.select(
        F.date_trunc("day", F.date_trunc("second", F.col("ts")))
        .cast("date")
        .alias("day"),
        F.col("user_id").cast("long").alias("user_id"),
    )

    def partials(batch_df: DataFrame) -> DataFrame:
        return SK.hll_partials(batch_df, "user_id", "day").withColumnRenamed(
            "shard", "day"
        )

    regs = _versioned_rollup(
        spark, source, ("day", "user_id"), work_dir, partials, HLL_STATE
    )
    return SK.hll_estimate(regs, ["day"])


def incremental_cms_rollup(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> DataFrame:
    """Incremental FREQUENCY-sketch maintenance: a foreachBatch sink
    keeps a count-min cell table continuously merged as corpus batches
    arrive — the streaming twin of heavy_hitters_cms, closing the
    sketch-family symmetry (HLL has hll_distinct_shards +
    streaming_hll_distinct; this is CMS's streaming side).

    Each micro-batch reduces to its own ≤ d·w-row (seed, cell, cnt)
    table (sketch.cms_partials — bounded regardless of batch size) and
    merges into the previous state by CELL-SUM, written
    batch-id-versioned. Unlike the HLL twin's register-max, the
    additive merge is NOT idempotent, so the versioned-state
    discipline (regenerate version v from the largest version < v;
    readers see only complete versions) is what makes retries safe —
    see _merge_versioned. Because md5 cell hashing is
    deterministic and summation associative, the post-stream cell
    table equals the one-shot whole-corpus sketch EXACTLY, so the
    point estimates match the batch oracle's replay bit-for-bit — the
    maintenance invariant under the driver's gate.

    Scale shape: per batch the work is one map-side-combinable
    aggregate of the batch (O(batch rows)) plus a ≤ d·w + d·w row
    merge (O(1) in corpus size) — frequency dashboards stay current
    without ever re-scanning history. Measured on the sf0.01 corpus
    split into 4 source files: every batch after the first runs its
    partials, the prior-version read and the versioned write as ONE
    Spark job of three stages under _tiny_merge_confs (batch scan to
    the partials' shuffle; partials and prior version to the merge's
    shuffle; merge and write), and as three jobs with AQE on
    (test_streaming_extra pins the first count). The returned frame
    joins the exact top-20 candidates (computed once, batch-side, from
    the same materialized source) against the streamed sketch's
    estimates, exposing the overestimate-only error contract as data."""
    from movies_etl_spark.operators import sketch as SK
    from movies_etl_spark.sources import readers

    d = (
        readers.load_table(spark, sf_dir, "documents")
        .select(F.split(F.col("text"), " ").alias("toks"))
        .filter(F.size("toks") >= 2)
    )
    bg = d.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "p -> concat(element_at(toks, p), ' ', element_at(toks, p + 1)))"
            )
        ).alias("bigram")
    )

    def partials(batch_df: DataFrame) -> DataFrame:
        return SK.cms_partials(batch_df, "bigram", F.lit(0)).drop("shard")

    # the exact/candidate tails read the whole landing zone, so the
    # split never reaches the output
    merged = _versioned_rollup(
        spark, bg, ("bigram",), work_dir, partials, CMS_STATE
    )
    bgb = spark.read.schema("bigram STRING").parquet(_landing(work_dir))
    exact = bgb.groupBy("bigram").agg(F.count(F.lit(1)).alias("exact_cnt"))
    cands = exact.orderBy(F.col("exact_cnt").desc(), "bigram").limit(20)
    est = SK.cms_point_estimate(merged, cands.select("bigram"), "bigram")
    return cands.join(est, "bigram").select(
        "bigram",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).alias("overest"),
    )
