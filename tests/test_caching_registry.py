"""Witnesses for the r10 hygiene contracts: the per-session HLL LUT
cache (weak, multi-session, actually-releasing), the localCheckpoint
audit registry, and the driver-window priority-name assertion.

These pin the FAILURE modes the advisories described, not just the
happy paths: a WeakKeyDictionary whose value references its key never
releases (the LUT cache must therefore cache the jdf, not the
DataFrame), and a priority-list typo must raise before the driver run
rather than silently shrinking the 50-row window (ADVICE r9)."""

from __future__ import annotations

import gc

import pytest

import __spark_entry__ as entrymod
from movies_etl_spark.operators import caching, sketch
from movies_etl_spark.plans import registry


def _lut_entries() -> int:
    # WeakKeyDictionary len() skips dead-but-unreaped keys only after a
    # sweep; len() is accurate post gc.collect().
    return len(sketch._LINEAR_LUT_CACHE)


def test_linear_lut_cache_hits_per_session(spark):
    sketch._LINEAR_LUT_CACHE.clear()
    regs = sketch.hll_partials(
        spark.range(10).withColumnRenamed("id", "k"), "k", sketch.F.lit("s")
    )
    lut1 = sketch._linear_lookup(regs)
    lut2 = sketch._linear_lookup(regs)
    # same JVM frame handle — the 512-row createDataFrame ran once
    assert sketch._LINEAR_LUT_CACHE[spark] is lut1._jdf
    assert lut2._jdf is lut1._jdf
    assert _lut_entries() == 1
    # and the cached frame is usable (the retention fix must not have
    # traded correctness for weakness)
    assert lut2.count() == sketch.HLL_M


def test_linear_lut_cache_serves_two_live_sessions(spark):
    sketch._LINEAR_LUT_CACHE.clear()
    ns = spark.newSession()
    regs_a = sketch.hll_partials(
        spark.range(5).withColumnRenamed("id", "k"), "k", sketch.F.lit("s")
    )
    regs_b = sketch.hll_partials(
        ns.range(5).withColumnRenamed("id", "k"), "k", sketch.F.lit("s")
    )
    lut_a = sketch._linear_lookup(regs_a)
    lut_b = sketch._linear_lookup(regs_b)
    # two live sessions, two entries — the r8 single slot evicted one
    assert _lut_entries() == 2
    assert lut_a._jdf is not lut_b._jdf
    # hits keep serving both sessions (no thrash between them)
    assert sketch._linear_lookup(regs_a)._jdf is lut_a._jdf
    assert sketch._linear_lookup(regs_b)._jdf is lut_b._jdf


def test_linear_lut_cache_releases_collected_session(spark):
    from pyspark.sql import SparkSession
    from pyspark.sql.session import _monkey_patch_RDD

    sketch._LINEAR_LUT_CACHE.clear()
    ns = spark.newSession()
    regs = sketch.hll_partials(
        ns.range(5).withColumnRenamed("id", "k"), "k", sketch.F.lit("s")
    )
    sketch._linear_lookup(regs)
    assert _lut_entries() == 1
    # Drop every strong reference to the session; the weak key must
    # release the entry. This is exactly the assertion that fails if
    # the cached VALUE is the DataFrame wrapper (it references the
    # session, so the entry — and the session — would live forever).
    # pyspark itself pins the most-recent session two ways that have
    # nothing to do with our cache and must be re-pointed at the main
    # session for the GC check to be observable: the _activeSession
    # classvar, and the RDD.toDF monkey-patch closure (installed
    # per-session on the RDD *class*).
    del regs
    del ns
    SparkSession._activeSession = spark
    _monkey_patch_RDD(spark)
    gc.collect()
    assert _lut_entries() == 0


def test_tracked_local_checkpoint_audits_and_releases(spark):
    base = caching.live_checkpoints()
    df = caching.tracked_local_checkpoint(spark.range(8))
    assert df.count() == 8
    assert caching.live_checkpoints() == base + 1
    # registration is weak: dropping the frame releases the audit entry
    del df
    gc.collect()
    assert caching.live_checkpoints() == base


def test_shared_local_checkpoint_memoizes_per_session_and_key(spark):
    """ADVICE r15 #3: repeated invocations (bench reps) must reuse ONE
    resident checkpoint per (session, key) instead of minting a new one
    per call; distinct keys stay distinct; a different session misses."""
    base = caching.live_checkpoints()
    a1 = caching.shared_local_checkpoint(spark.range(8), key=("t", "k1"))
    a2 = caching.shared_local_checkpoint(spark.range(8), key=("t", "k1"))
    assert a1 is a2
    assert a1.count() == 8
    assert caching.live_checkpoints() == base + 1
    b = caching.shared_local_checkpoint(spark.range(4), key=("t", "k2"))
    assert b is not a1
    assert caching.live_checkpoints() == base + 2
    # stale-session guard: replace the cached entry's session marker and
    # confirm a lookup from the live session re-mints instead of serving
    # a frame bound to another session
    caching._SHARED_CHECKPOINTS[("t", "k1")] = (object(), a1)
    c = caching.shared_local_checkpoint(spark.range(8), key=("t", "k1"))
    assert c is not a1
    for k in [("t", "k1"), ("t", "k2")]:
        caching._SHARED_CHECKPOINTS.pop(k, None)


def test_shared_checkpoint_sweeps_dead_session_entries(spark):
    """ADVICE r16 low: an entry whose session has been STOPPED must not
    stay pinned for the process lifetime waiting for its key to recur —
    every call sweeps dead-session entries, while live-session entries
    survive the sweep."""

    class _DeadCtx:
        _jsc = None

    class _DeadSess:
        sparkContext = _DeadCtx()

    caching._SHARED_CHECKPOINTS[("t", "dead")] = (_DeadSess(), object())
    live = caching.shared_local_checkpoint(spark.range(2), key=("t", "live"))
    assert ("t", "dead") not in caching._SHARED_CHECKPOINTS
    # a second call still serves the live entry (the sweep spared it)
    assert caching.shared_local_checkpoint(
        spark.range(2), key=("t", "live")
    ) is live
    caching._SHARED_CHECKPOINTS.pop(("t", "live"), None)


def test_checkpointed_frames_never_enter_tracked_release_list(spark):
    # release_tracked() unpersisting a localCheckpointed frame would
    # destroy its only data copy (lineage is truncated) — the audit
    # list must be disjoint from _TRACKED by construction.
    before = list(caching._TRACKED)
    df = caching.tracked_local_checkpoint(spark.range(4))
    assert caching._TRACKED == before
    assert df.count() == 4


def test_merge_movies_is_tracked_and_released(spark):
    """merge_movies returns a persisted frame registered with caching;
    release_tracked() unpersists it, as it does clean_wiki's cache."""
    from movies_etl_spark.plans import pipeline

    caching.release_tracked()
    wiki = spark.createDataFrame(
        [("tt1", "W", 100)], "imdb_id string, title string, running_time int"
    )
    kaggle = spark.createDataFrame(
        [("tt1", 5, "K", 0)], "imdb_id string, id bigint, title string, runtime int"
    )
    movies = pipeline.merge_movies(wiki, kaggle)
    assert any(df is movies for df in caching._TRACKED)
    assert movies.storageLevel.useMemory
    assert movies.collect()[0]["runtime"] == 100
    caching.release_tracked()
    assert not caching._TRACKED
    assert not movies.storageLevel.useMemory


def test_every_round_priority_name_is_registered():
    missing = [
        n for n in entrymod._CURRENT_PRIORITY if n not in registry.QUERIES
    ]
    assert not missing, f"_CURRENT_PRIORITY has unregistered names: {missing}"


def test_current_window_is_exactly_fifty_unique_names():
    window = entrymod._CURRENT_PRIORITY[:50]
    assert len(entrymod._CURRENT_PRIORITY) == 50
    assert len(set(window)) == 50


def test_ordered_raises_on_unregistered_priority_name(monkeypatch):
    monkeypatch.setattr(
        entrymod, "_CURRENT_PRIORITY", ["groupby_count", "no_such_query"]
    )
    with pytest.raises(AssertionError, match="no_such_query"):
        entrymod._ordered(registry.QUERIES)


def test_ordered_puts_window_first_then_registration_order():
    ordered = entrymod._ordered(registry.QUERIES)
    assert ordered[: len(entrymod._CURRENT_PRIORITY)] == [
        n for n in entrymod._CURRENT_PRIORITY if n in registry.QUERIES
    ]
    assert sorted(ordered) == sorted(registry.QUERIES)
    assert len(ordered) == len(registry.QUERIES)
