"""Bounded cache discipline for lazy query plans.

Several operators persist an intermediate that their returned plan consumes
more than once (LSH band tables, shingle frames, iteration labels). The
consuming action happens OUTSIDE the builder — the driver collects the
returned DataFrame later — so the builder cannot unpersist in a
try/finally without forfeiting the reuse it persisted for.

Instead every such persist is registered here, and the registry's query
wrapper calls :func:`release_tracked` before building the NEXT query: by
then the previous query's action has completed, so its caches are dead
weight. This bounds cached-block accumulation across a long driver
session running the full 100+-query suite (the round-1 bench log showed
BlockManager re-add warnings from exactly this accumulation).

Correctness never depends on a cache — an early release at worst
recomputes a deterministic plan — so releasing is always safe.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []

#: Audit registry for eager localCheckpoints (weakrefs — registration
#: must not extend the frames' lifetime). Checkpointed frames are NOT
#: in _TRACKED and must never be: lineage truncation makes the
#: checkpoint blocks the ONLY copy of the data, so an unpersist-style
#: release would destroy a frame the driver may still collect. Their
#: blocks free when the wrapper (and through it the JVM-side
#: LogicalRDD) is garbage-collected and the ContextCleaner reaps the
#: RDD — a per-session lifetime, not per-query.
#: ``live_checkpoints()`` keeps the accumulation auditable.
_CHECKPOINTED: list[weakref.ref] = []


def tracked_local_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager=...)`` plus audit registration.

    Unlike :func:`tracked_persist`, nothing ever releases these
    per-query — see the ``_CHECKPOINTED`` note above for why that is
    required, not an oversight. Eager checkpoints also EXECUTE the
    upstream pipeline at plan-BUILD time; callers place them only at
    stage boundaries whose evaluation the composite needs anyway."""
    out = df.localCheckpoint(eager=eager)
    _CHECKPOINTED.append(weakref.ref(out))
    return out


def live_checkpoints() -> int:
    """Number of checkpointed frames not yet garbage-collected — the
    audit hook for long multi-query sessions (bounded-cache report)."""
    _CHECKPOINTED[:] = [r for r in _CHECKPOINTED if r() is not None]
    return len(_CHECKPOINTED)


#: One shared lazy checkpoint per (session, key): a fresh corpus
#: checkpoint on EVERY recall-audit invocation would pin one resident
#: corpus copy per rep in a long multi-rep bench session until GC
#: happened to reap the wrapper, making storage-memory growth
#: load-bearing on GC timing. Strong refs are intentional (the
#: per-session lifetime IS the design — see _CHECKPOINTED); the session
#: identity check drops entries from stopped/replaced sessions.
_SHARED_CHECKPOINTS: dict[object, tuple[object, DataFrame]] = {}


def _session_stopped(sess) -> bool:
    """True once a SparkSession's context is stopped (``_jsc`` is
    cleared by ``SparkContext.stop``); unreadable state counts as
    stopped — the entry is unusable either way."""
    try:
        return sess.sparkContext._jsc is None
    except Exception:
        return True


def shared_local_checkpoint(df: DataFrame, key: object) -> DataFrame:
    """Memoized :func:`tracked_local_checkpoint` (lazy) keyed by
    ``(df.sparkSession, key)``.

    Callers use this for deterministic, input-immutable frames (a
    projection of a parquet table, a deterministic fixture) where every
    invocation would otherwise pin an identical resident copy. Bounds
    checkpoint accumulation at one per key per session instead of one
    per invocation.

    Every call first sweeps entries whose session has been stopped:
    an eviction on same-key recurrence alone would leave a
    stopped session's entry pinned for the process lifetime when its
    key never recurred — a strong ref holding the wrapper (and the
    JVM-side LogicalRDD) and still counting in the
    :func:`live_checkpoints` audit. Dead-session blocks are already
    gone with their JVM; only the wrapper leak is at stake, but the
    audit must not count ghosts."""
    for k in [
        k for k, (s, _) in _SHARED_CHECKPOINTS.items() if _session_stopped(s)
    ]:
        del _SHARED_CHECKPOINTS[k]
    sess = df.sparkSession
    hit = _SHARED_CHECKPOINTS.get(key)
    if hit is not None and hit[0] is sess:
        return hit[1]
    out = tracked_local_checkpoint(df, eager=False)
    _SHARED_CHECKPOINTS[key] = (sess, out)
    return out


def tracked_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` plus registration for end-of-query release."""
    df = df.persist()
    _TRACKED.append(df)
    return df


def release_tracked() -> None:
    """Unpersist every tracked frame (no-op for already-released ones);
    swallow errors from frames whose session has been stopped."""
    while _TRACKED:
        try:
            _TRACKED.pop().unpersist()
        except Exception:
            pass
