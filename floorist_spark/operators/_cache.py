"""Lifetimes of persisted operator intermediates, each with one owner.

Operator builders persist intermediates the RETURNED lazy plan still
references (e.g. d04's hashed-shingle table feeds band signatures, the
candidate join, AND the Jaccard verify), so they cannot unpersist before
the caller runs its action. Instead, every ``persist()`` in an operator is
wrapped in :func:`track`, which records it in a list owned by the CALLING
THREAD — the thread that builds a catalog entry is the one that runs its
action (a floorplan dump, a sweep step), so it alone decides when the
entry's intermediates are dead. :func:`release_caches` unpersists the
calling thread's list. It is called

* by the catalog boundary before building each entry (caches of the
  thread's PREVIOUS, already-consumed entry — this covers any external
  harness that sweeps the catalog, including the correctness gate),
* by the export engine's executor when a dump ends, and
* by bench/selfcheck at the end of their sweeps,

keeping a ~100-query session's executor memory flat instead of accumulating
cached partitions per query. Concurrent dumps never touch each other's
intermediates: a build on one thread releases only that thread's list.

A second tier, :func:`memo`, deliberately SURVIVES the per-entry release:
it holds the few intermediates shared ACROSS entries (the dedup signature
chain), bounded to one dataset dir at a time — see its docstring.

Caveat: tracked DataFrames include ``localCheckpoint`` results (d09's final
label table, q45's calendar), whose lineage is truncated — after release
they can be neither read nor recomputed. The contract is therefore: a
catalog entry's returned DataFrame is valid until the NEXT entry is built
on the same thread, which is how every consumer (correctness gate, bench,
selfcheck, export engine, each of its dump threads) uses them.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame

#: per-thread tracked intermediates: the owner of a catalog entry's caches
#: is the thread that built it
_OWNER = threading.local()

#: (name, sf_dir) -> (SparkSession, persisted DataFrame). Unlike the
#: per-thread tracked lists,
#: memos survive the per-entry release: they hold intermediates SHARED
#: across catalog entries (the MinHash signature chain d03→d04→d09→d10→
#: d13 re-derived the same shingle+digest pass per entry before this).
_MEMO: dict = {}

#: session-lifetime handles (TrackedCheckpoints) backing memoized
#: DataFrames: a memo built over a localCheckpoint must keep the
#: checkpoint's RDD blocks alive as long as the memo itself (truncated
#: lineage ⇒ the persisted copy cannot be recomputed), so the handle's
#: lifetime is tied to the memo tier, not the per-entry tracked tier
_MEMO_AUX: list = []

#: the memo tier is shared by every thread: a miss builds under this lock
#: (re-entrant — one memo's build may read another), so concurrent misses
#: on one key build a single copy and never orphan a persisted duplicate
_MEMO_LOCK = threading.RLock()


def memo_aux(obj):
    """Register a handle (e.g. a TrackedCheckpoint) that must live as long
    as the memo tier; freed by release_memos() or when memos for another
    dataset are evicted. Returns it."""
    _MEMO_AUX.append(obj)
    return obj


def _drain_memo_aux() -> None:
    while _MEMO_AUX:
        obj = _MEMO_AUX.pop()
        try:
            obj.unpersist()
        except Exception:
            pass


def memo(spark, name: str, sf_dir: str, build):
    """Session-lifetime memo for a persisted intermediate keyed by
    (name, dataset dir). On hit, returns the already-materialized
    DataFrame; on miss, builds, persists (MEMORY_AND_DISK), eagerly
    materializes, and records it.

    Memory stays bounded: memos for any OTHER dataset dir or a different
    SparkSession are evicted on first use of a new one (sweeps run one
    sf_dir at a time), so at most one dataset's shared tables are ever
    live — O(1) per session, not O(entries). At cluster scale the same
    role is played by a checkpointed signature TABLE in storage; the memo
    is its session-local analogue."""
    sf_dir = os.path.realpath(sf_dir)
    key = (name, sf_dir)
    hit = _MEMO.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    with _MEMO_LOCK:
        hit = _MEMO.get(key)  # another thread's miss may have built it
        if hit is not None and hit[0] is spark:
            return hit[1]
        evicted = False
        for k in list(_MEMO):
            if k[1] != sf_dir or _MEMO[k][0] is not spark:
                _, stale = _MEMO.pop(k)
                evicted = True
                try:
                    stale.unpersist()
                except Exception:
                    pass
        if evicted:
            # memos are one-dataset-at-a-time, so any eviction means every
            # aux handle belongs to the dataset (or session) just dropped
            _drain_memo_aux()
        df = build().persist()
        df.count()
        _MEMO[key] = (spark, df)
        return df


def release_memos() -> None:
    """Unpersist and forget every memoized shared table (idempotent)."""
    with _MEMO_LOCK:
        for k in list(_MEMO):
            _, df = _MEMO.pop(k)
            try:
                df.unpersist()
            except Exception:
                pass
        _drain_memo_aux()


def tracked() -> list:
    """The calling thread's tracked intermediates, oldest first."""
    if not hasattr(_OWNER, "live"):
        _OWNER.live = []
    return _OWNER.live


def track(obj):
    """Record a persisted DataFrame (or TrackedCheckpoint) for release by
    the calling thread; returns it."""
    tracked().append(obj)
    return obj


def release_caches() -> None:
    """Unpersist every intermediate the calling thread tracked (idempotent,
    never raises — a dead SparkSession just means there is nothing left to
    free)."""
    live = tracked()
    while live:
        obj = live.pop()
        try:
            obj.unpersist()
        except Exception:
            pass


class TrackedCheckpoint:
    """Handle to the persistent RDD a ``localCheckpoint`` created.

    ``DataFrame.unpersist()`` only uncaches through the CacheManager; a
    local checkpoint's blocks live as an RDD-level persist that stays in
    the context's persistentRdds map until JVM GC. This handle records the
    checkpoint's RDD id and frees it through the map — after
    ``unpersist()`` the checkpointed DataFrame is gone for good (truncated
    lineage ⇒ not recomputable), which is exactly the point."""

    def __init__(self, sc, rdd_id: int):
        self._sc = sc
        self._id = rdd_id

    def unpersist(self) -> None:
        if self._id is not None:
            rdd = self._sc._jsc.getPersistentRDDs().get(self._id)
            if rdd is not None:
                rdd.unpersist()
        self._id = None


def local_checkpoint(df: DataFrame) -> tuple[DataFrame, TrackedCheckpoint]:
    """``df.localCheckpoint()`` plus a release handle for its blocks: the
    checkpointed plan is a scan of exactly one RDD, whose id the handle
    records."""
    out = df.localCheckpoint()
    rdd_id = out._jdf.queryExecution().analyzed().rdd().id()
    return out, TrackedCheckpoint(df.sparkSession.sparkContext, rdd_id)
