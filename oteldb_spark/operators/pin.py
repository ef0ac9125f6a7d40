"""Lineage pinning for plans whose expensive stage feeds multiple
branches (dedup signatures, shingle joins).

``pin(df)`` marks the shared stage to compute once.  The default is
``persist(StorageLevel.DISK_ONLY)``: recomputable from lineage after
a lost executor (what a real cluster wants), and — measured on
local[32] — *more* stable than ``localCheckpoint``, whose block
replication/cleanup intermittently stalled repeat runs by 10-20s.
``SPARK_GRAFT_PIN=local`` opts into ``localCheckpoint`` (true lineage
truncation); a path value (``SPARK_GRAFT_PIN=<hdfs dir>``) uses a
reliable checkpoint that survives driver restarts.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame

# Live pins, so a long-lived session (the engine facade, bench.py) can
# release cached blocks between queries instead of accumulating them in
# the CacheManager until the session dies.  persist() entries are keyed
# by logical plan JVM-side, not by this wrapper, so GC of the wrapper
# does NOT reclaim the blocks — an explicit release hook is required.
# Weak references: a strong list would retain every pinned wrapper (and
# through it, its SparkSession) for the process lifetime in sessions
# that never call release_pins (pytest, the grading driver).  A pin
# whose wrapper was GC'd before release is swept by the
# ``catalog.clearCache()`` callers pair with this hook.
_LIVE_PINS: list["weakref.ref[DataFrame]"] = []


def pin_mode() -> str:
    """``SPARK_GRAFT_PIN``: ``disk`` (the default), ``local``, or a
    reliable-checkpoint directory."""
    return os.environ.get("SPARK_GRAFT_PIN", "disk")


def release_pins(sweep_dead: bool = True) -> int:
    """Unpersist every pin issued since the last release; returns the
    number released.  No-op for localCheckpoint / reliable-checkpoint
    modes (nothing held in the block-manager cache to drop).

    Pins whose Python wrapper was GC'd before release (e.g. the coords
    pin created inside ``descendants_nested``) cannot be unpersisted
    individually — persist entries are keyed by logical plan JVM-side.
    With ``sweep_dead=True`` (the default, what the repo's own harness
    callers want), finding any dead ref triggers a
    ``catalog.clearCache()`` sweep on the sessions still reachable from
    live refs, so calling ``release_pins()`` alone never leaks cached
    blocks for the session lifetime.  The sweep is SESSION-WIDE — it
    also drops user ``cache()``/``cacheTable`` entries unrelated to
    pins — so EMBEDDING callers that hold their own cached frames
    should pass ``sweep_dead=False`` and accept that dead pins' blocks
    live until the session ends (or clear the cache themselves at a
    boundary they control)."""
    n = 0
    dead = 0
    sessions = []
    for ref in _LIVE_PINS:
        df = ref()
        if df is None:
            dead += 1
            continue
        try:
            sessions.append(df.sparkSession)
            df.unpersist(blocking=False)
            n += 1
        except Exception:
            pass  # session already stopped
    if dead and sweep_dead:
        if not sessions:  # every wrapper died: fall back to the active session
            try:
                from pyspark.sql import SparkSession

                s = SparkSession.getActiveSession()
                if s is not None:
                    sessions.append(s)
            except Exception:
                pass
        seen = set()
        for s in sessions:
            if id(s) in seen:
                continue
            seen.add(id(s))
            try:
                s.catalog.clearCache()
            except Exception:
                pass
    _LIVE_PINS.clear()
    return n


def repin(df: DataFrame, *, small: bool = False) -> DataFrame:
    """Revive a memoized pin after :func:`release_pins` dropped its
    blocks: re-persists iff running in persist mode and the frame's
    storage level has been cleared.  Callers that memoize pinned
    frames across queries MUST route the memo hit through this, or a
    release leaves them silently recomputing the subtree per branch."""
    if pin_mode() != "disk":
        return df  # checkpoint modes don't live in the block cache
    lvl = df.storageLevel
    if not (lvl.useMemory or lvl.useDisk):
        from pyspark.storagelevel import StorageLevel

        df.persist(
            StorageLevel.MEMORY_AND_DISK if small else StorageLevel.DISK_ONLY
        )
        _LIVE_PINS.append(weakref.ref(df))
    return df


def pin(df: DataFrame, *, small: bool = False) -> DataFrame:
    """``small=True`` marks a frame known to be output-sized (partial
    aggregates, spine tables) rather than data-sized: those persist
    MEMORY_AND_DISK, since re-reading them from disk every branch costs
    more than the few MB of executor memory they occupy.  Data-sized
    pins stay DISK_ONLY — at 100 TB an in-memory pin of a shingle or
    signature table would evict the working set."""
    mode = pin_mode()
    if mode == "local":
        return df.localCheckpoint(eager=False)
    if mode == "disk":
        from pyspark.storagelevel import StorageLevel

        out = df.persist(
            StorageLevel.MEMORY_AND_DISK if small else StorageLevel.DISK_ONLY
        )
        _LIVE_PINS.append(weakref.ref(out))
        return out
    # a path: reliable checkpoint directory
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(mode)
    return df.checkpoint(eager=False)
