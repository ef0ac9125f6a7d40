"""Query-result cache for step queries (SURVEY §2.4 "query-result
cache"; reference ``internal/metricscache/{cache,entry,block}.go``).

The reference caches per-series compressed point blocks keyed by
``(series hash, step, fn)`` with a contiguous ``[minTS, maxTS]``
watermark (block.go:24-37): a query is a *hit* when the watermark
covers its whole range, a *partial hit* when it covers a prefix or
suffix (cache.go:20-27 CacheStats), in which case only the uncovered
remainder is fetched from storage and the watermark is extended
(entry.go merge).  A ``SafetyLag`` keeps points near ``now`` out of
the cache (cache.go:36-44 Options) so late arrivals are not frozen.

Spark-native analog at DataFrame granularity: one in-memory entry per
``(query key, step, grid alignment)`` — a watermark and one
``pyarrow.Table`` of step rows — in an LRU dict behind one lock (the
reference keeps its blocks in memory behind ``locks[256]``).  The
facades collect every answer anyway, so each uncovered gap is computed
and collected once (capped at the facades' row limit + 1), merged, and
returned with the cached rows as one ``createDataFrame(arrow)``: a
``LocalRelation`` whose collect runs no Spark job.  A merge replaces
the entry's rows for its steps, so a concurrent fill or a replay never
duplicates rows; a crash loses only the cache.  Over
``MAX_CACHE_BYTES`` of Arrow data, whole least-recently-used entries
are evicted.

Splitting the step range is exact because every step value depends
only on source data in that step's own trailing window: computing
steps ``[a, b]`` in two sub-ranges on the same grid yields the same
rows as one full computation.  Coverage is kept contiguous the same
way the reference does — a query disjoint from the watermark computes
the bridge from the watermark edge too, storing (but not returning)
the extra steps.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from dataclasses import dataclass, field
from functools import reduce
from typing import Callable, NamedTuple

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from ..api.serializers import DEFAULT_MAX_RESULT_ROWS

ComputeFn = Callable[[int, int], DataFrame]
"""(start_us, end_us) -> step rows for the grid steps inside the range."""

MAX_CACHE_BYTES = 64 << 20
"""Arrow bytes all entries may hold before LRU eviction."""


@dataclass
class CacheStats:
    """Mirror of the reference's CacheStats counters (cache.go:20-27)."""

    hits: int = 0
    partial_hits: int = 0
    misses: int = 0
    skipped_inserts: int = 0


class _Entry(NamedTuple):
    lo_us: int
    hi_us: int
    rows: pa.Table


def _grid_floor(ts_us: int, step_us: int, align_us: int) -> int:
    return (ts_us - align_us) // step_us * step_us + align_us


def _concat(tables: list[pa.Table]) -> pa.Table:
    return pa.concat_tables(tables, promote_options="default").combine_chunks()


def _in_steps(rows: pa.Table, lo_us: int, hi_us: int):
    st = rows["step_us"]
    return pc.and_(pc.greater_equal(st, lo_us), pc.less_equal(st, hi_us))


@dataclass
class StepResultCache:
    """Watermarked in-memory cache of ``(labels..., step_us, value)`` rows.

    ``cache_dir`` is unread — entries live in process memory; the
    field stays so existing ``StepResultCache(cache_dir, ...)`` calls
    keep working.  ``safety_lag_us`` mirrors Options.SafetyLag
    (cache.go:38-40): steps newer than ``now_us - safety_lag_us`` are
    returned but not stored, so the next query recomputes them.  Pass
    ``now_us`` explicitly — the engine has no business reading the
    wall clock inside a plan.
    """

    cache_dir: str | None = None
    safety_lag_us: int = 60_000_000
    stats: CacheStats = field(default_factory=CacheStats)
    _entries: OrderedDict = field(default_factory=OrderedDict, init=False, repr=False)
    _lock: threading.Lock = field(default_factory=threading.Lock, init=False)

    def query_range(
        self,
        spark,
        key: str,
        start_us: int,
        end_us: int,
        step_us: int,
        compute: ComputeFn,
        now_us: int | None = None,
    ) -> DataFrame:
        """Steps of ``key`` on the grid ``start_us + k*step_us`` ≤ end_us.

        Computes and collects only the grid ranges the watermark
        doesn't cover, stores them minus the safety-lag tail, and
        returns the requested range as one DataFrame.
        """
        align_us = start_us % step_us
        ekey = (key, step_us, align_us)
        grid_hi = _grid_floor(end_us, step_us, align_us)  # last step ≤ end
        cutoff = None
        if now_us is not None:
            cutoff = _grid_floor(now_us - self.safety_lag_us, step_us, align_us)
        with self._lock:
            ent = self._entries.get(ekey)
            if ent is None:
                self.stats.misses += 1
            else:
                self._entries.move_to_end(ekey)
                if ent.lo_us <= start_us and grid_hi <= ent.hi_us:
                    self.stats.hits += 1
                else:
                    self.stats.partial_hits += 1

        # uncovered grid ranges to compute, each (s, e) inclusive
        gaps: list[tuple[int, int]] = []
        tables: list[pa.Table] = []
        if ent is None:
            gaps.append((start_us, grid_hi))
        else:
            if start_us < ent.lo_us:
                gaps.append((start_us, ent.lo_us - step_us))
            if grid_hi > ent.hi_us:
                gaps.append((ent.hi_us + step_us, grid_hi))
            tables.append(ent.rows.filter(_in_steps(ent.rows, start_us, grid_hi)))

        plans: list[DataFrame] = []
        for s, e in gaps:
            df = compute(s, e)
            rows = df.limit(DEFAULT_MAX_RESULT_ROWS + 1).toArrow()
            if rows.num_rows > DEFAULT_MAX_RESULT_ROWS:
                # too large to hold: serve the gap from its plan, so
                # the facade's row cap fires as it does uncached
                with self._lock:
                    self.stats.skipped_inserts += 1
                plans.append(df.where(df["step_us"].between(start_us, grid_hi)))
                continue
            store_e = e if cutoff is None else min(e, cutoff)
            self._merge(ekey, s, store_e, rows)
            tables.append(rows.filter(_in_steps(rows, start_us, grid_hi)))

        frames = plans
        if tables:
            frames = [spark.createDataFrame(_concat(tables)), *plans]
        return reduce(DataFrame.unionByName, frames)

    def _merge(self, ekey: tuple, s: int, e: int, rows: pa.Table) -> None:
        """Store ``rows``' steps ``[s, e]`` in the entry, replacing any
        rows it holds for those steps.  An empty ``[s, e]``, or one not
        contiguous with the entry's watermark (a head gap cut short by
        the safety lag), is skipped: extending the watermark over it
        would count steps without data as covered."""
        step_us = ekey[1]
        with self._lock:
            ent = self._entries.get(ekey)
            disjoint = ent is not None and (
                s > ent.hi_us + step_us or e < ent.lo_us - step_us
            )
            if e < s or disjoint:
                self.stats.skipped_inserts += 1
                return
            new = rows.filter(_in_steps(rows, s, e))
            if ent is not None:
                kept = ent.rows.filter(pc.invert(_in_steps(ent.rows, s, e)))
                new = _concat([kept, new])
                s, e = min(s, ent.lo_us), max(e, ent.hi_us)
            self._entries[ekey] = _Entry(s, e, new)
            self._entries.move_to_end(ekey)
            total = sum(x.rows.nbytes for x in self._entries.values())
            while total > MAX_CACHE_BYTES:
                _, old = self._entries.popitem(last=False)
                total -= old.rows.nbytes
