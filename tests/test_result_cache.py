"""StepResultCache (plans/result_cache.py) — watermark semantics of
ref internal/metricscache: full hit, partial hit computing only the
uncovered remainder, contiguous bridging for disjoint ranges, the
SafetyLag write-back exclusion; and the in-memory store's own rules:
one compute per gap, concurrent fills without duplicates, LRU
eviction and the row cap."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from oteldb_spark.plans.result_cache import StepResultCache

STEP = 10_000_000  # 10s in µs
T0 = 1_700_000_000_000_000


def _compute_factory(spark, calls):
    """Step frame: one series, value = step index; records each call."""

    def compute(s_us, e_us):
        calls.append((s_us, e_us))
        n = (e_us - s_us) // STEP + 1
        pdf = pd.DataFrame(
            {
                "series": ["a"] * n,
                "step_us": [s_us + i * STEP for i in range(n)],
                "value": [(s_us - T0) // STEP + i * 1.0 for i in range(n)],
            }
        )
        return spark.createDataFrame(pdf)

    return compute


def _steps(df):
    return sorted(r.step_us for r in df.collect())


def test_miss_then_full_hit(spark, tmp_path):
    calls = []
    cache = StepResultCache(str(tmp_path / "rc"))
    compute = _compute_factory(spark, calls)

    out = cache.query_range(spark, "q", T0, T0 + 9 * STEP, STEP, compute)
    assert _steps(out) == [T0 + i * STEP for i in range(10)]
    assert calls == [(T0, T0 + 9 * STEP)]
    assert cache.stats.misses == 1

    out2 = cache.query_range(spark, "q", T0, T0 + 9 * STEP, STEP, compute)
    assert _steps(out2) == _steps(out)
    assert calls == [(T0, T0 + 9 * STEP)]  # no recompute
    assert cache.stats.hits == 1

    # interior sub-range is also a pure hit
    out3 = cache.query_range(spark, "q", T0 + 2 * STEP, T0 + 5 * STEP, STEP, compute)
    assert _steps(out3) == [T0 + i * STEP for i in range(2, 6)]
    assert len(calls) == 1
    assert cache.stats.hits == 2


def test_partial_hit_extends_tail_and_head(spark, tmp_path):
    calls = []
    cache = StepResultCache(str(tmp_path / "rc"))
    compute = _compute_factory(spark, calls)

    cache.query_range(spark, "q", T0 + 4 * STEP, T0 + 7 * STEP, STEP, compute)
    assert calls == [(T0 + 4 * STEP, T0 + 7 * STEP)]

    # extend both directions: only the two gaps are computed
    out = cache.query_range(spark, "q", T0, T0 + 9 * STEP, STEP, compute)
    assert _steps(out) == [T0 + i * STEP for i in range(10)]
    assert calls[1:] == [(T0, T0 + 3 * STEP), (T0 + 8 * STEP, T0 + 9 * STEP)]
    assert cache.stats.partial_hits == 1

    # values identical to a straight computation
    vals = {r.step_us: r.value for r in out.collect()}
    assert vals[T0 + 9 * STEP] == 9.0 and vals[T0] == 0.0


def test_disjoint_range_bridges_watermark(spark, tmp_path):
    calls = []
    cache = StepResultCache(str(tmp_path / "rc"))
    compute = _compute_factory(spark, calls)

    cache.query_range(spark, "q", T0, T0 + STEP, STEP, compute)
    # disjoint above: computes from the watermark edge (bridge), but
    # returns only the requested steps
    out = cache.query_range(spark, "q", T0 + 5 * STEP, T0 + 6 * STEP, STEP, compute)
    assert _steps(out) == [T0 + 5 * STEP, T0 + 6 * STEP]
    assert calls[1] == (T0 + 2 * STEP, T0 + 6 * STEP)

    # the bridge is now covered: querying it is a pure hit
    cache.query_range(spark, "q", T0 + 2 * STEP, T0 + 4 * STEP, STEP, compute)
    assert len(calls) == 2
    assert cache.stats.hits == 1


def test_safety_lag_keeps_recent_steps_out(spark, tmp_path):
    calls = []
    cache = StepResultCache(str(tmp_path / "rc"), safety_lag_us=2 * STEP)
    compute = _compute_factory(spark, calls)

    now = T0 + 9 * STEP  # cutoff = now - 2*STEP = T0+7*STEP
    out = cache.query_range(spark, "q", T0, T0 + 9 * STEP, STEP, compute, now_us=now)
    assert _steps(out) == [T0 + i * STEP for i in range(10)]  # returned in full

    # steps 8..9 were not persisted: the re-query recomputes them
    out2 = cache.query_range(spark, "q", T0, T0 + 9 * STEP, STEP, compute, now_us=now)
    assert _steps(out2) == _steps(out)
    assert calls[1] == (T0 + 8 * STEP, T0 + 9 * STEP)
    assert cache.stats.partial_hits == 1


def test_safety_lag_truncated_head_gap_not_claimed(spark, tmp_path):
    """A head gap truncated by the safety-lag cutoff must NOT extend
    the watermark: persisting [s, cutoff] while claiming [s, hi] would
    leave steps (cutoff, old_lo) covered-but-empty, and later queries
    would silently return incomplete results."""
    calls = []
    cache = StepResultCache(str(tmp_path / "rc"), safety_lag_us=2 * STEP)
    compute = _compute_factory(spark, calls)

    # first call persists [7, 8] with meta.lo above the later cutoff
    cache.query_range(
        spark, "q", T0 + 7 * STEP, T0 + 8 * STEP, STEP, compute
    )  # now_us=None: everything persists
    # head-gap query [0, 8] with now placing the cutoff at step 5:
    # gap [0, 6] truncates to [0, 5], which is NOT contiguous with 7
    now = T0 + 7 * STEP
    out = cache.query_range(
        spark, "q", T0, T0 + 8 * STEP, STEP, compute, now_us=now
    )
    assert _steps(out) == [T0 + i * STEP for i in range(9)]  # full return
    assert cache.stats.skipped_inserts == 1

    # the head steps were not persisted: re-query recomputes the gap,
    # and every returned step actually has data (no silent hole)
    out2 = cache.query_range(
        spark, "q", T0, T0 + 8 * STEP, STEP, compute, now_us=now
    )
    assert _steps(out2) == [T0 + i * STEP for i in range(9)]
    assert calls[-1] == (T0, T0 + 6 * STEP)  # recomputed, not claimed
    vals = {r.step_us: r.value for r in out2.collect()}
    assert all(vals[T0 + i * STEP] == float(i) for i in range(9))


def test_each_gap_computed_once_and_served_locally(spark):
    """Every gap is computed and collected once: the returned frame is
    a local scan of the collected rows, so materializing it runs no
    compute plan again — also for a safety-lag tail, which is returned
    but not stored."""
    calls = []

    def compute(s_us, e_us):
        calls.append((s_us, e_us))
        n = (e_us - s_us) // STEP + 1
        return spark.range(n).select(
            F.lit("a").alias("series"),
            (F.lit(s_us) + F.col("id") * STEP).alias("step_us"),
            (F.lit((s_us - T0) // STEP) + F.col("id")).cast("double").alias("value"),
        )

    def check(out, n):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "Range" not in plan, plan
        vals = {r.step_us: r.value for r in out.collect()}
        assert vals == {T0 + i * STEP: float(i) for i in range(n)}

    cache = StepResultCache(safety_lag_us=2 * STEP)
    check(cache.query_range(spark, "q", T0, T0 + 5 * STEP, STEP, compute), 6)
    assert calls == [(T0, T0 + 5 * STEP)]

    # partial hit with a safety-lag tail: cutoff = T0 + 7*STEP, so the
    # gap [6, 9] stores [6, 7] and serves [8, 9] from the same rows
    now = T0 + 9 * STEP
    out = cache.query_range(spark, "q", T0, T0 + 9 * STEP, STEP, compute, now_us=now)
    check(out, 10)
    assert calls[1:] == [(T0 + 6 * STEP, T0 + 9 * STEP)]
    assert cache.stats.partial_hits == 1

    # only the unstored tail is computed again
    out = cache.query_range(spark, "q", T0, T0 + 9 * STEP, STEP, compute, now_us=now)
    check(out, 10)
    assert calls[2:] == [(T0 + 8 * STEP, T0 + 9 * STEP)]


def test_concurrent_fills_return_direct_rows_without_duplicates(spark):
    """Four threads fill the same entry at once: each answer equals the
    direct rows, and the overlapping merges leave no duplicated step."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    calls = []
    cache = StepResultCache()
    compute = _compute_factory(spark, calls)
    cache.query_range(spark, "q", T0, T0 + 3 * STEP, STEP, compute)
    barrier = threading.Barrier(4)

    def client(i):
        barrier.wait()
        out = cache.query_range(spark, "q", T0, T0 + (8 + i) * STEP, STEP, compute)
        return sorted((r.step_us, r.value) for r in out.collect())

    with ThreadPoolExecutor(max_workers=4) as pool:
        got = list(pool.map(client, range(4)))
    for i, rows in enumerate(got):
        assert rows == [(T0 + k * STEP, float(k)) for k in range(9 + i)]
    out = cache.query_range(spark, "q", T0, T0 + 11 * STEP, STEP, compute)
    rows = sorted((r.step_us, r.value) for r in out.collect())
    assert rows == [(T0 + k * STEP, float(k)) for k in range(12)]


def test_lru_evicts_whole_entry(spark, monkeypatch):
    """Over the byte bound the least-recently-used entry goes whole;
    its next lookup is a miss that recomputes correct rows."""
    from oteldb_spark.plans import result_cache

    calls = []
    cache = StepResultCache()
    compute = _compute_factory(spark, calls)
    cache.query_range(spark, "q1", T0, T0 + 9 * STEP, STEP, compute)
    one = cache._entries[("q1", STEP, T0 % STEP)].rows.nbytes
    monkeypatch.setattr(result_cache, "MAX_CACHE_BYTES", one + one // 2)

    cache.query_range(spark, "q2", T0, T0 + 9 * STEP, STEP, compute)
    assert [k[0] for k in cache._entries] == ["q2"]
    out = cache.query_range(spark, "q1", T0, T0 + 9 * STEP, STEP, compute)
    assert cache.stats.misses == 3 and len(calls) == 3
    vals = {r.step_us: r.value for r in out.collect()}
    assert vals == {T0 + i * STEP: float(i) for i in range(10)}
    assert [k[0] for k in cache._entries] == ["q1"]


def test_gap_over_row_cap_not_stored(spark, monkeypatch):
    """A gap with more rows than the facade cap is neither stored nor
    collected in full: it is returned as its plan, so the cached
    facade raises ResultTooLargeError exactly like an uncached one."""
    from oteldb_spark.api.serializers import ResultTooLargeError
    from oteldb_spark.engine import MetricSource, PromQLEngine
    from oteldb_spark.plans import result_cache

    monkeypatch.setattr(result_cache, "DEFAULT_MAX_RESULT_ROWS", 3)
    calls = []
    cache = StepResultCache()
    out = cache.query_range(
        spark, "q", T0, T0 + 9 * STEP, STEP, _compute_factory(spark, calls)
    )
    assert _steps(out) == [T0 + i * STEP for i in range(10)]
    assert cache.stats.skipped_inserts == 1 and not cache._entries

    n = 12  # samples per series, one per step
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "mtype": [f"m{i}" for i in range(4) for _ in range(n)],
                "instance": ["h"] * (4 * n),
                "ts_us": [T0 + k * STEP for _ in range(4) for k in range(n)],
                "counter_mod": [float(k) for _ in range(4) for k in range(n)],
            }
        )
    )
    src = MetricSource(
        df=pts,
        metrics={"events_value_total": "counter_mod"},
        label_cols=["mtype", "instance"],
    )
    eng = PromQLEngine(source=src, max_result_rows=3, result_cache=cache)
    with pytest.raises(ResultTooLargeError):
        eng.query_range(
            "rate(events_value_total[1m])", T0 + 6 * STEP, T0 + 9 * STEP, STEP
        )
    assert cache.stats.skipped_inserts == 2 and not cache._entries


def test_different_key_and_alignment_are_separate_entries(spark, tmp_path):
    calls = []
    cache = StepResultCache(str(tmp_path / "rc"))
    compute = _compute_factory(spark, calls)

    cache.query_range(spark, "q1", T0, T0 + 3 * STEP, STEP, compute)
    cache.query_range(spark, "q2", T0, T0 + 3 * STEP, STEP, compute)
    assert cache.stats.misses == 2
    # same key, shifted grid → different alignment → separate entry
    cache.query_range(spark, "q1", T0 + STEP // 2, T0 + 3 * STEP, STEP, compute)
    assert cache.stats.misses == 3


def test_engine_facade_uses_cache(spark, tmp_path):
    """PromQLEngine.query_range consults the cache when configured."""
    from oteldb_spark.engine import MetricSource, PromQLEngine
    from oteldb_spark.signals import counter_points_frame
    from oteldb_spark.queries.registry import START_US, STEP_US

    src = MetricSource(
        df=counter_points_frame(spark, "/root/testdata/sf0.001"),
        metrics={"events_value_total": "counter_mod"},
        label_cols=["mtype", "instance"],
    )
    cache = StepResultCache(str(tmp_path / "rc"))
    eng = PromQLEngine(
        source=src, lookback_us=12 * 3_600_000_000, result_cache=cache
    )
    end = START_US + 4 * STEP_US
    r1 = eng.query_range("rate(events_value_total[12h])", START_US, end, STEP_US)
    r2 = eng.query_range("rate(events_value_total[12h])", START_US, end, STEP_US)
    assert r1 == r2
    assert cache.stats.misses == 1 and cache.stats.hits == 1


def test_random_query_sequences_match_direct(spark, tmp_path):
    """Any sequence of range queries through the cache returns exactly
    what a direct computation returns, and no covered step is ever
    recomputed (seeded random ranges, one loop to bound Spark jobs)."""
    import random

    rng = random.Random(7)
    calls = []
    cache = StepResultCache(str(tmp_path / "rc"))
    compute = _compute_factory(spark, calls)
    lo, hi = 0, 30  # step indices
    seqs = [
        (rng.randint(lo, hi), rng.randint(0, 12)) for _ in range(12)
    ]
    for s_idx, n_steps in seqs:
        s = T0 + s_idx * STEP
        e = min(T0 + (s_idx + n_steps) * STEP, T0 + hi * STEP)
        got = cache.query_range(spark, "q", s, e, STEP, compute)
        want = [T0 + i * STEP for i in range(s_idx, (e - T0) // STEP + 1)]
        rows = {(r.step_us, r.value) for r in got.collect()}
        assert sorted(t for t, _ in rows) == want
        # values always match the generator: step index as float
        assert all(v == (t - T0) // STEP * 1.0 for t, v in rows)
    # the cache never recomputed a covered step: every computed range
    # is disjoint from all previously computed ranges
    seen = set()
    for s, e in calls:
        steps = set(range((s - T0) // STEP, (e - T0) // STEP + 1))
        assert not (steps & seen)
        seen |= steps


def test_logql_engine_facade_uses_cache(spark, tmp_path):
    """LogQLEngine metric queries consult the cache; log listings
    bypass it (the reference never caches those either)."""
    from oteldb_spark.engine import LogQLEngine, LogSource
    from oteldb_spark.signals import logs_frame
    from oteldb_spark.queries.registry import START_US, STEP_US

    src = LogSource(
        df=logs_frame(spark, "/root/testdata/sf0.001"),
        label_cols={"service": "service", "env": "env", "level": "level"},
    )
    cache = StepResultCache(str(tmp_path / "rc"))
    eng = LogQLEngine(source=src, result_cache=cache)
    end = START_US + 4 * STEP_US
    q = 'sum by (service) (count_over_time({env="prod"}[6h]))'
    r1 = eng.query_range(q, START_US, end, STEP_US)
    r2 = eng.query_range(q, START_US, end, STEP_US)
    assert r1 == r2 and r1["data"]["result"]
    assert cache.stats.misses == 1 and cache.stats.hits == 1

    # log listing: cache untouched
    eng.query_range('{env="prod"}', START_US, end, STEP_US, limit=5)
    assert cache.stats.misses == 1 and cache.stats.hits == 1
