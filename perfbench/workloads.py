"""The two workloads and the closed-loop client that drives them.

Every workload talks to the program only through its public surface:
the facades of ``oteldb_spark.engine``, the shared
``plans.result_cache.StepResultCache`` and the OTLP ingest path of
``sources.otlp_pb`` + ``streaming.ingest``.  One client process issues
the next operation only after the previous one returned.

A workload has three phases: ``setup`` (sources, facades, warm-up),
``step`` (one timed closed-loop operation group) and ``check``
(untimed correctness); ``extra_metrics`` gives the figures of the
layers only it drives, and ``teardown`` stops what it started.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import gen

# PromQL lookback (staleness window) of the dashboard's metric facade
LOOKBACK_US = gen.HOUR_US


@dataclass(frozen=True)
class Query:
    kind: str  # panel name, or read_after_write on ingest
    lang: str  # logql | promql | traceql
    q: str
    start_us: int = 0
    end_us: int = 0
    step_us: int = 0
    limit: int | None = None
    now_us: int | None = None


@dataclass
class OpRecord:
    """Per-operation layer measurements (traced runs only)."""

    parse_ms: float = 0.0
    frame_ms: float = 0.0
    collect_ms: float = 0.0
    rows: int = 0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str  # fresh per-run directory, removed at exit
    data_dir: str
    seed: int
    traced: bool
    latencies_ms: list = field(default_factory=list)
    latency_kinds: list = field(default_factory=list)  # Query.kind per latency
    op_records: list = field(default_factory=list)
    ops: int = 0
    failed: int = 0
    checks: int = 0
    check_failed: int = 0
    n_group: int = 0

    def fail(self, what: str, detail: str) -> None:
        print(f"[perfbench] FAIL {what}: {detail}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# read side: sources, facades, the client call
# ---------------------------------------------------------------------------


class Facades:
    """Loki/Prometheus/Tempo facades over the generated testdata; the
    Loki and Prometheus facades share one StepResultCache."""

    def __init__(self, spark, data_dir: str, cache_dir: str | None) -> None:
        from oteldb_spark.engine import LogQLEngine, PromQLEngine, TraceQLEngine
        from oteldb_spark.logql import LogSource
        from oteldb_spark.plans.result_cache import StepResultCache
        from oteldb_spark.promql import MetricSource
        from oteldb_spark.signals import (
            counter_points_frame,
            logs_frame,
            spans_frame,
        )
        from oteldb_spark.traceql import SpanSource

        self.cache = StepResultCache(cache_dir) if cache_dir else None
        self.log_source = LogSource(
            df=logs_frame(spark, data_dir),
            label_cols={"service": "service", "env": "env", "level": "level"},
        )
        self.metric_source = MetricSource(
            df=counter_points_frame(spark, data_dir),
            metrics={"events_gauge": "gauge", "events_value_total": "counter_mod"},
            label_cols=["mtype", "instance"],
        )
        self.span_source = SpanSource(
            df=spans_frame(spark, data_dir),
            attr_cols={"service": "service", "service.name": "service"},
        )
        self.logql = LogQLEngine(self.log_source, result_cache=self.cache)
        self.promql = PromQLEngine(
            self.metric_source, lookback_us=LOOKBACK_US, result_cache=self.cache
        )
        self.traceql = TraceQLEngine(self.span_source)


def facade_call(f: Facades, q: Query) -> dict:
    """The one public facade call a client makes for ``q``."""
    if q.lang == "logql":
        return f.logql.query_range(
            q.q, q.start_us, q.end_us, q.step_us, limit=q.limit, now_us=q.now_us
        )
    if q.lang == "promql":
        return f.promql.query_range(
            q.q, q.start_us, q.end_us, q.step_us, now_us=q.now_us
        )
    return f.traceql.search(q.q, limit=q.limit)


def _parse(q: Query):
    if q.lang == "logql":
        from oteldb_spark.logql.parser import parse
    elif q.lang == "promql":
        from oteldb_spark.promql.parser import parse
    else:
        from oteldb_spark.traceql.parser import parse
    return parse(q.q)


def _frame(f: Facades, q: Query):
    """The frame step of the facade call (``query_range_frame`` /
    ``search_frame``)."""
    if q.lang == "logql":
        return f.logql.query_range_frame(
            q.q, q.start_us, q.end_us, q.step_us, limit=q.limit, now_us=q.now_us
        )
    if q.lang == "promql":
        return f.promql.query_range_frame(
            q.q, q.start_us, q.end_us, q.step_us, now_us=q.now_us
        )
    return f.traceql.search_frame(q.q, q.limit)


def _serialize(f: Facades, q: Query, df, parsed) -> dict:
    """The serializer step, exactly as the facade's query method
    applies it to the frame."""
    from oteldb_spark.api import serializers as ser

    if q.lang == "traceql":
        return ser.tempo_search(df)
    if q.lang == "logql":
        from oteldb_spark.logql.ast import LogQuery

        if isinstance(parsed, LogQuery):
            labels = [c for c in df.columns if c not in ("ts_us", "body")]
            return ser.loki_streams(df, labels, max_rows=f.logql.max_result_rows)
        labels = [c for c in df.columns if c not in ("step_us", "value")]
        return ser.loki_matrix(df, labels, max_rows=f.logql.max_result_rows)
    labels = [c for c in df.columns if c not in ("step_us", "value")]
    return ser.prom_matrix(df, labels, max_rows=f.promql.max_result_rows)


def concurrently(f: Facades, queries: list[Query]) -> list[dict]:
    """Facade calls for ``queries`` on one thread each (untimed
    warm-up and check work); the answers in order."""
    with ThreadPoolExecutor(max_workers=len(queries)) as pool:
        futures = [pool.submit(facade_call, f, q) for q in queries]
        return [fut.result() for fut in futures]


def result_rows(resp: dict) -> int:
    if "traces" in resp:
        return len(resp["traces"])
    return sum(len(s.get("values", ())) for s in resp["data"]["result"])


def timed_query(ctx: Ctx, kind: str, run_query) -> dict | None:
    """Run one query operation: ``run_query(span_fn)`` returns the
    wire dict.  Untraced, it is timed as one call; traced, it runs
    under a job group with spans, and the layer record is kept."""
    ctx.ops += 1
    try:
        if not ctx.traced:
            t0 = time.perf_counter()
            resp = run_query(None)
            ctx.latencies_ms.append((time.perf_counter() - t0) * 1e3)
            ctx.latency_kinds.append(kind)
            return resp
        from probes import spark_job_counts

        ctx.n_group += 1
        group = f"perfbench-{ctx.n_group}"
        sc = ctx.spark.sparkContext
        sc.setJobGroup(group, group)
        rec = OpRecord()
        try:
            with ctx.tracer.span("query") as sp:
                resp = run_query(rec)
            ctx.latencies_ms.append((sp.end - sp.start) * 1e3)
            ctx.latency_kinds.append(kind)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        rec.rows = result_rows(resp)
        rec.jobs, rec.stages, rec.tasks = spark_job_counts(ctx.spark, group)
        ctx.op_records.append(rec)
        return resp
    except Exception:  # noqa: BLE001 — an operation failure is counted, the run goes on
        ctx.failed += 1
        ctx.fail("operation", traceback.format_exc())
        return None


def client_query(ctx: Ctx, f: Facades, q: Query) -> dict | None:
    """One facade query, decomposed into parse/frame/serialize spans
    when traced (the same two steps the facade's query method takes,
    plus a separately timed parse of the same string)."""

    def run(rec: OpRecord | None) -> dict:
        if rec is None:
            return facade_call(f, q)
        tr = ctx.tracer
        with tr.span("parse") as sp:
            parsed = _parse(q)
        rec.parse_ms = _span_ms(sp)
        with tr.span("frame") as sp:
            df = _frame(f, q)
        rec.frame_ms = _span_ms(sp)
        with tr.span("collect") as sp:
            resp = _serialize(f, q, df, parsed)
        rec.collect_ms = _span_ms(sp)
        return resp

    return timed_query(ctx, q.kind, run)


def _span_ms(sp) -> float:
    return (sp.end - sp.start) * 1e3


class TracedCache:
    """Wraps a StepResultCache so traced runs see the cache lookup and
    each gap compile as spans; the wrapped object does all the work."""

    def __init__(self, inner, tracer) -> None:
        self.inner = inner
        self.tracer = tracer

    @property
    def stats(self):
        return self.inner.stats

    def query_range(self, spark, key, start_us, end_us, step_us, compute, now_us=None):
        tr = self.tracer

        def traced_compute(s_us, e_us):
            with tr.span("gap_compile"):
                return compute(s_us, e_us)

        with tr.span("result_cache"):
            return self.inner.query_range(
                spark, key, start_us, end_us, step_us, traced_compute, now_us
            )


def _install_cache_tracing(f: Facades, tracer) -> None:
    if f.cache is not None:
        wrapped = TracedCache(f.cache, tracer)
        f.logql.result_cache = wrapped
        f.promql.result_cache = wrapped


def dir_stats(*paths: str) -> tuple[int, int]:
    """(bytes, parquet data files) under ``paths``."""
    size = files = 0
    for root_dir in paths:
        for root, _dirs, names in os.walk(root_dir):
            for n in names:
                try:
                    size += os.path.getsize(os.path.join(root, n))
                except OSError:
                    continue
                if n.endswith(".parquet"):
                    files += 1
    return size, files


def compare_matrix(got: dict, want: dict) -> str | None:
    from oteldb_spark.referee import diff_points, engine_to_points

    return diff_points(engine_to_points(got), engine_to_points(want))


# ---------------------------------------------------------------------------
# dashboard
# ---------------------------------------------------------------------------

DASH_RANGE_US = 24 * gen.HOUR_US
DASH_STEP_US = 15 * gen.MIN_US

# A Grafana-style panel set: 2 LogQL metric panels, 1 Loki log listing,
# 2 PromQL panels and 1 TraceQL search.
PANELS = [
    ("logs_by_level", "logql",
     'sum by (level) (count_over_time({env="prod"}[15m]))', None),
    ("logs_json_topk", "logql",
     'topk(3, sum by (service) (rate({env="prod"} | json | k > 50 [15m])))', None),
    ("log_listing", "logql", '{level="ERROR"} |= `"k": 4`', 100),
    ("prom_rate", "promql", "sum by (mtype) (rate(events_value_total[1h]))", None),
    ("prom_topk_avg", "promql",
     "topk(3, avg by (instance) (avg_over_time(events_gauge[1h])))", None),
    ("trace_errors", "traceql", "{ status = error } | count() > 3", 20),
]


class Dashboard:
    """One client refreshes the panel set in a loop; a virtual clock
    advances one step per refresh and is passed as ``now_us``."""

    def __init__(self, ctx: Ctx) -> None:
        rng = random.Random(f"dashboard-{ctx.seed}")
        # first refresh lands 2-20 days into the generated data
        self.now0 = gen.EPOCH_US + DASH_RANGE_US + rng.randrange(
            DASH_RANGE_US, 19 * 24 * 4 * DASH_STEP_US, DASH_STEP_US
        )
        self.refresh_no = 0
        self.last: list[tuple[Query, dict | None]] = []

    def setup(self, ctx: Ctx) -> None:
        self.f = Facades(ctx.spark, ctx.data_dir, os.path.join(ctx.work, "cache"))
        if ctx.traced:
            _install_cache_tracing(self.f, ctx.tracer)
        # warm-up: one refresh fills the cache for every cached panel
        # (concurrently, which shortens the cold JVM phase)
        concurrently(self.f, self._refresh_queries())
        st = self.f.cache.stats
        self.stats0 = (st.hits + st.partial_hits, st.misses)

    def _refresh_queries(self) -> list[Query]:
        now = self.now0 + self.refresh_no * DASH_STEP_US
        self.refresh_no += 1
        return [
            Query(kind, lang, text, now - DASH_RANGE_US, now, DASH_STEP_US,
                  limit=limit, now_us=now)
            for kind, lang, text, limit in PANELS
        ]

    def step(self, ctx: Ctx) -> bool:
        self.last = [(q, client_query(ctx, self.f, q)) for q in self._refresh_queries()]
        return True

    def check(self, ctx: Ctx) -> None:
        """Each cached panel's answer in the last refresh equals a
        cache-free recompute of the same request."""
        plain = Facades(ctx.spark, ctx.data_dir, None)
        cached = [
            (q, resp) for q, resp in self.last
            if q.lang in ("logql", "promql") and q.limit is None
        ]
        fresh = concurrently(plain, [q for q, _ in cached])
        for (q, resp), want in zip(cached, fresh):
            ctx.checks += 1
            d = "no answer" if resp is None else compare_matrix(resp, want)
            if d is not None:
                ctx.check_failed += 1
                ctx.fail(f"cache vs recompute {q.kind}", d)

    def store_paths(self, ctx: Ctx) -> list[str]:
        return [ctx.data_dir, os.path.join(ctx.work, "cache")]

    def teardown(self, ctx: Ctx) -> None:
        pass

    def extra_metrics(self, ctx: Ctx, cpu_s: float) -> list:
        """The result-cache figures of the timed refreshes, as (name,
        value, unit, note): (hits + partial hits) / lookups, and the
        bytes the cache holds at the end."""
        st = self.f.cache.stats
        hits = st.hits + st.partial_hits - self.stats0[0]
        lookups = hits + st.misses - self.stats0[1]
        cache_bytes = dir_stats(os.path.join(ctx.work, "cache"))[0]
        return [
            ("cache_hit_ratio", hits / lookups if lookups else 0.0, "1",
             f"lookups={lookups}"),
            ("cache_bytes", cache_bytes, "B", ""),
        ]


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


WARM_TICKS = 2


class Ingest:
    """One writer lands seeded OTLP protobuf request files in fixed
    ticks; two long-running streams ingest them (logs through
    ``stream_logs_from_pb``, metrics through ``pb_metrics`` into a
    foreachBatch of the series-registry MERGE plus a date-partitioned
    append); after each tick both streams are drained and a LogQL
    read-after-write query must count exactly the tick's records."""

    def __init__(self, ticks: list) -> None:
        self.ticks = ticks
        self.next_tick = 0
        self.write_ms: list[float] = []
        self.records_stored = 0
        self.merge_ms: list[float] = []
        self.append_ms: list[float] = []
        self.progress: list[dict] = []  # progress of timed data batches
        self.seen_batches: set[tuple[int, int]] = set()
        self.timed = False  # set once the warm-up ticks are done
        self.batches_per_tick: list[int] = []

    def setup(self, ctx: Ctx) -> None:
        from pyspark.sql import functions as F

        from oteldb_spark.sources.otlp_pb import pb_metrics
        from oteldb_spark.streaming.ingest import (
            stream_logs_from_pb,
            upsert_series_registry,
        )

        w = ctx.work
        self.dirs = {
            k: os.path.join(w, k)
            for k in ("in_logs", "in_metrics", "logs", "points", "registry",
                      "ckpt_logs", "ckpt_metrics")
        }
        for k in ("in_logs", "in_metrics"):
            os.makedirs(self.dirs[k], exist_ok=True)
        spark = ctx.spark
        self.log_q = stream_logs_from_pb(
            spark, self.dirs["in_logs"], self.dirs["logs"], self.dirs["ckpt_logs"],
            available_now=False,
        )
        raw = (
            spark.readStream.format("binaryFile")
            .schema("path string, modificationTime timestamp, length long, content binary")
            .option("pathGlobFilter", "*.binpb")
            .option("maxFilesPerTrigger", 64)
            .load(self.dirs["in_metrics"])
        )
        flat = pb_metrics(raw.select(F.col("content").alias("payload"))).select(
            "name", "labels", "ts_ns", "value", "series_hash",
            F.to_date(F.timestamp_micros(F.expr("ts_ns div 1000"))).alias("date"),
        )
        tracer, reg, points = ctx.tracer, self.dirs["registry"], self.dirs["points"]

        def sink(batch, _batch_id):
            # two actions on the micro-batch: persist so the wire
            # decode runs once (the tools/bench_ingest composition)
            batch.persist()
            try:
                with tracer.span("registry_merge"):
                    t0 = time.perf_counter()
                    upsert_series_registry(
                        spark, batch.select("series_hash", "name", "labels", "ts_ns"), reg
                    )
                    t1 = time.perf_counter()
                with tracer.span("store_append"):
                    batch.drop("labels").write.mode("append").partitionBy("date").parquet(
                        points
                    )
                    t2 = time.perf_counter()
                if self.timed:
                    self.merge_ms.append((t1 - t0) * 1e3)
                    self.append_ms.append((t2 - t1) * 1e3)
            finally:
                batch.unpersist(blocking=False)

        self.metric_q = (
            flat.writeStream.foreachBatch(sink)
            .option("checkpointLocation", self.dirs["ckpt_metrics"])
            .outputMode("append")
            .start()
        )
        # warm-up: untimed ticks through both streams and the query
        for _ in range(WARM_TICKS):
            self._tick(ctx, warm=True)

    def _land(self, t: gen.Tick) -> None:
        """Write the tick's request files under hidden names, then
        rename them all: a stream that listed its input directory
        while the files were still being written would split the tick
        into two micro-batches, and the metric stream's sink (the
        registry MERGE) would run twice."""
        staged = []
        for in_dir, payloads in ((self.dirs["in_logs"], t.log_payloads),
                                 (self.dirs["in_metrics"], t.metric_payloads)):
            for i, body in enumerate(payloads):
                name = f"t{t.no:05d}_{i:03d}"
                tmp = os.path.join(in_dir, f".{name}.tmp")
                with open(tmp, "wb") as fh:
                    fh.write(body)
                staged.append((tmp, os.path.join(in_dir, f"{name}.binpb")))
        for tmp, final in staged:
            os.rename(tmp, final)

    def _log_facade(self, spark):
        from pyspark.sql import functions as F

        from oteldb_spark.engine import LogQLEngine
        from oteldb_spark.logql import LogSource

        df = spark.read.parquet(self.dirs["logs"]).select(
            F.expr("timestamp_ns div 1000").alias("ts_us"),
            "body",
            "service_name",
            F.col("severity_text").alias("level"),
        )
        return LogQLEngine(
            LogSource(df=df, label_cols={"service_name": "service_name", "level": "level"})
        )

    def _drain(self) -> int:
        """Block until both streams committed everything landed;
        returns the micro-batches that carried data."""
        self.log_q.processAllAvailable()
        self.metric_q.processAllAvailable()
        n = 0
        for k, q in enumerate((self.log_q, self.metric_q)):
            for p in q.recentProgress:
                p = _as_dict(p)
                key = (k, p["batchId"])
                if p.get("numInputRows", 0) > 0 and key not in self.seen_batches:
                    self.seen_batches.add(key)
                    if self.timed:
                        self.progress.append(p)
                    n += 1
        return n

    def _tick(self, ctx: Ctx, warm: bool = False) -> None:
        """Land one tick's files, drain both streams, then run the
        read-after-write query; all three under one trace."""
        t = self.ticks[self.next_tick]
        self.next_tick += 1
        tr = ctx.tracer
        with tr.span("tick"):
            with tr.span("land_files"):
                self._land(t)
            with tr.span("drain") as sp:
                tr.foreign_parent = sp
                t0 = time.perf_counter()
                batches = self._drain()
                dt = (time.perf_counter() - t0) * 1e3
                tr.foreign_parent = None
            q = _raw_query(t)

            def run(rec: OpRecord | None) -> dict:
                if rec is None:
                    return self._log_facade(ctx.spark).query_range(
                        q.q, q.start_us, q.end_us, q.step_us
                    )
                from oteldb_spark.api.serializers import loki_matrix

                with tr.span("open_store"):
                    eng = self._log_facade(ctx.spark)
                with tr.span("parse") as sp:
                    _parse(q)
                rec.parse_ms = _span_ms(sp)
                with tr.span("frame") as sp:
                    df = eng.query_range_frame(q.q, q.start_us, q.end_us, q.step_us)
                rec.frame_ms = _span_ms(sp)
                with tr.span("collect") as sp:
                    labels = [c for c in df.columns if c not in ("step_us", "value")]
                    resp = loki_matrix(df, labels, max_rows=eng.max_result_rows)
                rec.collect_ms = _span_ms(sp)
                return resp

            resp = run(None) if warm else timed_query(ctx, q.kind, run)
        if not warm:
            self.write_ms.append(dt)
            self.records_stored += t.n_log_records + t.n_points
            self.batches_per_tick.append(batches)
        ctx.checks += 1
        got = _single_count(resp)
        if got != t.n_log_records:
            ctx.check_failed += 1
            ctx.fail(f"read-after-write tick {t.no}", f"counted {got}, sent {t.n_log_records}")

    def step(self, ctx: Ctx) -> bool:
        """One tick; False once the pre-generated ticks are used up."""
        if self.next_tick >= len(self.ticks):
            return False
        self.timed = True
        self._tick(ctx)
        return True

    def check(self, ctx: Ctx) -> None:
        spark = ctx.spark
        sent = self.ticks[: self.next_tick]
        want = {
            "log records": sum(t.n_log_records for t in sent),
            "metric points": sum(t.n_points for t in sent),
            "registry series": len(set().union(*(t.series for t in sent))),
        }
        got = {
            "log records": spark.read.parquet(self.dirs["logs"]).count(),
            "metric points": spark.read.parquet(self.dirs["points"]).count(),
            "registry series": spark.read.parquet(self.dirs["registry"]).count(),
        }
        for k in want:
            ctx.checks += 1
            if got[k] != want[k]:
                ctx.check_failed += 1
                ctx.fail(f"stored {k}", f"stored {got[k]}, sent {want[k]}")

    def store_paths(self, ctx: Ctx) -> list[str]:
        return [self.dirs["logs"], self.dirs["points"], self.dirs["registry"]]

    def extra_metrics(self, ctx: Ctx, cpu_s: float) -> list:
        """The ingest-side metrics, as (name, value, unit, note)."""
        store_bytes = dir_stats(*self.store_paths(ctx))[0]
        records = self.records_stored
        all_records = sum(t.n_log_records + t.n_points for t in self.ticks[: self.next_tick])
        prog = self.progress
        add = [p["durationMs"].get("addBatch", 0) for p in prog]
        over = [p["durationMs"].get("triggerExecution", 0) - a for p, a in zip(prog, add)]
        return [
            ("ingest_records_per_s", records / (sum(self.write_ms) / 1e3), "1/s",
             f"records={records}"),
            ("write_p50_ms", median(self.write_ms), "ms", f"n={len(self.write_ms)}"),
            ("ingest_cpu_us_per_record", cpu_s * 1e6 / records, "us", ""),
            ("store_bytes_per_record", store_bytes / all_records, "B",
             f"bytes={store_bytes} records={all_records}"),
            ("micro_batches_per_tick", statistics.fmean(self.batches_per_tick), "count", ""),
            ("stream_addbatch_ms", median(add), "ms", f"n={len(add)}"),
            ("stream_overhead_ms", median(over), "ms", f"n={len(over)}"),
            ("registry_merge_ms", median(self.merge_ms), "ms", f"n={len(self.merge_ms)}"),
            ("store_append_ms", median(self.append_ms), "ms", f"n={len(self.append_ms)}"),
        ]

    def teardown(self, ctx: Ctx) -> None:
        for q in (getattr(self, "log_q", None), getattr(self, "metric_q", None)):
            if q is not None and q.isActive:
                q.stop()


def _raw_query(t: gen.Tick) -> Query:
    """The read-after-write query of tick ``t``: one step at the
    tick's end whose window is exactly the tick."""
    end = t.start_us + gen.TICK_US
    return Query(
        "read_after_write", "logql",
        f'sum(count_over_time({{service_name=~"svc-.*"}}[{gen.TICK_US // 1_000_000}s]))',
        end, end, gen.TICK_US,
    )


def _as_dict(p) -> dict:
    if isinstance(p, dict):
        return p
    return p.jsonValue() if hasattr(p, "jsonValue") else dict(p)


def _single_count(resp: dict | None) -> int:
    if resp is None:
        return -1
    total = 0.0
    for s in resp["data"]["result"]:
        total += sum(float(v) for _t, v in s["values"])
    return int(round(total))


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
