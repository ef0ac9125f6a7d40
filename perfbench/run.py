#!/usr/bin/env python3
"""oteldb_spark benchmark: one command, two workloads.

    python3 perfbench/run.py --workload {dashboard,ingest} \
        --seed N --seconds S --trace {0,1}

Run from the repository root.  The command builds its inputs from
``--seed``, starts Spark on ``local[nproc]``, sets up the workload,
runs a closed loop of one client for about ``--seconds`` (whole
operation groups; at least one), checks every answer untimed, and
prints a report of every metric (name, value, unit, sample count)
followed by ONE JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a separate traced run, whose spans are written to
``.perfbench/trace-<workload>-seed<N>.jsonl``.  All run state (Spark
local dirs, the result cache, the ingest stores, temp files) lives in
a fresh ``.perfbench/run-<pid>`` directory removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")

# driver heap: fixed, well below the RAM of a small host, and committed
# up front (-Xms = -Xmx) so heap growth does not follow whatever the
# GC heuristics pick for the program's 48g default
DRIVER_MEM = "2g"

END_TO_END = [
    ("setup_s", "s"),
    ("query_p50_ms", "ms"),
    ("ops_per_s", "1/s"),
    ("cpu_ms_per_op", "ms"),
    ("peak_rss_mb", "MB"),
]
PER_LAYER = [
    ("parse_ms", "ms"),
    ("frame_ms", "ms"),
    ("collect_ms", "ms"),
    ("result_rows_per_query", "count"),
    ("jobs_per_query", "count"),
    ("stages_per_query", "count"),
    ("tasks_per_query", "count"),
    ("store_files", "count"),
    ("driver_cpu_s", "s"),
    ("jvm_cpu_s", "s"),
    ("gc_ms", "ms"),
    ("traced_query_p50_ms", "ms"),
]
# per-layer metrics that only the traced client measures
TRACED_ONLY = {
    "parse_ms", "frame_ms", "collect_ms", "result_rows_per_query",
    "jobs_per_query", "stages_per_query", "tasks_per_query", "traced_query_p50_ms",
}


def _process_start_epoch() -> float:
    """Wall-clock time this process was started (from /proc)."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def _pin_env(work: str) -> None:
    """Environment of the run: every core, a bounded heap, and every
    scratch location inside the run directory."""
    ncpu = len(os.sched_getaffinity(0))
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers start in the run directory: let them import the
    # program (pandas-UDF operators, the OTLP wire decode)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    # -XX:-UsePerfData: the JVM would otherwise keep its perf-data
    # file under /tmp, outside the run directory
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"{opts} -Xms{DRIVER_MEM} -XX:-UsePerfData"
        f" -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    ).strip()


def _stop_jvm() -> None:
    """End the JVM PySpark launched and wait for it: it exits on EOF
    of its stdin once the gateway is closed."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = gw.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _pct(xs: list[float], p: float) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def _report(name: str, value, unit: str, note: str = "") -> None:
    print(f"# {name} = {value:.6g} {unit}{'  ' + note if note else ''}", flush=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["dashboard", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    t_proc = _process_start_epoch()

    sys.path[:0] = [HERE, ROOT]
    try:
        import pyspark  # noqa: F401

        import oteldb_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2

    work = os.path.join(OUT_DIR, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, work, t_proc)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, t_proc: float) -> int:
    _pin_env(work)
    os.chdir(work)  # anything Spark writes relative to cwd stays in the run dir

    import gen
    import probes
    import workloads as wl
    from tracing import Tracer

    from oteldb_spark.session import get_spark

    traced = bool(args.trace)
    tracer = Tracer(traced)
    data_dir = os.path.join(work, "data")
    os.makedirs(data_dir)
    t0 = time.time()
    ticks = None
    if args.workload == "ingest":
        ticks = gen.ingest_ticks(args.seed, wl.WARM_TICKS + int(args.seconds) + 2)
    else:
        gen.write_tables(data_dir, args.seed)
    gen_s = time.time() - t0

    spark = None
    workload = None
    try:
        # set-up: session (launches the JVM), sources, facades, warm-up
        spark = get_spark(f"perfbench-{args.workload}")
        session_s = time.time() - t_proc
        ctx = wl.Ctx(spark, tracer, work, data_dir, args.seed, traced)
        if args.workload == "dashboard":
            workload = wl.Dashboard(ctx)
        else:
            workload = wl.Ingest(ticks)
        tracer.enabled = False  # spans only for the timed phase
        workload.setup(ctx)
        tracer.enabled = traced
        setup_s = time.time() - t_proc

        cpu0 = probes.tree_cpu()
        steal0 = probes.host_cpu_times()
        gc0 = probes.jvm_gc_ms(spark)
        # closed loop of whole operation groups, started while the
        # timed phase is shorter than --seconds
        t_start = time.perf_counter()
        while workload.step(ctx) and time.perf_counter() - t_start < args.seconds:
            pass
        wall = time.perf_counter() - t_start
        cpu = probes.tree_cpu() - cpu0
        steal = probes.steal_pct(steal0, probes.host_cpu_times())
        gc_ms = probes.jvm_gc_ms(spark) - gc0
        peak = probes.peak_rss_mb()
        store_files = wl.dir_stats(*workload.store_paths(ctx))[1]
        extra = workload.extra_metrics(ctx, cpu.total)

        workload.check(ctx)
    except Exception:  # noqa: BLE001 — report, print no result
        traceback.print_exc()
        return 1
    finally:
        if workload is not None:
            try:
                workload.teardown(ctx)
            except Exception:  # noqa: BLE001
                traceback.print_exc()
        if spark is not None:
            spark.stop()
            _stop_jvm()

    lat = ctx.latencies_ms
    n = len(lat)
    p50 = statistics.median(lat) if lat else 0.0
    e2e = {
        "setup_s": setup_s,
        "query_p50_ms": p50,
        "ops_per_s": ctx.ops / wall,
        "cpu_ms_per_op": cpu.total * 1e3 / max(ctx.ops, 1),
        "peak_rss_mb": peak,
    }
    recs = ctx.op_records

    def med(attr: str) -> float:
        return statistics.median([getattr(r, attr) for r in recs]) if recs else 0.0

    def mean(attr: str) -> float:
        return statistics.fmean([getattr(r, attr) for r in recs]) if recs else 0.0

    layer = {
        "parse_ms": med("parse_ms"),
        "frame_ms": med("frame_ms"),
        "collect_ms": med("collect_ms"),
        "result_rows_per_query": mean("rows"),
        "jobs_per_query": mean("jobs"),
        "stages_per_query": mean("stages"),
        "tasks_per_query": mean("tasks"),
        "store_files": float(store_files),
        "driver_cpu_s": cpu.driver,
        "jvm_cpu_s": cpu.jvm,
        "gc_ms": gc_ms,
        "traced_query_p50_ms": p50,
    }

    # ---- report: every metric by name and unit ------------------------------
    print(f"# workload={args.workload} seed={args.seed} trace={args.trace} "
          f"cpus={os.environ['SPARK_GRAFT_CPUS']} driver_mem={DRIVER_MEM}", flush=True)
    _report("timed_wall_s", wall, "s", f"ops={ctx.ops}")
    _report("setup_s", setup_s, "s",
            f"(input generation {gen_s:.3f} s, up to a started session {session_s:.3f} s)")
    _report("query_p50_ms", p50, "ms", f"n={n}")
    by_kind: dict[str, list[float]] = {}
    for kind, ms in zip(ctx.latency_kinds, lat):
        by_kind.setdefault(kind, []).append(ms)
    for kind, xs in by_kind.items():
        _report(f"query_p50_ms.{kind}", statistics.median(xs), "ms", f"n={len(xs)}")
    tail_p = 0.9
    beyond = int(n * (1 - tail_p))
    if n >= 100 and beyond >= 10:
        _report("query_p90_ms", _pct(lat, tail_p), "ms", f"n={n}")
    else:
        print(f"# query_p90_ms not kept: n={n} gives {beyond} samples beyond p90 (<10)")
    op = "tick (land, drain, query)" if args.workload == "ingest" else "facade query"
    _report("ops_per_s", e2e["ops_per_s"], "1/s", f"(op = {op})")
    _report("cpu_ms_per_op", e2e["cpu_ms_per_op"], "ms", f"(op = {op})")
    _report("peak_rss_mb", peak, "MB")
    for name, value, unit, note in extra:
        _report(name, value, unit, note)
    # figures of one workload only, or of the host: printed, not compared
    _report("pyworker_cpu_s", cpu.pyworker, "s")
    _report("host_steal_pct", steal, "%", "(environment, not compared)")
    attempted = ctx.ops + ctx.checks
    failed = ctx.failed + ctx.check_failed
    _report("fail_ratio", failed / attempted if attempted else 1.0, "1",
            f"failed={failed} attempted={attempted}")
    for k, unit in PER_LAYER:
        if traced or k not in TRACED_ONLY:
            _report(k, layer[k], unit)

    if traced:
        os.makedirs(OUT_DIR, exist_ok=True)
        path = os.path.join(OUT_DIR, f"trace-{args.workload}-seed{args.seed}.jsonl")
        tracer.write(path)
        print(f"# spans written: {path} ({len(tracer.spans)} spans)")
        for name, ms in sorted(tracer.self_time_ms().items(), key=lambda kv: -kv[1]):
            _report(f"self_ms.{name}", ms, "ms")
        last = os.path.join(OUT_DIR, f"untraced-{args.workload}.json")
        try:
            with open(last) as f:
                base = json.load(f)
            over = 100.0 * (p50 / base["query_p50_ms"] - 1.0)
            _report("tracing_overhead_pct", over, "%",
                    f"traced p50 vs untraced p50 of seed {base['seed']}")
        except (OSError, ValueError, KeyError, ZeroDivisionError):
            print("# tracing_overhead_pct: no untraced run of this workload to compare")
    else:
        os.makedirs(OUT_DIR, exist_ok=True)
        with open(os.path.join(OUT_DIR, f"untraced-{args.workload}.json"), "w") as f:
            json.dump({"seed": args.seed, "query_p50_ms": p50}, f)

    chosen = PER_LAYER if traced else END_TO_END
    values = layer if traced else e2e
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in chosen},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
