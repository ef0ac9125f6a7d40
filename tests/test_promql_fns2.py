"""Round-2 PromQL function tail: sort ordering, pi/trig, timestamp,
date family with a vector argument, smoothing edge cases."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from oteldb_spark.promql import MetricSource, PromParams, compile_promql
from oteldb_spark.promql.parser import parse

SF = "/root/testdata/sf0.001"


def _source(spark):
    from oteldb_spark.signals import counter_points_frame

    return MetricSource(
        df=counter_points_frame(spark, SF),
        metrics={"events_gauge": "gauge", "events_value_total": "counter_mod"},
        label_cols=["mtype", "instance"],
    )


def _params():
    from oteldb_spark.queries.registry import END_US, RANGE_US, START_US, STEP_US

    return PromParams(START_US, END_US, STEP_US, lookback_us=RANGE_US)


def test_sort_desc_orders_rows(spark):
    out = compile_promql(
        "sort_desc(count_over_time(events_gauge[12h]))",
        _source(spark),
        _params(),
        spark,
    )
    vals = [r.value for r in out.collect()]
    assert vals, "sort_desc should return rows"
    assert vals == sorted(vals, reverse=True)


def test_sort_orders_rows_ascending(spark):
    out = compile_promql(
        "sort(count_over_time(events_gauge[12h]))",
        _source(spark),
        _params(),
        spark,
    )
    vals = [r.value for r in out.collect()]
    assert vals == sorted(vals)


def test_pi_constant(spark):
    out = compile_promql("pi()", _source(spark), _params(), spark)
    rows = out.collect()
    assert rows and all(r.value == math.pi for r in rows)


def test_trig_identity(spark):
    # cos(x)^2 + sin(x)^2 == 1 (within fp) on real data
    out = compile_promql(
        "sin(count_over_time(events_gauge[12h]))", _source(spark), _params(), spark
    )
    out2 = compile_promql(
        "cos(count_over_time(events_gauge[12h]))", _source(spark), _params(), spark
    )
    s = {(r.mtype, r.instance, r.step_us): r.value for r in out.collect()}
    c = {(r.mtype, r.instance, r.step_us): r.value for r in out2.collect()}
    assert s.keys() == c.keys() and s
    for k in s:
        assert abs(s[k] ** 2 + c[k] ** 2 - 1.0) < 1e-9


def test_date_funcs_with_vector_arg(spark):
    # with an argument, the sample VALUES are epoch seconds
    # (2024-03-15 12:00:00 UTC = 1710504000)
    out = compile_promql(
        "year(vector(1710504000))", _source(spark), _params(), spark
    )
    assert {r.value for r in out.collect()} == {2024.0}
    out = compile_promql(
        "day_of_year(vector(1710504000))", _source(spark), _params(), spark
    )
    assert {r.value for r in out.collect()} == {75.0}
    out = compile_promql(
        "days_in_month(vector(1710504000))", _source(spark), _params(), spark
    )
    assert {r.value for r in out.collect()} == {31.0}


def test_timestamp_values_are_sample_times(spark):
    out = compile_promql(
        "timestamp(events_gauge)", _source(spark), _params(), spark
    )
    max_ts = _source(spark).df.agg(F.max("ts_us").alias("m")).collect()[0].m / 1e6
    vals = [r.value for r in out.collect()]
    assert vals and all(v <= max_ts for v in vals)


def test_smoothing_matches_reference_fold(spark):
    # one synthetic series replayed through the compiled plan vs the
    # straight Python port of Prometheus' fold
    rows = [("a", "i1", 1_000_000 * i, float(v)) for i, v in enumerate(
        [10, 12, 11, 15, 14, 18], start=1
    )]
    df = spark.createDataFrame(rows, "mtype string, instance string, ts_us long, gauge double")
    src = MetricSource(df=df, metrics={"m": "gauge"}, label_cols=["mtype", "instance"])
    params = PromParams(6_000_000, 6_000_000, 1_000_000, lookback_us=6_000_000)
    out = compile_promql(
        "double_exponential_smoothing(m[6s], 0.4, 0.3)", src, params, spark
    ).collect()

    def hw(samples, sf, tf):
        s1 = samples[0]
        b = samples[1] - samples[0]
        for x in samples[1:]:
            s0, s1 = s1, sf * x + (1 - sf) * (s1 + b)
            b = tf * (s1 - s0) + (1 - tf) * b
        return s1

    assert len(out) == 1
    assert out[0].value == pytest.approx(
        hw([10.0, 12.0, 11.0, 15.0, 14.0, 18.0], 0.4, 0.3), abs=1e-12
    )


def test_at_start_end_sentinels_parse():
    e = parse("events_gauge @ start()")
    assert e.at_us == "start"
    e = parse("events_gauge @ end()")
    assert e.at_us == "end"
    e = parse("events_gauge @ 1704067200")
    assert e.at_us == 1_704_067_200_000_000


def test_sort_by_label_orders_rows(spark):
    out = compile_promql(
        'sort_by_label(count_over_time(events_gauge[12h]), "instance")',
        _source(spark),
        _params(),
        spark,
    ).collect()
    assert out
    insts = [r["instance"] for r in out]
    assert insts == sorted(insts)
    desc = compile_promql(
        'sort_by_label_desc(count_over_time(events_gauge[12h]), "instance")',
        _source(spark),
        _params(),
        spark,
    ).collect()
    insts_d = [r["instance"] for r in desc]
    assert insts_d == sorted(insts_d, reverse=True)


def test_mad_over_time_matches_definition(spark):
    import statistics

    src = _source(spark)
    p = _params()
    mad = {
        (r["mtype"], r["instance"], r["step_us"]): r["value"]
        for r in compile_promql(
            "mad_over_time(events_gauge[12h])", src, p, spark
        ).collect()
    }
    assert mad
    # spot-check one window against a driver-side recomputation
    fan_key = next(iter(mad))
    from oteldb_spark.operators.stepfanout import fanout

    pts = src.df.select(
        "mtype", "instance", "ts_us", F.col("gauge").alias("sample")
    ).filter((F.col("mtype") == fan_key[0]) & (F.col("instance") == fan_key[1]))
    fanned = fanout(pts, p.start_us, p.end_us, p.step_us, p.lookback_us)
    vals = [
        r["sample"]
        for r in fanned.filter(F.col("step_us") == fan_key[2]).collect()
    ]
    med = statistics.median(vals)
    expect = statistics.median(abs(v - med) for v in vals)
    assert abs(mad[fan_key] - expect) < 1e-9


def test_hist_sum_merges_series_bucketwise(spark):
    """sum by () over a native histogram merges observation streams:
    the grouped count equals the total across instances, and the
    merged quantile matches a direct recomputation over all samples."""
    from oteldb_spark.queries.promql_fns2 import _source as _hsource

    src = _hsource(spark, SF)
    p = _params()
    total = compile_promql(
        "histogram_count(sum(events_hist))", src, p, spark
    ).collect()
    per_series = compile_promql(
        "histogram_count(events_hist)", src, p, spark
    ).collect()
    by_step: dict[int, float] = {}
    for r in per_series:
        by_step[r.step_us] = by_step.get(r.step_us, 0.0) + r.value
    for r in total:
        assert r.value == by_step[r.step_us]


def test_hist_sum_rejects_non_sum_ops(spark):
    from oteldb_spark.queries.promql_fns2 import _source as _hsource

    src = _hsource(spark, SF)
    with pytest.raises(SyntaxError):
        compile_promql(
            "histogram_count(avg(events_hist))", src, _params(), spark
        )


def test_ts_of_family_semantics(spark):
    """ts_of_{max,min,last}_over_time: timestamp (float seconds) of
    the extreme/last sample per window; ties resolve to the LATEST
    occurrence (Prometheus iterates with >= / <=)."""
    rows = [
        # (ts_us, value) — max 9.0 appears twice: ts 2000 must win;
        # min 1.0 appears twice: ts 4000 must win; last sample ts 5000
        (1_000_000, 9.0),
        (2_000_000, 9.0),
        (3_000_000, 1.0),
        (4_000_000, 1.0),
        (5_000_000, 4.0),
    ]
    pts = spark.createDataFrame(
        [("a", "h", t, v) for t, v in rows],
        "mtype string, instance string, ts_us long, gauge double",
    ).withColumn("counter_mod", F.col("gauge")).withColumn(
        "counter", F.col("gauge")
    )
    src = MetricSource(
        df=pts,
        metrics={"events_gauge": "gauge"},
        label_cols=["mtype", "instance"],
    )
    params = PromParams(10_000_000, 10_000_000, 1_000_000,
                        lookback_us=10_000_000)
    got = {}
    for fn in ("ts_of_max_over_time", "ts_of_min_over_time",
               "ts_of_last_over_time"):
        out = compile_promql(
            f"{fn}(events_gauge[10s])", src, params, spark
        )
        got[fn] = [r.value for r in out.collect()]
    assert got["ts_of_max_over_time"] == [2.0]
    assert got["ts_of_min_over_time"] == [4.0]
    assert got["ts_of_last_over_time"] == [5.0]


def test_info_unmatched_passthrough(spark):
    """info(): samples with no matching info row keep flowing with the
    data label absent (left join), and matched samples take the LATEST
    info row inside the lookback."""
    import dataclasses

    pts = spark.createDataFrame(
        [
            ("a", "h1", 1_000_000, 5.0),
            ("a", "h2", 1_000_000, 7.0),
        ],
        "mtype string, instance string, ts_us long, gauge double",
    )
    info = spark.createDataFrame(
        [
            ("h1", 500_000, "east"),
            ("h1", 900_000, "west"),  # later row wins
            # h2 has no info rows
        ],
        "instance string, ts_us long, region string",
    )
    src = MetricSource(
        df=pts,
        metrics={"g": "gauge"},
        label_cols=["mtype", "instance"],
        info_df=info,
        info_identifying=["instance"],
    )
    params = PromParams(1_000_000, 1_000_000, 1_000_000,
                        lookback_us=1_000_000)
    out = compile_promql("info(g)", src, params, spark)
    rows = {r.instance: (r.value, r.region) for r in out.collect()}
    assert rows["h1"] == (5.0, "west")
    assert rows["h2"] == (7.0, None)


def test_mad_and_smoothing_key_on_the_points_frame(spark):
    """mad_over_time and double_exponential_smoothing group by the
    series labels of the points frame, like max_over_time: a dotted
    label column surfaces under its sanitized name, and a name-less
    selector keeps one series per metric."""
    df = spark.createDataFrame(
        [
            ("p1", ts, float(ts // 1_000_000), 10.0 * (ts // 1_000_000))
            for ts in (1_000_000, 2_000_000, 3_000_000, 4_000_000)
        ],
        "`k8s.pod` string, ts_us long, up double, mem double",
    )
    src = MetricSource(
        df=df, metrics={"up": "up", "mem": "mem"}, label_cols=["k8s.pod"]
    )
    p = PromParams(4_000_000, 4_000_000, 1_000_000)

    def rows(q):
        return sorted(
            (r.asDict() for r in compile_promql(q, src, p, spark).collect()),
            key=lambda r: r.get("__name__", ""),
        )

    want = rows("max_over_time(up[10s])")
    assert [set(r) for r in want] == [{"k8s_pod", "step_us", "value"}]
    for q in (
        "mad_over_time(up[10s])",
        "double_exponential_smoothing(up[10s], 0.5, 0.5)",
    ):
        assert [set(r) for r in rows(q)] == [set(want[0])], q
    # name-less: one series per metric, not one merged window
    mad = rows('mad_over_time({__name__=~"up|mem"}[10s])')
    assert [(r["__name__"], r["value"]) for r in mad] == [
        ("mem", 10.0),
        ("up", 1.0),
    ]
    des = rows(
        'double_exponential_smoothing({__name__=~"up|mem"}[10s], 0.5, 0.5)'
    )
    assert [r["__name__"] for r in des] == ["mem", "up"]


def _window_source(spark, every_s=10):
    """One series with a dotted label, sampled every ``every_s`` s over
    [0, 600] s: a gauge ``g``, the counter ``c = t`` and the native
    histogram observation stream ``h``."""
    rows = [
        ("p1", t * 1_000_000, float((t // 10) ** 2 % 17), float(t),
         float(1 + (t // 10) * 7 % 13))
        for t in range(0, 601, every_s)
    ]
    df = spark.createDataFrame(
        rows, "`k8s.pod` string, ts_us long, g double, c double, h double"
    )
    return MetricSource(
        df=df,
        metrics={"g": "g", "c": "c", "h": "h"},
        label_cols=["k8s.pod"],
        histograms=frozenset({"h"}),
    )


_WINDOW_FNS = {
    "max_over_time": "max_over_time({})",
    "quantile_over_time": "quantile_over_time(0.5, {})",
    "mad_over_time": "mad_over_time({})",
    "double_exponential_smoothing": "double_exponential_smoothing({}, 0.5, 0.5)",
    "histogram_sum": "histogram_sum({})",
}


@pytest.mark.parametrize("fn", sorted(_WINDOW_FNS))
def test_window_functions_resolve_at_and_subqueries_alike(spark, fn):
    """Every window function resolves its argument the same way: an
    @-pinned window gives the pinned value at every step, a selector
    subquery is evaluated on its own grid, a subquery of an expression
    is accepted, and a dotted label surfaces sanitized."""
    src = _window_source(spark)
    grid = PromParams(300_000_000, 600_000_000, 100_000_000)
    steps = list(range(grid.start_us, grid.end_us + 1, grid.step_us))
    metric = "h" if fn == "histogram_sum" else "g"

    def values(q, source=src, params=grid):
        out = compile_promql(_WINDOW_FNS[fn].format(q), source, params, spark)
        rows = out.collect()
        assert all(r["k8s_pod"] == "p1" for r in rows), q
        return {r["step_us"]: r["value"] for r in rows}

    at_200 = values(f"{metric}[100s]", params=PromParams(200_000_000, 200_000_000, 1))
    pinned = values(f"{metric}[100s] @ 200")
    assert pinned == {s: pytest.approx(at_200[200_000_000]) for s in steps}
    # x[100s:50s] reads x at the 50 s multiples of each window: the same
    # as a range over a source sampled only there
    every_50s = values(f"{metric}[100s]", source=_window_source(spark, 50))
    assert values(f"{metric}[100s:50s]") == pytest.approx(every_50s)
    if fn != "histogram_sum":  # a histogram function needs a histogram
        assert sorted(values("(rate(c[60s]))[100s:50s]")) == steps
