"""Engine facade e2e: query string → wire-shape JSON (the
"switch from the reference" surface)."""

from __future__ import annotations

from oteldb_spark.engine import LogQLEngine, PromQLEngine, TraceQLEngine
from oteldb_spark.logql import LogSource
from oteldb_spark.promql import MetricSource
from oteldb_spark.signals import counter_points_frame, logs_frame, spans_frame
from oteldb_spark.traceql import SpanSource

SF = "/root/testdata/sf0.001"
START = 1_704_067_200_000_000
END = START + 30 * 86_400_000_000
STEP = 6 * 3_600_000_000


def test_logql_engine_matrix(spark):
    eng = LogQLEngine(
        LogSource(
            df=logs_frame(spark, SF),
            label_cols={"service": "service", "env": "env", "level": "level"},
        )
    )
    out = eng.query_range(
        'sum by (level) (count_over_time({env="prod"}[12h]))', START, END, STEP
    )
    assert out["data"]["resultType"] == "matrix"
    series = out["data"]["result"]
    assert {s["metric"]["level"] for s in series} <= {"ERROR", "INFO", "DEBUG"}
    assert all(len(s["values"]) > 0 for s in series)


def test_logql_engine_streams(spark):
    eng = LogQLEngine(
        LogSource(
            df=logs_frame(spark, SF),
            label_cols={"service": "service", "env": "env", "level": "level"},
        )
    )
    out = eng.query_range('{level="ERROR"} |= `"k": 1`', START, END, STEP)
    assert out["data"]["resultType"] == "streams"
    assert out["data"]["result"]
    labels = eng.labels()
    assert labels["data"] == ["env", "level", "service"]


def test_promql_engine(spark):
    eng = PromQLEngine(
        MetricSource(
            df=counter_points_frame(spark, SF),
            metrics={"events_gauge": "gauge", "events_value_total": "counter_mod"},
            label_cols=["mtype", "instance"],
        ),
        lookback_us=12 * 3_600_000_000,
    )
    out = eng.query_range(
        "sum by (mtype) (rate(events_value_total[12h]))", START, END, STEP
    )
    assert out["data"]["resultType"] == "matrix"
    assert {s["metric"]["mtype"] for s in out["data"]["result"]} == {
        "click",
        "error",
        "purchase",
        "signup",
        "view",
    }
    assert len(eng.series()) == 50


def test_result_caps_and_limits(spark):
    import pytest

    from oteldb_spark.api.serializers import ResultTooLargeError

    src = LogSource(
        df=logs_frame(spark, SF),
        label_cols={"service": "service", "env": "env", "level": "level"},
    )
    # tiny safety cap → a broad log query must refuse, not collect
    eng = LogQLEngine(src, max_result_rows=5)
    with pytest.raises(ResultTooLargeError):
        eng.query_range("{}", START, END, STEP)
    # a user limit below the cap bounds the result instead
    out = eng.query_range("{}", START, END, STEP, limit=3)
    n = sum(len(s["values"]) for s in out["data"]["result"])
    assert n == 3
    # metric results go through the same cap
    with pytest.raises(ResultTooLargeError):
        eng.query_range("count_over_time({}[12h])", START, END, STEP)
    # series() caps too
    peng = PromQLEngine(
        MetricSource(
            df=counter_points_frame(spark, SF),
            metrics={"events_gauge": "gauge"},
            label_cols=["mtype", "instance"],
        ),
        max_result_rows=5,
    )
    with pytest.raises(ResultTooLargeError):
        peng.series()
    assert len(peng.series(limit=4)) == 4


def test_logql_sort_desc_orders_series(spark):
    from oteldb_spark.logql import EvalParams, compile_logql

    src = LogSource(
        df=logs_frame(spark, SF),
        label_cols={"service": "service", "env": "env", "level": "level"},
    )
    out = compile_logql(
        "sort_desc(sum by (level) (count_over_time({}[12h])))",
        src,
        EvalParams(START, END, STEP),
        spark,
    ).collect()
    assert out
    by_step: dict[int, list[float]] = {}
    for r in out:
        by_step.setdefault(r.step_us, []).append(r.value)
    for vals in by_step.values():
        assert vals == sorted(vals, reverse=True)


def test_traceql_engine_search(spark):
    eng = TraceQLEngine(
        SpanSource(
            df=spans_frame(spark, SF),
            attr_cols={"service": "service", "service.name": "service"},
        )
    )
    out = eng.search("{ status = error } | count() > 3", limit=10)
    assert len(out["traces"]) == 10
    t = out["traces"][0]
    assert set(t) == {
        "traceID",
        "rootServiceName",
        "rootTraceName",
        "startTimeUnixNano",
        "durationMs",
    }
    assert t["rootTraceName"].startswith("order-")

def test_loki_volume_endpoints(spark):
    eng = LogQLEngine(
        LogSource(
            df=logs_frame(spark, SF),
            label_cols={"service": "service", "env": "env", "level": "level"},
        )
    )
    # instant volume: vector shape, grouped by the selector's labels
    vec = eng.query_volume('{env="prod"}', START, END)
    assert vec["data"]["resultType"] == "vector"
    assert all(r["metric"]["env"] == "prod" for r in vec["data"]["result"])
    total = sum(float(r["value"][1]) for r in vec["data"]["result"])
    assert total > 0
    # volume_range: matrix shape, target_labels override, one point
    # per series at `end` (evalVolumeQuery sets Start=End)
    mat = eng.query_volume_range(
        '{env="prod"}', START, END, STEP, target_labels=["service"]
    )
    assert mat["data"]["resultType"] == "matrix"
    assert all(len(s["values"]) == 1 for s in mat["data"]["result"])
    assert (
        sum(float(s["values"][0][1]) for s in mat["data"]["result"]) == total
    )


def test_loki_detected_field_values(spark):
    from oteldb_spark.queries.logql_parsers import _logfmt_frame

    eng = LogQLEngine(
        LogSource(
            df=_logfmt_frame(spark, SF),
            label_cols={"service": "service", "level": "level"},
        ),
        spark=spark,
    )
    out = eng.detected_field_values("evt", '{level="INFO"}', START, END)
    assert set(out["values"]) <= {"click", "error", "purchase", "signup", "view"}
    assert out["limit"] == len(out["values"]) > 0


def test_prom_metadata_shape(spark):
    from oteldb_spark.engine import PromQLEngine
    from oteldb_spark.promql import MetricSource
    from oteldb_spark.signals import counter_points_frame

    eng = PromQLEngine(
        MetricSource(
            df=counter_points_frame(spark, "/root/testdata/sf0.001"),
            metrics={
                "events_value_total": "counter_mod",
                "events_gauge": "gauge",
                "events_hist": "gauge",
            },
            label_cols=["mtype", "instance"],
            histograms=frozenset({"events_hist"}),
        )
    )
    md = eng.metadata()
    assert md["status"] == "success"
    assert md["data"]["events_value_total"][0]["type"] == "counter"
    assert md["data"]["events_gauge"][0]["type"] == "gauge"
    assert md["data"]["events_hist"][0]["type"] == "histogram"
    one = eng.metadata(metric="events_gauge")
    assert list(one["data"]) == ["events_gauge"]
    capped = eng.metadata(limit=1)
    assert len(capped["data"]) == 1


def test_tempo_v2_tag_discovery(spark):
    from oteldb_spark.engine import TraceQLEngine
    from oteldb_spark.signals import spans_frame
    from oteldb_spark.traceql import SpanSource

    eng = TraceQLEngine(
        SpanSource(
            df=spans_frame(spark, "/root/testdata/sf0.001"),
            attr_cols={"service": "service", "service.name": "service"},
        )
    )
    scopes = {s["name"]: s["tags"] for s in eng.search_tags_v2()["scopes"]}
    assert "service" in scopes["span"]
    assert "service.name" in scopes["resource"]
    assert "duration" in scopes["intrinsic"]

    vals = eng.search_tag_values_v2("span.service", limit=3)["tagValues"]
    assert len(vals) == 3
    assert all(v["type"] == "string" for v in vals)
    assert vals == sorted(vals, key=lambda v: v["value"])
    assert eng.search_tag_values_v2("span.nope") == {"tagValues": []}


def test_prom_series_selector_filters(spark):
    from oteldb_spark.engine import PromQLEngine
    from oteldb_spark.promql import MetricSource
    from oteldb_spark.signals import counter_points_frame

    eng = PromQLEngine(
        MetricSource(
            df=counter_points_frame(spark, "/root/testdata/sf0.001"),
            metrics={"events_gauge": "gauge"},
            label_cols=["mtype", "instance"],
        )
    )
    all_series = eng.series()
    one = eng.series('{instance="host-1"}')
    assert 0 < len(one) < len(all_series)
    assert all(s["instance"] == "host-1" for s in one)
    rx = eng.series('{instance=~"host-[12]"}')
    assert {s["instance"] for s in rx} == {"host-1", "host-2"}


def test_loki_series_endpoint(spark):
    from oteldb_spark.engine import LogQLEngine
    from oteldb_spark.logql import LogSource
    from oteldb_spark.signals import logs_frame

    eng = LogQLEngine(
        LogSource(
            df=logs_frame(spark, "/root/testdata/sf0.001"),
            label_cols={"service": "service", "env": "env", "level": "level"},
        )
    )
    alls = eng.series()
    prod = eng.series('{env="prod"}')
    assert 0 < len(prod) < len(alls)
    assert all(s["env"] == "prod" for s in prod)
    rx = eng.series('{service=~"svc-[01]", env="prod"}')
    assert {s["service"] for s in rx} <= {"svc-0", "svc-1"}
    assert len(eng.series(limit=2)) == 2


def test_logql_instant_query_and_drilldown(spark):
    eng = LogQLEngine(
        LogSource(
            df=logs_frame(spark, SF),
            label_cols={"service": "service", "env": "env", "level": "level"},
        )
    )
    # metric instant → vector at ts (lokihandler.go:332-352)
    out = eng.query_instant(
        'sum by (service) (count_over_time({env="prod"}[12h]))', END
    )
    assert out["data"]["resultType"] == "vector"
    assert out["data"]["result"]
    assert all(v["value"][0] == END / 1e6 for v in out["data"]["result"])
    # log instant: the [ts, ts] window is empty on the synthetic data
    logs = eng.query_instant('{env="prod"}', END, limit=5)
    assert logs["data"]["resultType"] == "streams"
    # drilldown-limits static shape (lokihandler.go:214-228)
    dd = eng.drilldown_limits()
    assert dd["version"] and dd["limits"]["volume_enabled"] is True


def test_label_values_name_nameless_match(spark):
    """label_values('__name__', match=[{env=...}]) with a NAME-LESS
    selector must return only metrics with a matching non-null point —
    not every metric whenever any series anywhere matches
    (common_test.go:280-420 match[] semantics)."""
    df = spark.createDataFrame(
        [
            ("prod", 1_000_000, 1.0, None),
            ("dev", 2_000_000, None, 2.0),
        ],
        "env string, ts_us long, va double, vb double",
    )
    src = MetricSource(
        df=df, metrics={"metric_a": "va", "metric_b": "vb"}, label_cols=["env"]
    )
    eng = PromQLEngine(src)
    assert eng.label_values("__name__", match=['{env="prod"}'])["data"] == [
        "metric_a"
    ]
    assert eng.label_values("__name__", match=['{env="dev"}'])["data"] == [
        "metric_b"
    ]
    assert eng.label_values("__name__", match=['{env="qa"}'])["data"] == []
    assert eng.label_values("__name__")["data"] == ["metric_a", "metric_b"]


def test_promql_instant_label_values_exemplars(spark):
    import pytest
    from pyspark.sql import functions as F

    src = MetricSource(
        df=counter_points_frame(spark, SF),
        metrics={"events_gauge": "gauge", "events_value_total": "counter_mod"},
        label_cols=["mtype", "instance"],
    )
    eng = PromQLEngine(src, lookback_us=12 * 3_600_000_000)
    # instant vector at END (promhandler.go:281-326)
    out = eng.query_instant("sum by (mtype) (events_gauge)", END)
    assert out["data"]["resultType"] == "vector" and out["data"]["result"]
    assert all(v["value"][0] == END / 1e6 for v in out["data"]["result"])
    # label values (promhandler.go:72-110)
    vals = eng.label_values("instance")["data"]
    assert vals == sorted(vals) and all(v.startswith("host-") for v in vals)
    assert eng.label_values("nope")["data"] == []
    # exemplars: 501 without a store, filtered shape with one
    with pytest.raises(NotImplementedError):
        eng.query_exemplars("events_gauge", START, END)
    ex = counter_points_frame(spark, SF).select(
        "mtype",
        "instance",
        "ts_us",
        F.col("gauge").alias("value"),
        F.format_string("%032x", F.col("event_id")).alias("trace_id"),
    )
    eng2 = PromQLEngine(
        src, lookback_us=12 * 3_600_000_000, exemplars_df=ex
    )
    res = eng2.query_exemplars('events_gauge{mtype="error"}', START, END)
    assert res["data"] and all(
        s["seriesLabels"]["mtype"] == "error" for s in res["data"]
    )
    assert all(e["labels"]["trace_id"] for s in res["data"] for e in s["exemplars"])


def _sparse_metrics(spark, pod_col="k8s.pod"):
    """Two metrics in one sparse frame (a NULL sample is "no point of
    this metric on this row"), by default with a dotted OTel label
    column."""
    df = spark.createDataFrame(
        [
            ("a", "p1", 1_000_000, 1.0, None),
            ("b", "p2", 2_000_000, None, 5.0),
            ("c", "p3", 3_000_000, 2.0, 7.0),
        ],
        f"host string, `{pod_col}` string, ts_us long, up double, mem double",
    )
    return PromQLEngine(
        MetricSource(
            df=df,
            metrics={"up": "up", "mem": "mem"},
            label_cols=["host", pod_col],
        )
    )


def test_prom_series_unknown_metric_is_empty(spark):
    assert _sparse_metrics(spark, "pod").series("nope") == []


def test_prom_series_skips_null_samples(spark):
    got = _sparse_metrics(spark, "pod").series("up")
    assert sorted(s["host"] for s in got) == ["a", "c"]
    assert all(s["__name__"] == "up" for s in got)


def test_prom_series_dotted_label_sanitized(spark):
    """series() names a dotted label column as query_range does."""
    eng = _sparse_metrics(spark)
    got = eng.series('{k8s_pod="p2"}')
    assert got == [{"host": "b", "k8s_pod": "p2", "__name__": "mem"}]
    matrix = eng.query_range('mem{k8s_pod="p2"}', 0, 4_000_000, 1_000_000)
    assert [s["metric"] for s in matrix["data"]["result"]] == [
        {"host": "b", "k8s_pod": "p2"}
    ]
    assert {s["k8s_pod"] for s in eng.series()} == {"p1", "p2", "p3"}


def test_prom_label_values_match_skips_null_samples(spark):
    eng = _sparse_metrics(spark)
    assert eng.label_values("host", match=["mem"])["data"] == ["b", "c"]
    assert eng.label_values("k8s_pod", match=["up"])["data"] == ["p1", "p3"]


def test_loki_series_severity_agrees_with_query_range(spark):
    """series() matches a severity label the way query_range does
    (case-folded), so both find the same streams."""
    eng = LogQLEngine(
        LogSource(
            df=logs_frame(spark, SF),
            label_cols={"service": "service", "env": "env", "level": "level"},
            severity_labels=frozenset({"level"}),
        )
    )
    sel = '{level="error", env="prod"}'
    streams = eng.query_range(sel, START, END, STEP)["data"]["result"]
    want = sorted(tuple(sorted(s["stream"].items())) for s in streams)
    got = sorted(
        tuple(sorted(s.items())) for s in eng.series(sel, start_us=START)
    )
    assert want and got == want


def test_tempo_search_root_service_name(spark):
    """rootServiceName is the root span's service.name."""
    df = spark.createDataFrame(
        [
            (1, 10, None, "checkout", "GET /cart", 1_000_000, 5_000),
            (1, 11, 10, "payments", "charge", 1_001_000, 2_000),
            (2, 20, None, "search", "GET /q", 2_000_000, 9_000),
        ],
        "trace_id long, span_id long, parent_span_id long, service string,"
        " name string, start_us long, duration_us long",
    )
    eng = TraceQLEngine(
        SpanSource(df=df, attr_cols={"service.name": "service"})
    )
    got = {
        t["rootTraceName"]: t["rootServiceName"]
        for t in eng.search("{ }", limit=10)["traces"]
    }
    assert got == {"GET /cart": "checkout", "GET /q": "search"}


def test_prom_query_skips_null_samples(spark):
    """A NULL sample is no point: selectors, aggregations and range
    functions see only the rows that carry the metric."""
    eng = _sparse_metrics(spark, "pod")

    def series(q):
        return eng.query_range(q, 0, 4_000_000, 1_000_000)["data"]["result"]

    mem = series("mem")
    assert sorted(s["metric"]["host"] for s in mem) == ["b", "c"]
    assert all(v != "None" for s in mem for _, v in s["values"])
    assert [float(v) for _, v in series("count(mem)")[0]["values"]] == [1, 2, 2]
    assert sorted(s["metric"]["host"] for s in series("count_over_time(mem[1m])")) == [
        "b",
        "c",
    ]
