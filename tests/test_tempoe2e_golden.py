"""Reference Tempo e2e suite, replayed from its checked-in corpus.

``integration/tempoe2e/_testdata/traces.json`` is the reference's
exact test corpus (156 k6-generated spans), and
``common_test.go:648-786`` evaluates ~50 TraceQL queries against it,
asserting the matched-trace set derived by ``selectSpans``
(``:989-1021``) — replicated verbatim here in Python, so every
expected count is the reference's own derivation over the identical
data.  Ingest goes through the real OTLP/JSON flattener; typed attr
columns carry the int/string distinction the type-mismatch cases pin.
"""

from __future__ import annotations

import json
import os
from functools import lru_cache

import pytest
from pyspark.sql import functions as F

from oteldb_spark.traceql import SpanSource, compile_traceql

CORPUS = "/root/reference/integration/tempoe2e/_testdata/traces.json"

pytestmark = pytest.mark.skipif(
    not os.path.exists(CORPUS), reason="reference corpus not available"
)


@lru_cache(maxsize=None)
def _raw_spans():
    out = []
    for line in open(CORPUS):
        d = json.loads(line)
        for rs in d["resourceSpans"]:
            res = {
                a["key"]: _attr_str(a["value"])
                for a in rs["resource"]["attributes"]
            }
            for ss in rs["scopeSpans"]:
                for s in ss["spans"]:
                    attrs = {
                        a["key"]: _attr_str(a["value"])
                        for a in s.get("attributes") or []
                    }
                    out.append((res, s, attrs))
    return out


def _attr_str(v: dict) -> str:
    for k in ("stringValue", "intValue", "doubleValue", "boolValue"):
        if k in v:
            x = v[k]
            if isinstance(x, bool):
                return "true" if x else "false"
            return str(x)
    return ""


def _trace_count(sel) -> int:
    """selectSpans (common_test.go:989-1021): number of traces with at
    least one span the selector matches."""
    traces = set()
    for res, s, attrs in _raw_spans():
        if sel(res, s, attrs):
            traces.add(s["traceId"])
    return len(traces)


def _by_tags(**tags):
    return lambda res, s, attrs: all(
        attrs.get(k.replace("_", ".")) == v for k, v in tags.items()
    )


# Expected counts are selectors, counted over the corpus only when a
# case runs: the module must import (and skip) where the corpus is absent.
def POST_OK(r, s, a):
    return a.get("http.method") == "POST" and a.get("http.status_code") == "200"


@pytest.fixture(scope="module")
def tempo_src(spark):
    from oteldb_spark.sources.otlp import (
        OTLP_TRACES_SCHEMA,
        flatten_otlp_spans,
    )

    raw = spark.createDataFrame(
        [(line,) for line in open(CORPUS)], "j string"
    )
    flat = flatten_otlp_spans(
        raw.select(F.from_json("j", OTLP_TRACES_SCHEMA).alias("r")).select(
            "r.*"
        )
    )
    df = flat.select(
        "trace_id",
        "span_id",
        F.when(F.col("parent_span_id") == "", None)
        .otherwise(F.col("parent_span_id"))
        .alias("parent_span_id"),
        "name",
        F.coalesce("kind", F.lit(0)).alias("kind"),
        (F.col("start_ns") / 1000).cast("long").alias("start_us"),
        (F.col("duration_ns") / 1000).cast("long").alias("duration_us"),
        # unset status is the UNSET enum (0), not null
        F.coalesce("status_code", F.lit(0)).alias("status_code"),
        F.col("attrs").getItem("http.status_code").cast("long").alias(
            "http_status_code"
        ),
        "service_name",
        "attrs",
        "resource_attrs",
        "events",
    ).cache()
    assert df.count() == 156
    return SpanSource(
        df=df,
        attr_cols={
            # typed int attr — the type-mismatch cases need a numeric
            # column, not the string map value
            "http.status_code": "http_status_code",
            "service.name": "service_name",
        },
        attrs_map_col="attrs",
        resource_attrs_map_col="resource_attrs",
        events_col="events",
    )


@lru_cache(maxsize=None)
def _ids():
    """Deterministic stand-ins for the reference's Any* picks."""
    spans = _raw_spans()
    trace_id = sorted(s["traceId"] for _, s, _ in spans)[0]
    span_id = sorted(s["spanId"] for _, s, _ in spans)[0]
    parent_id = sorted(
        s["parentSpanId"] for _, s, _ in spans if s.get("parentSpanId")
    )[0]
    return trace_id, span_id, parent_id


POST_OK_Q = '{ .http.method = "POST" && .http.status_code = 200 }'

E2E_CASES = [
    # spanset filter spellings — all the same set
    (POST_OK_Q, POST_OK),
    ('{ span.http.method = "POST" && span.http.status_code = 200 }', POST_OK),
    (
        '{ .http.method = "POST" && (.http.status_code >= 200 && .http.status_code <= 200) }',
        POST_OK,
    ),
    (
        '{ .http.method = "POST" && (.http.status_code > 199 && .http.status_code < 201) }',
        POST_OK,
    ),
    (
        '{ .http.method = "POST" && (.http.status_code = 200 || .http.status_code = 1000) }',
        POST_OK,
    ),
    ('{ .http.method = "POST" && (.http.status_code - 100) = 100 }', POST_OK),
    ('{ .http.method =~ "^POST$" && .http.status_code = 200 }', POST_OK),
    (
        '{ .http.method !~ "(GET|DELETE|PUT|PATCH|TRACE|OPTIONS)" && .http.status_code = 200 }',
        POST_OK,
    ),
    (POST_OK_Q[:-1] + "&& duration > 0ns }", POST_OK),
    (POST_OK_Q[:-1] + "&& traceDuration > 0ns }", POST_OK),
    (POST_OK_Q[:-1] + "&& status != error }", POST_OK),
    (POST_OK_Q[:-1] + "&& kind != unspecified }", POST_OK),
    (POST_OK_Q[:-1] + '&& name != "" }', POST_OK),
    (POST_OK_Q[:-1] + '&& rootName != "" }', POST_OK),
    (POST_OK_Q[:-1] + '&& rootServiceName = "shop-backend" }', POST_OK),
    # scalar filters
    (POST_OK_Q + " | count() > 0", POST_OK),
    (POST_OK_Q + " | min(.http.status_code) >= 0", POST_OK),
    (POST_OK_Q + " | max(.http.status_code) > 0", POST_OK),
    (POST_OK_Q + " | sum(.http.status_code) > 0", POST_OK),
    (POST_OK_Q + " | avg(.http.status_code) > 0", POST_OK),
    (POST_OK_Q + " | min(.http.status_code) = 200", POST_OK),
    (POST_OK_Q + " | max(.http.status_code) = 200", POST_OK),
    (POST_OK_Q + " | avg(.http.status_code) = 200", POST_OK),
    (POST_OK_Q + " | sum(.http.status_code) >= 200", POST_OK),
    (POST_OK_Q + " | 200 = min(.http.status_code)", POST_OK),
    (
        POST_OK_Q
        + " | min(.http.status_code)+min(.http.status_code) = 400",
        POST_OK,
    ),
    (
        POST_OK_Q
        + " | (min(.http.status_code)+min(.http.status_code))/2 = 200",
        POST_OK,
    ),
    (POST_OK_Q + " | sum(.http.status_code) / count() = 200", POST_OK),
    (
        POST_OK_Q
        + " | sum(.http.status_code) / count() = avg(.http.status_code)",
        POST_OK,
    ),
    # binary spanset expressions
    (f"{POST_OK_Q} && {POST_OK_Q}", POST_OK),
    (f"{POST_OK_Q} || {POST_OK_Q}", POST_OK),
    # DELIBERATE divergence from the reference here: its engine
    # approximates `~` by only checking both sides are non-empty per
    # trace (goldenbench_traceql_test.go:293-298 documents the
    # a[0]/b[0] shortcut), so it returns every POST_OK trace; true
    # Tempo sibling semantics require two DISTINCT spans sharing a
    # parent — no POST_OK trace has such a pair in this corpus
    (f"{POST_OK_Q} ~ {POST_OK_Q}", 0),
    # other selectors, expectations derived like the reference derives
    (
        '{ .http.method = "GET" && .http.status_code = 200 && .net.host.name = "shop-backend.local" }',
        lambda r, s, a: a.get("http.method") == "GET"
        and a.get("http.status_code") == "200"
        and a.get("net.host.name") == "shop-backend.local",
    ),
    (
        '{ name = "list-articles" }',
        lambda r, s, a: s["name"] == "list-articles",
    ),
    (
        '{ name = "list-articles" || name = "clearly-not-exist-name" }',
        lambda r, s, a: s["name"] == "list-articles",
    ),
    # $TRACE_ID, $SPAN_ID and $PARENT_ID are replaced by the _ids() picks
    (
        '{ trace:id = "$TRACE_ID" }',
        lambda r, s, a: s["traceId"] == _ids()[0],
    ),
    (
        '{ span:id = "$SPAN_ID" }',
        lambda r, s, a: s["spanId"] == _ids()[1],
    ),
    (
        '{ span:parentID = "$PARENT_ID" }',
        lambda r, s, a: s.get("parentSpanId") == _ids()[2],
    ),
    ('{ event:name = "no-such-event" }', 0),
    # definitively empty
    ('{ resource.http.method = "POST" }', 0),
    ("{ duration > 10h }", 0),
    ("{ traceDuration > 10h }", 0),
    ("{ kind = unspecified }", 0),
    ("{ .http.status_code = 200 } | min(.http.status_code) < 0", 0),
    ("{ .http.status_code = 200 } | max(.http.status_code) < 0", 0),
    ("{ .http.status_code = 200 } | sum(.http.status_code) < 0", 0),
    ("{ .http.status_code = 200 } | avg(.http.status_code) < 0", 0),
    # type mismatches never match
    ('{ .http.status_code = "200" }', 0),
    ('{ .http.status_code =~ "^POST$" }', 0),
    # materialized-attr misses
    ("{ duration < 0s }", 0),
    ('{ name = "clearly-does-not-exist" }', 0),
    ("{ status = ok && status = error }", 0),
    ("{ kind = client && kind = server }", 0),
    ('{ .service.namespace = "clearly-does-not-exist" }', 0),
    ('{ .service.name = "clearly-does-not-exist" }', 0),
    ('{ .service.instance.id = "clearly-does-not-exist" }', 0),
    ('{ trace:id = "clearly-does-not-exist" }', 0),
    ('{ span:id = "clearly-does-not-exist" }', 0),
    ('{ span:parentID = "clearly-does-not-exist" }', 0),
]


@pytest.mark.parametrize(
    "query,want",
    E2E_CASES,
    ids=[f"q{i}" for i in range(len(E2E_CASES))],
)
def test_tempo_e2e_trace_counts(spark, tempo_src, query, want):
    for name, v in zip(("$TRACE_ID", "$SPAN_ID", "$PARENT_ID"), _ids()):
        query = query.replace(name, v)
    if callable(want):
        want = _trace_count(want)
    out = compile_traceql(query, tempo_src)
    got = out.select("trace_id").distinct().count()
    assert got == want, query
