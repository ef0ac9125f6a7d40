"""API response serializers — Loki / Prometheus / Tempo JSON shapes.

The reference serves ogen-generated handlers over the same response
schemas (``lokihandler``, ``promhandler``, ``tempohandler``); here the
engines return DataFrames and these helpers render the wire shapes.
Serialization collects only final (small) results — never raw tables.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame

# Safety cap applied before every collect — the facade equivalent of
# the reference's sample-rows limit (querier_logs_query.go:95-151:
# server-side LIMIT cap+1, then error when cap+1 rows came back).
DEFAULT_MAX_RESULT_ROWS = 100_000


class ResultTooLargeError(RuntimeError):
    """Raised when a result exceeds the facade row cap
    (ErrLogsTooManySamples / ErrTooManyRowsOrBytes analog)."""


def display_label(col: str) -> str:
    """Wire name for a label column: columns that would collide with
    the sample columns (a ``count_values("value", ...)`` label) are
    stored prefixed and stripped here."""
    return col[7:] if col.startswith("__lbl__") else col


def _row_labels(r, label_cols: list[str]) -> dict:
    """Wire label set for one row: named label columns plus the
    ``__extracted`` bare-parser map (a map column on log listings, a
    canonical JSON string on metric frames), with None/"" values
    dropped — Loki never emits empty-valued labels."""
    out = {}
    for c in label_cols:
        if c == "__extracted":
            ex = r[c]
            if isinstance(ex, str):
                import json as _json

                ex = _json.loads(ex) if ex else {}
            for k, v in (ex or {}).items():
                if v not in (None, ""):
                    out[k] = v
        else:
            v = r[c]
            if v not in (None, ""):
                out[display_label(c)] = v
    return out


def bounded_collect(df: DataFrame, max_rows: int | None):
    """Collect with limit+1 truncation detection, never unbounded."""
    if max_rows is None:
        return df.collect()
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ResultTooLargeError(f"result exceeds {max_rows} rows")
    return rows


def loki_streams(df: DataFrame, label_cols: list[str], ts_col: str = "ts_us",
                 line_col: str = "body",
                 max_rows: int | None = DEFAULT_MAX_RESULT_ROWS) -> dict:
    """Log-query result → Loki query_range 'streams' shape:
    {status, data: {resultType: streams, result: [{stream, values}]}}
    with ns-string timestamps, newest rows as returned."""
    groups: dict[tuple, list] = defaultdict(list)
    for r in bounded_collect(df, max_rows):
        key = tuple(sorted(_row_labels(r, label_cols).items()))
        groups[key].append([str(int(r[ts_col]) * 1000), r[line_col]])
    return {
        "status": "success",
        "data": {
            "resultType": "streams",
            "result": [
                {"stream": dict(k), "values": vs} for k, vs in groups.items()
            ],
        },
    }


def loki_matrix(df: DataFrame, label_cols: list[str],
                max_rows: int | None = DEFAULT_MAX_RESULT_ROWS) -> dict:
    """Metric-query result → Loki/Prometheus matrix shape with
    [unix_seconds, "value"] sample pairs ordered by step."""
    series: dict[tuple, list] = defaultdict(list)
    for r in bounded_collect(df, max_rows):
        key = tuple(sorted(_row_labels(r, label_cols).items()))
        series[key].append((r["step_us"] / 1e6, str(r["value"])))
    return {
        "status": "success",
        "data": {
            "resultType": "matrix",
            "result": [
                {"metric": dict(k), "values": sorted(vs)}
                # deterministic series order regardless of plan/row
                # order (a cached union arrives differently than a
                # fresh computation; the wire shape must not care)
                for k, vs in sorted(
                    series.items(),
                    key=lambda kv: [(c, str(v)) for c, v in kv[0]],
                )
            ],
        },
    }


prom_matrix = loki_matrix  # identical wire shape


def prom_vector(df: DataFrame, label_cols: list[str], ts_s: float,
                max_rows: int | None = DEFAULT_MAX_RESULT_ROWS) -> dict:
    """Instant-query result → Prometheus vector shape."""
    return {
        "status": "success",
        "data": {
            "resultType": "vector",
            "result": [
                {
                    "metric": _row_labels(r, label_cols),
                    "value": [ts_s, str(r["value"])],
                }
                for r in bounded_collect(df, max_rows)
            ],
        },
    }


def prom_labels(values: list[str]) -> dict:
    return {"status": "success", "data": sorted(values)}


def profile_collapsed(df: DataFrame, stack_col: str = "stack",
                      value_col: str = "total_us",
                      max_rows: int | None = DEFAULT_MAX_RESULT_ROWS) -> str:
    """Flamegraph rows → Brendan-Gregg collapsed format
    (``stack;frames value`` lines, as in profileqlengine/collapsed.go).
    Stacks use '>' internally; collapsed uses ';'."""
    lines = [
        f"{r[stack_col].replace('>', ';')} {int(r[value_col])}"
        for r in bounded_collect(df, max_rows)
    ]
    return "\n".join(sorted(lines))


def tempo_search(traces_df: DataFrame) -> dict:
    """Trace assembly result → Tempo search response
    (TraceSearchMetadata list: traceID, rootServiceName, rootTraceName,
    startTimeUnixNano, durationMs).  A trace without a root service
    reports Tempo's text for a root span that has not arrived."""
    out = []
    for r in bounded_collect(traces_df, DEFAULT_MAX_RESULT_ROWS):
        d = r.asDict()
        out.append(
            {
                "traceID": f"{int(d['trace_id']):032x}",
                "rootServiceName": d.get("root_service")
                or "<root span not yet received>",
                "rootTraceName": d["root_name"],
                "startTimeUnixNano": str(int(d.get("start_us", 0)) * 1000),
                "durationMs": int(d["trace_duration_us"] // 1000),
            }
        )
    return {"traces": out}
