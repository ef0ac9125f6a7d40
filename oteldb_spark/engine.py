"""Engine facades — the user-facing query surface.

A user of the reference talks to Loki/Prometheus/Tempo HTTP APIs;
these classes expose the same operations as Python calls returning
the same wire shapes (`api/serializers.py`).  An HTTP layer would be
a thin adapter over these (the reference's ogen handlers ↔ these
methods).

    logs = LogQLEngine(LogSource(df, {"service": "service", ...}))
    logs.query_range('sum by (service) (rate({env="prod"}[5m]))',
                     start_us, end_us, step_us)   → Loki matrix JSON
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession

from .api.serializers import (
    DEFAULT_MAX_RESULT_ROWS,
    bounded_collect,
    loki_matrix,
    loki_streams,
    prom_labels,
    prom_matrix,
    tempo_search,
)
from .logql import EvalParams, LogSource, compile_logql
from .promql import MetricSource, PromParams, compile_promql
from .traceql import SpanSource, compile_traceql


def _direction_limit(df, direction: str, limit: "int | None"):
    """Loki log-listing direction + limit (lokihandler/params.go:58-67
    — backward is the HTTP default; engine_plan.go:28-36): keep the
    newest (backward) or oldest (forward) ``limit`` entries.  With a
    limit, ``orderBy().limit(n)`` compiles to TakeOrderedAndProject —
    per-partition top-n then a driver merge, no global sort shuffle —
    so the plan scales with partition count, not data size.  Without a
    limit the direction changes only presentation order, which the
    serializer re-establishes per stream, so no sort is planned at
    all."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"invalid direction {direction!r}")
    if limit is None:
        return df
    from pyspark.sql import functions as F

    ts = F.col("ts_us")
    order = ts.desc() if direction == "backward" else ts.asc()
    return df.orderBy(order).limit(limit)


def _labels(df, is_metric: bool = True) -> list[str]:
    """The label columns of a metric frame (labels…, step_us, value)
    or of a log frame (labels…, ts_us, body)."""
    drop = ("step_us", "value") if is_metric else ("ts_us", "body")
    return [c for c in df.columns if c not in drop]


@dataclass
class LogQLEngine:
    source: LogSource
    spark: SparkSession | None = None
    # safety cap for every collect (querier_logs_query.go:95-151);
    # user-facing `limit` is the Loki request limit for log listings
    max_result_rows: int = DEFAULT_MAX_RESULT_ROWS
    # optional StepResultCache, consulted for METRIC queries only —
    # log listings are point lookups the reference never caches either
    result_cache: "object | None" = None
    # instant LOG queries evaluate a lookback window ending at ts —
    # the reference's LookbackDuration option, default -30s
    # (logqlengine/engine.go:35-58, engine_log_query.go:46-49)
    instant_log_lookback_us: int = 30_000_000

    def _spark(self):
        return self.spark or self.source.df.sparkSession

    def query_range_frame(
        self,
        q: str,
        start_us: int,
        end_us: int,
        step_us: int,
        limit: int | None = None,
        now_us: int | None = None,
        direction: str = "backward",
    ):
        """The DataFrame under GET /loki/api/v1/query_range, one step
        before serialization (the ``search_frame`` analog for Loki):
        parse → metric/log classification → (cached) compile →
        direction + limit.  Metric queries yield (labels…, step_us,
        value) — the rows :func:`loki_matrix` folds into series; log
        queries yield (labels…, ts_us, body) — the rows
        :func:`loki_streams` folds into streams.  ``direction``
        (backward default, like the HTTP layer —
        lokihandler/params.go:58-67) picks WHICH ``limit`` entries
        survive: newest-first or oldest-first."""
        df, _ = self._classified(
            q, start_us, end_us, step_us, limit, direction, now_us
        )
        return df

    def _classified(
        self,
        q: str,
        start_us: int,
        end_us: int,
        step_us: int,
        limit: int | None,
        direction: str,
        now_us: int | None = None,
        instant: bool = False,
    ):
        """``(frame, is_metric)``: parse → metric/log classification →
        compile → direction + limit.  The classification comes from
        the parsed AST (a LogQuery root is a log listing), not from
        sniffing the output columns, so a log stream whose labels
        include one literally named ``step_us`` can never be
        mis-serialized as a matrix, and a cached range compiles once.
        A range metric query goes through the result cache.  An
        ``instant`` query evaluates at ``end_us``: a metric query on
        one grid step; a log query over the lookback window ending
        there — the reference rewrites Start to ``ts +
        LookbackDuration`` (a NEGATIVE duration, default -30s) before
        eval (engine_log_query.go:46-49); here the equivalent ``[ts −
        instant_log_lookback_us, ts)`` window, with the same
        end-exclusive convention as the range contract."""
        from .logql.ast import LogQuery
        from .logql.parser import parse as parse_logql

        expr = parse_logql(q) if isinstance(q, str) else q
        is_metric = not isinstance(expr, LogQuery)
        if instant:
            start_us = end_us
            if not is_metric:
                start_us -= self.instant_log_lookback_us

        def _compile(s_us: int, e_us: int):
            return compile_logql(
                expr, self.source, EvalParams(s_us, e_us, step_us), self._spark()
            )

        if not is_metric:
            df = _direction_limit(_compile(start_us, end_us), direction, limit)
            return df, False
        if instant or self.result_cache is None:
            return _compile(start_us, end_us), True
        df = self.result_cache.query_range(
            self._spark(), f"logql|{q}", start_us, end_us, step_us, _compile,
            now_us,
        )
        return df, True

    def query_range(
        self,
        q: str,
        start_us: int,
        end_us: int,
        step_us: int,
        limit: int | None = None,
        now_us: int | None = None,
        direction: str = "backward",
    ) -> dict:
        df, is_metric = self._classified(
            q, start_us, end_us, step_us, limit, direction, now_us
        )
        if is_metric:  # metric query → matrix
            return loki_matrix(df, _labels(df), max_rows=self.max_result_rows)
        return loki_streams(
            df, _labels(df, is_metric=False), max_rows=self.max_result_rows
        )

    def query_instant_frame(
        self,
        q: str,
        ts_us: int,
        limit: int = 100,
        direction: str = "backward",
    ):
        """The DataFrame under GET /loki/api/v1/query, one step before
        serialization: a metric query yields the one-step vector rows
        (labels…, step_us, value); a log query the limited stream
        window (labels…, ts_us, body)."""
        df, _ = self._classified(
            q, ts_us, ts_us, 1, limit, direction, instant=True
        )
        return df

    def query_instant(
        self,
        q: str,
        ts_us: int,
        limit: int = 100,
        direction: str = "backward",
    ) -> dict:
        """GET /loki/api/v1/query — instant evaluation at ``ts_us``
        (lokihandler.go:331-357: Start=End=ts; metric queries return a
        vector, log queries the lookback-window stream listing)."""
        from .api.serializers import prom_vector

        df, is_metric = self._classified(
            q, ts_us, ts_us, 1, limit, direction, instant=True
        )
        if is_metric:
            return prom_vector(
                df, _labels(df), ts_us / 1e6, max_rows=self.max_result_rows
            )
        return loki_streams(
            df, _labels(df, is_metric=False), max_rows=self.max_result_rows
        )

    def drilldown_limits(self, volume_enabled: bool = True) -> dict:
        """GET /loki/api/v1/drilldown-limits (lokihandler.go:214-228)."""
        return {
            "limits": {"volume_enabled": volume_enabled},
            "version": "v3.6.0",
        }

    def labels(self) -> dict:
        return prom_labels(list(self.source.label_cols))

    def series(
        self,
        match: "str | list[str] | None" = None,
        limit: int | None = None,
        start_us: int | None = None,
        end_us: int | None = None,
    ) -> list[dict]:
        """GET /loki/api/v1/series (lokihandler.go:558-603): distinct
        label sets of streams matching ANY of the selectors, within
        the time range.  High-cardinality per-record labels (trace/span
        ids, body) are excluded from series identity like the
        reference's storage Series (integration/lokie2e
        common_test.go:296-322 re-adds them when comparing against the
        full label universe)."""
        from pyspark.sql import functions as F

        from .logql.compiler import select_streams
        from .logql.parser import parse as parse_logql

        base = self.source.df
        if start_us is not None:
            base = base.filter(F.col(self.source.ts_col) >= start_us)
        if end_us is not None:
            base = base.filter(F.col(self.source.ts_col) <= end_us)
        # the selector semantics of query_range: severity case folding,
        # hex-id matching, attrs-map labels
        src = replace(self.source, df=base)
        matches = [match] if isinstance(match, str) else list(match or [])
        frames = [
            select_streams(getattr(q, "selector", q), src).df
            for q in map(parse_logql, matches)
        ] or [base]
        skip = set(self.source.hexid_labels) | {"body"}
        cols = [
            F.col(col).alias(lbl)
            for lbl, col in self.source.label_cols.items()
            if lbl not in skip
        ]
        u = None
        for f in frames:
            p = f.select(*cols)
            u = p if u is None else u.unionByName(p)
        out = u.distinct()
        if limit is not None:
            out = out.limit(limit)
        return [
            r.asDict() for r in bounded_collect(out, self.max_result_rows)
        ]

    def label_values(self, label: str) -> dict:
        col = self.source.label_cols[label]
        vals = [
            r[0]
            for r in bounded_collect(
                self.source.df.select(col).distinct(), self.max_result_rows
            )
        ]
        return prom_labels(vals)

    def volume_frame(
        self,
        query: str,
        start_us: int,
        end_us: int,
        step_us: int = 0,
        target_labels: list[str] | None = None,
    ):
        """DataFrame behind /loki/api/v1/index/volume[_range].

        Mirrors lokihandler.go:494-556 (evalVolumeQuery): synthesize
        ``sum by (L) (count_over_time({sel}[end-start]))`` where L is
        ``target_labels`` or, absent that, the selector's matcher
        labels, then evaluate it as an instant at ``end``.
        """
        from .logql import parse
        from .logql.ast import LogQuery

        node = parse(query)
        if not isinstance(node, LogQuery) or node.stages or node.unwrap:
            raise ValueError("volume query must be a plain stream selector")
        labels = list(target_labels or [])
        if not labels:
            labels = [m.name for m in node.selector.matchers]
        labels = sorted(set(labels))
        agg_range_s = max((end_us - start_us) // 1_000_000, 1)
        expr = (
            f"sum by ({', '.join(labels)}) "
            f"(count_over_time({query}[{agg_range_s}s]))"
        )
        # the reference evaluates at the single instant `end`
        params = EvalParams(end_us, end_us, step_us or 1)
        return compile_logql(expr, self.source, params, self._spark())

    def query_volume(
        self,
        query: str,
        start_us: int,
        end_us: int,
        target_labels: list[str] | None = None,
    ) -> dict:
        """GET /loki/api/v1/index/volume (lokihandler.go:409-443)."""
        from .api.serializers import prom_vector

        df = self.volume_frame(query, start_us, end_us, 0, target_labels)
        return prom_vector(
            df, _labels(df), end_us / 1e6, max_rows=self.max_result_rows
        )

    def query_volume_range(
        self,
        query: str,
        start_us: int,
        end_us: int,
        step_us: int,
        target_labels: list[str] | None = None,
    ) -> dict:
        """GET /loki/api/v1/index/volume_range (lokihandler.go:445-491).

        The reference parses ``step`` but still evaluates the synthetic
        expression at the single instant ``end`` (evalVolumeQuery sets
        Start=End), returning a one-point matrix per series.
        """
        df = self.volume_frame(query, start_us, end_us, step_us, target_labels)
        return loki_matrix(df, _labels(df), max_rows=self.max_result_rows)

    def detected_labels(
        self, query: str, start_us: int, end_us: int
    ) -> dict:
        """GET /loki/api/v1/detected_labels (lokihandler.go:165-212).

        Distinct-value cardinality of each STREAM (resource) label
        under the selector — the reference scans only the deduplicated
        resource attr maps (chstorage querier_logs.go:247-340), so the
        record-attr long tail stays detected_fields' domain.  Empty
        label values do not count toward cardinality (absent attr)."""
        df = self.detected_labels_frame(query, start_us, end_us)
        rows = bounded_collect(df, self.max_result_rows)
        return {
            "detectedLabels": [
                {"label": r["label"], "cardinality": int(r["cardinality"])}
                for r in rows
            ]
        }

    def detected_labels_frame(self, query: str, start_us: int, end_us: int):
        from pyspark.sql import functions as F

        params = EvalParams(start_us, end_us, max(end_us - start_us, 1))
        df = compile_logql(query, self.source, params, self._spark())
        # same skip set as series(): hex record ids and the log body are
        # record-level, unbounded-cardinality columns — the reference's
        # detected_labels scans only deduplicated stream/resource attrs
        skip = set(self.source.hexid_labels) | {"body"}
        labels = [
            l
            for l in self.source.label_cols
            if l in df.columns and l not in skip
        ]
        if not labels:
            return df.sparkSession.createDataFrame(
                [], "label string, cardinality long"
            )
        parts = [
            df.select(
                F.lit(l).alias("label"),
                F.col(l).cast("string").alias("value"),
            )
            for l in labels
        ]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        return (
            u.filter(F.col("value").isNotNull() & (F.col("value") != ""))
            .groupBy("label")
            .agg(F.count_distinct("value").alias("cardinality"))
            .orderBy("label")
        )

    def detected_fields(
        self, query: str, start_us: int, end_us: int
    ) -> dict:
        """GET /loki/api/v1/detected_fields (lokihandler.go:116-163):
        every label of every stream matching the selector, with its
        distinct-value cardinality; the reference types everything
        "string" (storagebackend/logs.go:629-651)."""
        df = self.detected_fields_frame(query, start_us, end_us)
        rows = bounded_collect(df, self.max_result_rows)
        fields = [
            {
                "label": r["label"],
                "type": "string",
                "cardinality": int(r["cardinality"]),
            }
            for r in rows
        ]
        return {"fields": fields, "limit": len(fields)}

    def detected_fields_frame(self, query: str, start_us: int, end_us: int):
        """(label, cardinality) per stream label under the selector —
        one union of per-column distincts plus an explode over the
        dynamic-label map; all map-side until the final tiny agg."""
        from pyspark.sql import functions as F

        params = EvalParams(start_us, end_us, max(end_us - start_us, 1))
        df = compile_logql(query, self.source, params, self._spark())
        reserved = ("ts_us", "body", "__extracted")
        parts = [
            df.select(
                F.lit(c).alias("label"),
                F.col(c).cast("string").alias("value"),
            )
            for c in df.columns
            if c not in reserved
        ]
        if "__extracted" in df.columns:
            parts.append(
                df.select(F.explode("__extracted").alias("label", "value"))
            )
        if not parts:
            return df.sparkSession.createDataFrame(
                [], "label string, cardinality long"
            )
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        return (
            u.filter(F.col("value").isNotNull())
            .groupBy("label")
            .agg(F.count_distinct("value").alias("cardinality"))
            .orderBy("label")
        )

    def detected_field_values(
        self,
        field: str,
        query: str,
        start_us: int,
        end_us: int,
        parser: str = "logfmt",
    ) -> dict:
        """GET /loki/api/v1/detected_field/{field}/values
        (lokihandler.go:62-113): distinct values of a body-parsed field
        under a selector + time range."""
        df = self.detected_field_values_frame(
            field, query, start_us, end_us, parser
        )
        values = sorted(
            r[0]
            for r in bounded_collect(df, self.max_result_rows)
            if r[0] is not None
        )
        return {"values": values, "limit": len(values)}

    def detected_field_values_frame(
        self,
        field: str,
        query: str,
        start_us: int,
        end_us: int,
        parser: str = "logfmt",
    ):
        """DataFrame of distinct parsed-field values: run the selector
        + parser stage through the LogQL compiler, then distinct the
        detected column (LabelValues over parsed fields in the ref's
        logstorage)."""
        from pyspark.sql import functions as F

        # explicit label-extraction form so the parsed field
        # materializes as an output column
        q = f'{query} | {parser} {field}="{field}"' if parser else query
        params = EvalParams(start_us, end_us, max(end_us - start_us, 1))
        df = compile_logql(q, self.source, params, self._spark())
        if field not in df.columns:
            raise KeyError(f"field {field!r} not detected by {parser}")
        return (
            df.filter(F.col(field).isNotNull())
            .select(F.col(field).cast("string").alias("value"))
            .distinct()
        )


@dataclass
class PromQLEngine:
    source: MetricSource
    spark: SparkSession | None = None
    lookback_us: int = 5 * 60 * 1_000_000
    max_result_rows: int = DEFAULT_MAX_RESULT_ROWS
    # optional StepResultCache (plans/result_cache.py) — the querier
    # consults it per (query, step, alignment) like the reference's
    # chstorage querier does (querier_metrics_cache.go)
    result_cache: "object | None" = None
    # optional exemplars frame (label cols + ts_us/value/trace_id),
    # the metrics_exemplars table analog; None → query_exemplars 501s
    # like the reference (promhandler.go:392-395)
    exemplars_df: "DataFrame | None" = None

    def _spark(self):
        return self.spark or self.source.df.sparkSession

    def query_range_frame(
        self,
        q: str,
        start_us: int,
        end_us: int,
        step_us: int,
        now_us: int | None = None,
    ) -> "DataFrame":
        """The DataFrame under GET /api/v1/query_range, one step
        before serialization: parse → (cached) compile; rows are
        (labels…, step_us, value) — what :func:`prom_matrix` folds
        into the Prometheus matrix wire shape."""

        def _compile(s_us: int, e_us: int) -> "DataFrame":
            params = PromParams(s_us, e_us, step_us, lookback_us=self.lookback_us)
            return compile_promql(q, self.source, params, self._spark())

        if self.result_cache is not None:
            key = f"promql|{q}|lb={self.lookback_us}"
            return self.result_cache.query_range(
                self._spark(), key, start_us, end_us, step_us, _compile, now_us
            )
        return _compile(start_us, end_us)

    def query_range(
        self,
        q: str,
        start_us: int,
        end_us: int,
        step_us: int,
        now_us: int | None = None,
    ) -> dict:
        df = self.query_range_frame(q, start_us, end_us, step_us, now_us)
        return prom_matrix(df, _labels(df), max_rows=self.max_result_rows)

    def query_instant_frame(self, q: str, ts_us: int) -> "DataFrame":
        """The DataFrame under GET /api/v1/query, one step before
        serialization: the one-step vector rows (labels…, step_us,
        value) at ``ts_us`` under the engine's staleness lookback."""
        params = PromParams(ts_us, ts_us, 1, lookback_us=self.lookback_us)
        return compile_promql(q, self.source, params, self._spark())

    def query_instant(self, q: str, ts_us: int) -> dict:
        """GET /api/v1/query — instant vector at ``ts_us``
        (promhandler.go:281-326 GetQuery)."""
        from .api.serializers import prom_vector

        df = self.query_instant_frame(q, ts_us)
        return prom_vector(df, _labels(df), ts_us / 1e6, max_rows=self.max_result_rows)

    def label_values(
        self,
        label: str,
        match: "list[str] | None" = None,
        start_us: "int | None" = None,
        end_us: "int | None" = None,
    ) -> dict:
        """GET /api/v1/label/{label}/values (promhandler.go:72-110).

        Sanitization-aware like the query path; ``match`` restricts to
        series any of the selectors matches (Prometheus ``match[]``
        semantics — the reference's e2e suite pins negative, regex,
        multi-matcher and time-bounded behavior,
        ``integration/prome2e/common_test.go:280-420``); the special
        label ``__name__`` enumerates metric names."""
        from .functions.otel_labels import key_to_label, resolve_label_name

        if label == "__name__":
            if not match:
                return prom_labels(sorted(self.source.metrics))
            out_name = "__name__"
        else:
            resolved = resolve_label_name(label, self.source.label_cols)
            if resolved is None:
                return prom_labels([])
            out_name = key_to_label(resolved)
        pts = self._series_points(match, start_us, end_us)
        rows = bounded_collect(
            pts.select(out_name).distinct(), self.max_result_rows
        )
        vals = sorted(r[0] for r in rows if r[0] is not None and r[0] != "")
        return prom_labels(vals)

    def _series_points(
        self,
        match: "list[str] | None",
        start_us: "int | None" = None,
        end_us: "int | None" = None,
    ) -> "DataFrame":
        """The points of the series the ``match[]`` selectors pick, as
        (sanitized labels…, ``__name__``, ts_us), within ``[start_us,
        end_us]``: each selector's ``_selector_points``.  Without
        ``match[]`` (which Prometheus requires) every stored row,
        without ``__name__``."""
        from functools import reduce

        from pyspark.sql import functions as F

        from .promql import ast
        from .promql.compiler import _sanitized_label_cols, _selector_points
        from .promql.parser import parse as parse_promql

        frames = []
        for sel_str in match or []:
            sel = parse_promql(sel_str)
            if not isinstance(sel, ast.VectorSelector):
                raise ValueError(f"match[] {sel_str!r} is not a series selector")
            pts = _selector_points(sel, self.source)
            if sel.name is not None:
                pts = pts.withColumn("__name__", F.lit(sel.name))
            frames.append(pts.drop("sample"))
        if not frames:
            frames.append(
                self.source.df.select(
                    *_sanitized_label_cols(self.source),
                    F.col(self.source.ts_col).alias("ts_us"),
                )
            )
        u = reduce(DataFrame.unionByName, frames)
        if start_us is not None:
            u = u.filter(F.col("ts_us") >= start_us)
        if end_us is not None:
            u = u.filter(F.col("ts_us") <= end_us)
        return u

    def query_exemplars(self, q: str, start_us: int, end_us: int) -> dict:
        """GET /api/v1/query_exemplars (promhandler.go:392-460).

        ``exemplars_df`` plays the metrics_exemplars table: series
        label columns + (ts_us, value, trace_id).  The selector's
        matchers filter it; like the reference, a handler without an
        exemplars store raises NotImplementedError (501)."""
        if self.exemplars_df is None:
            raise NotImplementedError("no exemplars store configured")
        from pyspark.sql import functions as F

        from .promql import ast
        from .promql.compiler import filter_matchers
        from .promql.parser import parse as parse_promql

        def _find_selector(node):
            """First VectorSelector in the expression tree (the AST is
            plain dataclasses and lists; walk both)."""
            if isinstance(node, ast.VectorSelector):
                return node
            children = []
            if hasattr(node, "__dataclass_fields__"):
                children = list(vars(node).values())
            elif isinstance(node, (list, tuple)):
                children = list(node)
            for v in children:
                found = _find_selector(v)
                if found is not None:
                    return found
            return None

        sel = _find_selector(parse_promql(q))
        df = self.exemplars_df.filter(F.col("ts_us").between(start_us, end_us))
        label_cols = [
            c for c in df.columns if c not in ("ts_us", "value", "trace_id")
        ]
        if sel is not None:
            df = filter_matchers(df, sel.matchers, label_cols)
        from collections import defaultdict

        series: dict[tuple, list] = defaultdict(list)
        for r in bounded_collect(df, self.max_result_rows):
            key = tuple((c, r[c]) for c in label_cols)
            series[key].append(
                {
                    "labels": {"trace_id": r["trace_id"]},
                    "value": str(r["value"]),
                    "timestamp": r["ts_us"] / 1e6,
                }
            )
        return {
            "status": "success",
            "data": [
                {"seriesLabels": dict(k), "exemplars": sorted(vs, key=lambda e: e["timestamp"])}
                for k, vs in sorted(
                    series.items(), key=lambda kv: [(c, str(v)) for c, v in kv[0]]
                )
            ],
        }

    def labels(self) -> dict:
        # Prometheus label names cannot contain dots: dotted storage
        # columns surface under their sanitized spelling, matching
        # what query results carry (otelstorage/attrs.go:11-41)
        from .functions.otel_labels import key_to_label

        return prom_labels([key_to_label(l) for l in self.source.label_cols])

    def series(self, q: str | None = None, limit: int | None = None) -> list[dict]:
        """GET /api/v1/series (promhandler.go:505-571 querySeries):
        distinct label sets of the series the ``match[]`` selector
        ``q`` picks, under sanitized names and with ``__name__``."""
        df = self._series_points([q] if q else None).drop("ts_us").distinct()
        if limit is not None:
            df = df.limit(limit)
        return [
            r.asDict() for r in bounded_collect(df, self.max_result_rows)
        ]

    def metadata(self, metric: str | None = None, limit: int = -1) -> dict:
        """GET /api/v1/metadata shape (promhandler.go:460-492): per
        metric one entry with type/help/unit; types derive from the
        remote-write suffix rules (``sources/prw.py``, suffix.go)
        unless the source registered an explicit kind."""
        from .sources.prw import metric_type_and_unit

        explicit = {"counter": "counter", "counter_mod": "counter"}
        data: dict[str, list[dict]] = {}
        for name in sorted(self.source.metrics):
            if metric is not None and name != metric:
                continue
            if limit >= 0 and len(data) >= limit:
                break
            stype, unit = metric_type_and_unit(name)
            kind = explicit.get(
                self.source.metrics[name],
                "counter" if stype == "sum" else "gauge",
            )
            if name in self.source.histograms:
                kind = "histogram"
            data[name] = [{"type": kind, "help": "", "unit": unit}]
        return {"status": "success", "data": data}


@dataclass
class ProfileQLEngine:
    """Render surface over a merged flamegraph result — the analog of
    the reference's ``profileqlengine.Result`` (render formats:
    collapsed / flamebearer / pprof / HTML, per ``collapsed.go``,
    ``flamebearer.go``, ``pprof.go``, ``html.go``).

    ``df`` is the merge output: one row per distinct collapsed stack
    (``stack`` using '>' separators, ``total_us`` self value) — e.g.
    the ``profile_flamegraph`` query.
    """

    df: object  # DataFrame of (stack, total_us)
    sample_type: str = "cpu"
    sample_unit: str = "nanoseconds"

    def collapsed(self) -> str:
        from .api.serializers import profile_collapsed

        return profile_collapsed(self.df)

    def flamebearer(self, max_nodes: int = 0) -> dict:
        from .api.profile_render import profile_flamebearer

        return profile_flamebearer(
            self.df, sample_type=self.sample_type, max_nodes=max_nodes
        )

    def pprof(self) -> bytes:
        from .api.profile_render import profile_pprof

        return profile_pprof(
            self.df,
            sample_type=self.sample_type,
            sample_unit=self.sample_unit,
            period_type=self.sample_type,
            period_unit=self.sample_unit,
        )

    def html(self) -> str:
        from .api.profile_render import profile_html

        return profile_html(self.df, sample_type=self.sample_type)

    # --- discovery ops over the raw profile rows (GetApps / Labels /
    # LabelValues in pyroscopeapi/oas_server_gen.go; Ingest is the
    # generic batched-inserter path of streaming/ingest.py) ---
    # profile rows: one row per sample with an ``app`` column plus
    # label columns listed in ``label_cols``
    source_df: "object | None" = None
    label_cols: tuple = ()

    def _need_source(self):
        if self.source_df is None:
            raise NotImplementedError("no profile source configured")
        return self.source_df

    def apps(self) -> list[str]:
        """GET /api/apps (profilehandler GetApps): distinct app names."""
        df = self._need_source()
        rows = bounded_collect(
            df.select("app").distinct(), DEFAULT_MAX_RESULT_ROWS
        )
        return sorted(r["app"] for r in rows)

    def profile_labels(self) -> list[str]:
        """GET /labels: the label-column names plus __name__."""
        self._need_source()
        return sorted({"__name__", *self.label_cols})

    def profile_label_values(self, label: str) -> list[str]:
        """GET /label-values?label=L: distinct values of one label
        (app names for __name__, per the pyroscope convention)."""
        df = self._need_source()
        col = "app" if label == "__name__" else label
        if col != "app" and col not in self.label_cols:
            return []
        rows = bounded_collect(df.select(col).distinct(), DEFAULT_MAX_RESULT_ROWS)
        return sorted(str(r[col]) for r in rows if r[col] is not None)


@dataclass
class TraceQLEngine:
    source: SpanSource

    def search_frame(self, q: str, limit: int | None = 20):
        """The DataFrame under GET /api/search: parse → compile →
        per-trace assembly, one row per matched trace (trace_id,
        trace_duration_us, start_us, root_name, root_service).
        ``limit=None`` skips the top-k (export/offline paths; the HTTP
        facade always bounds).  Over a span store written with ingest-time coords
        (``write_bucketed_spans(with_coords=True)``), a structural
        query plans with ZERO Python stages and ZERO Exchange — the
        compile routes ``>>``/``<<`` to the stored range semi-join and
        every later key (semi-join, groupBy) is the bucketing key
        (plan-asserted in tests/test_plans.py)."""
        from pyspark.sql import functions as F

        from .traceql.compiler import service_name_col

        matched = compile_traceql(q, self.source)
        # assemble the FULL trace for every matched trace id
        # (traceqlengine/engine.go:96-227): root/duration come from all
        # spans of the trace, not just the matching subset
        spans = self.source.df.join(
            matched.select(self.source.trace_col).distinct(),
            self.source.trace_col,
            "left_semi",
        )
        # the root span is the span WITHOUT a parent (min start_us as
        # the tie-break for broken traces), not the min span id
        root_rank = F.when(F.col(self.source.parent_col).isNull(), 0).otherwise(1)
        svc = service_name_col(self.source)
        traces = (
            spans.groupBy(self.source.trace_col)
            .agg(
                F.min_by(
                    F.struct(
                        F.col(self.source.name_col).alias("root_name"),
                        (
                            F.col(svc) if svc else F.lit(None).cast("string")
                        ).alias("root_service"),
                    ),
                    F.struct(
                        root_rank.alias("r"),
                        F.col(self.source.start_col).alias("s"),
                        F.col(self.source.span_col).alias("i"),
                    ),
                ).alias("root"),
                (
                    F.max(
                        F.col(self.source.start_col)
                        + F.col(self.source.duration_col)
                    )
                    - F.min(self.source.start_col)
                ).alias("trace_duration_us"),
                F.min(self.source.start_col).alias("start_us"),
            )
            .select("*", "root.*")
            .drop("root")
        )
        if limit is not None:
            traces = traces.orderBy(F.col("start_us").desc()).limit(limit)
        return traces

    def search(self, q: str, limit: int = 20) -> dict:
        """GET /api/search (tempohandler.go Search): TraceQL in,
        TraceSearchMetadata JSON out — serialization over
        :meth:`search_frame`."""
        return tempo_search(self.search_frame(q, limit))

    def search_tags_v2(self) -> dict:
        """GET /api/v2/search/tags shape (tempohandler.go:453-536):
        tag names grouped per scope — span/resource attribute columns
        plus the intrinsic set."""
        from .traceql.parser import INTRINSICS

        span_tags = sorted(
            {n for n in self.source.attr_cols if "." not in n}
        )
        resource_tags = sorted(
            {n for n in self.source.attr_cols if "." in n}
        )
        return {
            "scopes": [
                {"name": "span", "tags": span_tags},
                {"name": "resource", "tags": resource_tags},
                {"name": "intrinsic", "tags": sorted(INTRINSICS)},
            ]
        }

    def search_tag_values_v2(self, tag: str, limit: int = 100) -> dict:
        """GET /api/v2/search/tag/{tag}/values shape: typed distinct
        values of one attribute (tempohandler.go:306-396)."""
        from pyspark.sql import functions as F

        name = tag.split(".", 1)[-1] if tag.startswith(("span.", "resource.")) else tag
        col = self.source.attr_cols.get(name) or self.source.attr_cols.get(tag)
        if col is None:
            return {"tagValues": []}
        rows = (
            self.source.df.select(F.col(col).alias("v"))
            .where(F.col("v").isNotNull())
            .distinct()
            .orderBy("v")
            .limit(limit)
            .collect()
        )
        return {
            "tagValues": [
                {"type": "string", "value": str(r["v"])} for r in rows
            ]
        }

    def search_tags(self) -> dict:
        """GET /api/search/tags — v1 flat name list
        (tempohandler.go SearchTags; v2 adds scopes)."""
        from .traceql.parser import INTRINSICS

        return {
            "tagNames": sorted(
                set(self.source.attr_cols) | set(INTRINSICS)
            )
        }

    def search_tag_values(self, tag: str, limit: int = 100) -> dict:
        """GET /api/search/tag/{tag}/values — v1 untyped values."""
        v2 = self.search_tag_values_v2(tag, limit)
        return {"tagValues": [tv["value"] for tv in v2["tagValues"]]}

    def trace_by_id(self, trace_id) -> dict:
        """GET /api/traces/{id} (querier_traces.go:26-120) — all spans
        of one trace, start-ordered."""
        from pyspark.sql import functions as F

        rows = bounded_collect(
            self.source.df.filter(F.col(self.source.trace_col) == trace_id)
            .orderBy(self.source.start_col),
            DEFAULT_MAX_RESULT_ROWS,
        )
        return {
            "traceID": str(trace_id),
            "spans": [r.asDict(recursive=True) for r in rows],
        }

    def query_range(
        self,
        q: str,
        start_us: int,
        end_us: int,
        step_us: int,
        range_us: int | None = None,
    ) -> dict:
        """GET /api/metrics/query_range — the reference parses TraceQL
        metrics then returns 501 (tempohandler.go:108-120); served
        here through compile_traceql_metrics on the shared step
        machinery, Prometheus-like series out."""
        from .traceql.compiler import compile_traceql_metrics

        df = compile_traceql_metrics(
            q,
            self.source,
            start_us=start_us,
            end_us=end_us,
            step_us=step_us,
            range_us=range_us if range_us is not None else step_us,
        )
        return prom_matrix(df, _labels(df), max_rows=DEFAULT_MAX_RESULT_ROWS)
