"""TraceQL → DataFrame compiler.

Span filters become Column predicates over the span table; structural
operators become per-trace self-joins; scalar filters become trace
aggregates.  Dynamic typing follows the reference: a type-mismatched
comparison yields null → the span is dropped (TypeAttribute
semantics, ``traceql/op.go:96-114``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.structural import (
    ancestors_of,
    child_join,
    descendants,
    parent_join,
)
from . import parser as P


@dataclass
class SpanSource:
    """Span table adapter.  ``attr_cols`` maps attribute names (as
    written in queries, e.g. ``service.name`` or ``http.route``) to
    columns; intrinsics map onto the standard span schema columns."""

    df: DataFrame
    attr_cols: dict[str, str]
    duration_col: str = "duration_us"  # µs (intrinsic `duration`)
    name_col: str = "name"
    status_col: str = "status_code"
    kind_col: str = "kind"
    trace_col: str = "trace_id"
    span_col: str = "span_id"
    parent_col: str = "parent_span_id"
    start_col: str = "start_us"
    attrs_map_col: str | None = None
    # optional map of RESOURCE attrs; scope-strict lookups (see
    # _attr_col) — resource.X reads only this, span.X only attrs_map
    resource_attrs_map_col: str | None = None
    # array<struct<name,ts_us,attrs>> / array<struct<trace_id,span_id,attrs>>
    events_col: str | None = None
    links_col: str | None = None
    scope_name_col: str | None = None
    scope_version_col: str | None = None


def _first_where(arr: Column, pred) -> Column:
    """First array element satisfying pred, or null (the evaluator's
    first-match loops over span events/links, evaluater.go:562-669).
    try_element_at: empty matches → null, not an ANSI error."""
    return F.try_element_at(F.filter(arr, pred), F.lit(1))


def _attr_col(src: SpanSource, a: P.Attr) -> Column:
    if a.scope == "intrinsic":
        intr = {
            "duration": F.col(src.duration_col),
            "name": F.col(src.name_col),
            "status": F.col(src.status_col),
            "kind": F.col(src.kind_col),
        }
        if a.name in intr:
            return intr[a.name]
        if a.name in _TRACE_INTRINSICS:
            # materialized by _with_trace_columns before compilation
            return F.col(f"__trace_{a.name}")
        if a.name in _NS_INTRINSICS:
            # stored at ingest, or materialized by
            # _with_nested_set_columns before compilation
            return F.col(_NS_INTRINSICS[a.name])
        c = _scoped_intrinsic(src, a.name)
        if c is not None:
            return c
        raise KeyError(f"TraceQL: intrinsic {a.name} needs trace context")
    if a.scope == "event":
        if src.events_col is None:
            raise KeyError("TraceQL: span source has no events column")
        key = a.name
        hit = _first_where(
            F.col(src.events_col),
            lambda e: e["attrs"].getItem(key).isNotNull(),
        )
        return hit["attrs"].getItem(key)
    if a.scope == "link":
        if src.links_col is None:
            raise KeyError("TraceQL: span source has no links column")
        key = a.name
        hit = _first_where(
            F.col(src.links_col),
            lambda e: e["attrs"].getItem(key).isNotNull(),
        )
        return hit["attrs"].getItem(key)
    if a.scope == "parent":
        # resolved against the pre-joined parent columns added by
        # compile_traceql (one per-trace self-join, not per attribute)
        return F.col(f"__parent_{_parent_resolve(src, a.name)}")
    key = a.name
    if key in src.attr_cols:
        return F.col(src.attr_cols[key])
    if (
        a.scope in ("span", "resource", "instrumentation")
        and f"{a.scope}.{key}" in src.attr_cols
    ):
        return F.col(src.attr_cols[f"{a.scope}.{key}"])
    # map fallbacks are STRICTLY scoped (the reference searches only
    # the scope's own attribute set: resource.X never reads a span
    # attr — tempoe2e pins `{resource.http.method = "POST"}` empty);
    # unscoped searches span first, then resource
    span_m = (
        F.col(src.attrs_map_col).getItem(key)
        if src.attrs_map_col is not None
        else None
    )
    res_m = (
        F.col(src.resource_attrs_map_col).getItem(key)
        if src.resource_attrs_map_col is not None
        else None
    )
    if a.scope == "span" and span_m is not None:
        return span_m
    if a.scope == "resource" and res_m is not None:
        return res_m
    if a.scope == "unscoped":
        if span_m is not None and res_m is not None:
            return F.coalesce(span_m, res_m)
        if span_m is not None:
            return span_m
        if res_m is not None:
            return res_m
    raise KeyError(f"TraceQL: unknown attribute {a.scope}.{key}")


def _scoped_intrinsic(src: SpanSource, name: str) -> Column | None:
    """Colon-scoped intrinsics (attribute.go:67-84): first-match
    semantics over the events/links arrays."""
    if name == "span:id":
        return F.col(src.span_col)
    if name == "span:parentID":
        return F.col(src.parent_col)
    if name == "trace:id":
        return F.col(src.trace_col)
    if name == "instrumentation:name" and src.scope_name_col:
        return F.col(src.scope_name_col)
    if name == "instrumentation:version" and src.scope_version_col:
        return F.col(src.scope_version_col)
    if name.startswith("event:") and src.events_col is not None:
        ev = F.col(src.events_col)
        if name == "event:name":
            return _first_where(ev, lambda e: e["name"] != "")["name"]
        if name == "event:timeSinceStart":
            start = F.col(src.start_col)
            hit = _first_where(ev, lambda e: (e["ts_us"] - start) != 0)
            return hit["ts_us"] - start  # duration, µs
    if name.startswith("link:") and src.links_col is not None:
        ln = F.col(src.links_col)
        if name == "link:traceID":
            return _first_where(ln, lambda e: e["trace_id"].isNotNull())[
                "trace_id"
            ]
        if name == "link:spanID":
            return _first_where(ln, lambda e: e["span_id"].isNotNull())[
                "span_id"
            ]
    return None


_PARENT_INTRINSICS = {"name", "duration", "status", "kind"}


def _parent_resolve(src: SpanSource, name: str) -> str:
    """Underlying column for a parent-scope attribute."""
    if name in _PARENT_INTRINSICS:
        return {
            "name": src.name_col,
            "duration": src.duration_col,
            "status": src.status_col,
            "kind": src.kind_col,
        }[name]
    if name in src.attr_cols:
        return src.attr_cols[name]
    raise KeyError(f"TraceQL: unknown parent attribute {name}")


def _collect_attrs(node, out: list) -> None:
    if isinstance(node, P.Attr):
        out.append(node)
    elif isinstance(node, P.FieldOp):
        _collect_attrs(node.lhs, out)
        if node.rhs is not None:
            _collect_attrs(node.rhs, out)
    elif isinstance(node, P.Spanset):
        if node.expr is not None:
            _collect_attrs(node.expr, out)
    elif isinstance(node, P.Structural):
        _collect_attrs(node.lhs, out)
        _collect_attrs(node.rhs, out)


_TRACE_INTRINSICS = {"rootName", "rootServiceName", "traceDuration", "childCount"}

# nested-set coordinates (attribute.go:60-65 — reserved by the
# reference, computed here): ns_left/ns_right/ns_parent, either stored
# at ingest (write_bucketed_spans(with_coords=True)) or materialized
# per query by _with_nested_set_columns
_NS_INTRINSICS = {
    "nestedSetLeft": "ns_left",
    "nestedSetRight": "ns_right",
    "nestedSetParent": "ns_parent",
}


def _query_attrs(query) -> list:
    attrs: list[P.Attr] = []
    _collect_attrs(query.root, attrs)
    for st in query.stages:
        if isinstance(st, P.ScalarFilter) and st.attr is not None:
            _collect_attrs(st.attr, attrs)
        elif isinstance(st, P.ScalarExprFilter):
            def _walk_scalar(node):
                if isinstance(node, P.SAgg) and node.attr is not None:
                    _collect_attrs(node.attr, attrs)
                elif isinstance(node, P.SBin):
                    _walk_scalar(node.lhs)
                    _walk_scalar(node.rhs)

            _walk_scalar(st.lhs)
            _walk_scalar(st.rhs)
        elif isinstance(st, P.Select):
            for a in st.attrs:
                _collect_attrs(a, attrs)
        elif isinstance(st, P.Group):
            _collect_attrs(st.by, attrs)
    return attrs


def service_name_col(source: SpanSource) -> "str | None":
    """The column holding a span's ``service.name`` (``None`` when the
    source has none) — what ``rootServiceName`` reads on the root."""
    return source.attr_cols.get("service.name") or source.attr_cols.get("service")


def _with_trace_columns(source: SpanSource, query) -> SpanSource:
    """Materialize trace-context intrinsics (rootName,
    rootServiceName, traceDuration, childCount — attribute.go:52-65)
    as per-trace / per-span columns when the query references them.
    One groupBy(trace) + per-trace join each — co-partitioned by
    trace, same shuffle key as the structural joins, so AQE can reuse
    the exchange.  Root = the parentless span with the smallest
    span_id (deterministic when a trace carries several roots)."""
    import dataclasses

    names = {
        a.name
        for a in _query_attrs(query)
        if a.scope == "intrinsic" and a.name in _TRACE_INTRINSICS
    }
    if not names:
        return source
    df = source.df
    spans = source.df
    tcol = source.trace_col
    if {"rootName", "rootServiceName"} & names:
        root_aggs = []
        if "rootName" in names:
            root_aggs.append(
                F.min_by(F.col(source.name_col), F.col(source.span_col)).alias(
                    "__trace_rootName"
                )
            )
        if "rootServiceName" in names:
            svc = service_name_col(source)
            if svc is None:
                raise KeyError(
                    "TraceQL: rootServiceName needs a service.name attr column"
                )
            root_aggs.append(
                F.min_by(F.col(svc), F.col(source.span_col)).alias(
                    "__trace_rootServiceName"
                )
            )
        roots = (
            spans.filter(F.col(source.parent_col).isNull())
            .groupBy(tcol)
            .agg(*root_aggs)
        )
        df = df.join(roots, tcol, "left")
    if "traceDuration" in names:
        td = spans.groupBy(tcol).agg(
            (
                F.max(F.col(source.start_col) + F.col(source.duration_col))
                - F.min(F.col(source.start_col))
            ).alias("__trace_traceDuration")
        )
        df = df.join(td, tcol, "left")
    if "childCount" in names:
        cc = spans.groupBy(
            F.col(tcol).alias("__cc_tid"),
            F.col(source.parent_col).alias("__cc_sid"),
        ).agg(F.count(F.lit(1)).alias("__trace_childCount"))
        df = df.join(
            cc,
            (F.col(tcol) == F.col("__cc_tid"))
            & (F.col(source.span_col) == F.col("__cc_sid")),
            "left",
        ).drop("__cc_tid", "__cc_sid")
        df = df.withColumn(
            "__trace_childCount", F.coalesce("__trace_childCount", F.lit(0))
        )
    return dataclasses.replace(source, df=df)


def _with_nested_set_columns(source: SpanSource, query) -> SpanSource:
    """Make the nestedSet* intrinsics queryable: a span store written
    with ``with_coords=True`` already carries ns_left/ns_right/
    ns_parent (zero query-time cost — the ingest path paid the DFS
    once); otherwise compute them for this query via
    :func:`operators.structural.trace_coords` — one bucketed
    applyInPandas pass + one per-trace join, the same shape the
    nested-set ``>>`` route uses."""
    import dataclasses

    names = {
        a.name
        for a in _query_attrs(query)
        if a.scope == "intrinsic" and a.name in _NS_INTRINSICS
    }
    if not names:
        return source
    needed = {_NS_INTRINSICS[n] for n in names}
    if needed <= set(source.df.columns):
        return source  # stored at ingest
    from ..operators.structural import trace_coords

    coords = trace_coords(
        source.df.select(
            F.col(source.trace_col).alias("trace_id"),
            F.col(source.span_col).alias("span_id"),
            F.col(source.parent_col).alias("parent_span_id"),
        ),
        with_parent=True,
    )
    df = source.df.join(
        coords.withColumnRenamed("trace_id", source.trace_col)
        .withColumnRenamed("span_id", source.span_col)
        .drop("parent_span_id"),
        [source.trace_col, source.span_col],
    )
    return dataclasses.replace(source, df=df)


def _with_parent_columns(source: SpanSource, query) -> SpanSource:
    """If the query references parent.x, left-join each span to its
    parent once and materialize the needed parent columns.  The join
    key is (trace_id, span_id) — co-partitioned by trace, so at scale
    this is a single per-trace shuffle, not a broadcast of the span
    table.  Spans without a parent get nulls → comparisons drop them
    (nil semantics)."""
    import dataclasses

    attrs: list[P.Attr] = []
    _collect_attrs(query.root, attrs)
    for st in query.stages:
        if isinstance(st, P.ScalarFilter) and st.attr is not None:
            _collect_attrs(st.attr, attrs)
        elif isinstance(st, P.ScalarExprFilter):
            def _walk_scalar(node):
                if isinstance(node, P.SAgg) and node.attr is not None:
                    _collect_attrs(node.attr, attrs)
                elif isinstance(node, P.SBin):
                    _walk_scalar(node.lhs)
                    _walk_scalar(node.rhs)

            _walk_scalar(st.lhs)
            _walk_scalar(st.rhs)
        elif isinstance(st, P.Select):
            for a in st.attrs:
                _collect_attrs(a, attrs)
    needed = sorted(
        {_parent_resolve(source, a.name) for a in attrs if a.scope == "parent"}
    )
    if not needed:
        return source
    df = source.df
    p = df.select(
        F.col(source.trace_col).alias("__ptid"),
        F.col(source.span_col).alias("__psid"),
        *[F.col(c).alias(f"__parent_{c}") for c in needed],
    )
    enriched = df.join(
        p,
        (F.col(source.trace_col) == F.col("__ptid"))
        & (F.col(source.parent_col) == F.col("__psid")),
        "left",
    ).drop("__ptid", "__psid")
    return dataclasses.replace(source, df=enriched)


_NUMERIC_DTYPES = ("bigint", "int", "smallint", "tinyint", "double", "float", "decimal")
_CMP_OPS = frozenset({"=", "!=", "=~", "!~", ">", ">=", "<", "<="})


def _operand_type(src: SpanSource, e) -> "str | None":
    """'string' / 'numeric' for typed-comparison checking; None when
    unknown (arithmetic subtrees, intrinsics with enum literals)."""
    if isinstance(e, P.Lit):
        if e.kind == "string":
            return "string"
        if e.kind in ("number", "duration"):
            return "numeric"
        return None  # status/kind enums compare against their columns
    if isinstance(e, P.Attr) and e.scope in (
        "span",
        "resource",
        "unscoped",
        "instrumentation",
    ):
        key = e.name if e.name in src.attr_cols else f"{e.scope}.{e.name}"
        if key in src.attr_cols:
            dt = dict(src.df.dtypes).get(src.attr_cols[key])
            if dt is None:
                return None
            if dt == "string":
                return "string"
            if dt.startswith(_NUMERIC_DTYPES):
                return "numeric"
            return None
        if src.attrs_map_col is not None:
            return None  # untyped map values — dynamic, skip the check
    return None


def _static_type_mismatch(src: SpanSource, lhs, rhs) -> bool:
    """TraceQL comparisons are typed: an int attribute never matches a
    string literal (and vice versa) — the reference's evaluator fails
    the comparison instead of coercing (tempoe2e common_test.go:771-773
    pins `{ .http.status_code = "200" }` and `=~ "^POST$"` empty)."""
    a, b = _operand_type(src, lhs), _operand_type(src, rhs)
    return a is not None and b is not None and a != b


def _field_col(src: SpanSource, e) -> Column:
    if isinstance(e, P.Lit):
        if e.kind == "duration":
            return F.lit(float(e.value))  # µs, matches duration intrinsic
        return F.lit(e.value)
    if isinstance(e, P.Attr):
        return _attr_col(src, e)
    if isinstance(e, P.FieldOp):
        if e.op == "!":
            return ~_field_col(src, e.lhs)
        if e.op == "neg":
            return -_field_col(src, e.lhs)
        if e.op in _CMP_OPS and _static_type_mismatch(src, e.lhs, e.rhs):
            return F.lit(False)
        a = _field_col(src, e.lhs)
        b = _field_col(src, e.rhs)
        ops = {
            "=": lambda: a == b,
            "!=": lambda: a != b,
            "=~": lambda: a.rlike(_lit_str(e.rhs)),
            "!~": lambda: ~a.rlike(_lit_str(e.rhs)),
            ">": lambda: a > b,
            ">=": lambda: a >= b,
            "<": lambda: a < b,
            "<=": lambda: a <= b,
            "&&": lambda: a & b,
            "||": lambda: a | b,
            "+": lambda: a + b,
            "-": lambda: a - b,
            "*": lambda: a * b,
            "/": lambda: a / b,
            "%": lambda: a % b,
        }
        return ops[e.op]()
    raise SyntaxError(f"TraceQL: bad field expr {e!r}")


def _lit_str(e) -> str:
    if isinstance(e, P.Lit) and e.kind == "string":
        return e.value
    raise SyntaxError("TraceQL: regex operand must be a string literal")


def _spanset_pred(src: SpanSource, s: P.Spanset) -> Column:
    if s.expr is None:
        return F.lit(True)
    return _field_col(src, s.expr)


def compile_traceql(query, source: SpanSource) -> DataFrame:
    """Compile a TraceQL query to the DataFrame of matching spans."""
    if isinstance(query, str):
        query = P.parse(query)

    orig_cols = set(source.df.columns)
    source = _with_parent_columns(source, query)
    source = _with_trace_columns(source, query)
    source = _with_nested_set_columns(source, query)
    out = _compile_structural(query.root, source)

    # spanset identity: trace_id, split further by any active by()
    # group columns (merged back by coalesce()) — the reference parses
    # these stages but 501s execution (traceqlengine/pipeline.go:78);
    # here they run
    group_cols: list[str] = []
    n_groups = 0
    for stage in query.stages:
        if isinstance(stage, P.Group):
            n_groups += 1
            gcol = f"__group_{n_groups}"
            out = out.withColumn(gcol, _field_col(source, stage.by))
            # a span with no group value belongs to no spanset
            out = out.filter(F.col(gcol).isNotNull())
            group_cols.append(gcol)
        elif isinstance(stage, P.Coalesce):
            group_cols = []
        elif isinstance(stage, P.ScalarFilter):
            if stage.agg == "count":
                agg = F.count(F.lit(1)).cast("double")
            else:
                col = (
                    _field_col(src=source, e=stage.attr)
                    if stage.attr is not None
                    else F.col(source.duration_col)
                )
                agg = {
                    "max": F.max,
                    "min": F.min,
                    "avg": F.avg,
                    "sum": F.sum,
                }[stage.agg](col).cast("double")
            keys = [source.trace_col, *group_cols]
            per_set = out.groupBy(*keys).agg(agg.alias("__agg"))
            cmp = {
                "=": F.col("__agg") == stage.value,
                "!=": F.col("__agg") != stage.value,
                ">": F.col("__agg") > stage.value,
                ">=": F.col("__agg") >= stage.value,
                "<": F.col("__agg") < stage.value,
                "<=": F.col("__agg") <= stage.value,
            }[stage.op]
            keep = per_set.filter(cmp).select(*keys)
            out = out.join(keep, keys, "left_semi")
        elif isinstance(stage, P.ScalarExprFilter):
            # general scalar expressions over spanset aggregates:
            # | sum(.x)/count() = avg(.x), | 200 = min(.x), parenthesized
            # arithmetic — ONE aggregation computes every referenced
            # aggregate, then the expression evaluates over the row
            aggs: dict[str, Column] = {}

            def _sagg_col(fn: str, attr) -> Column:
                if fn == "count":
                    return F.count(F.lit(1)).cast("double")
                col = (
                    _field_col(src=source, e=attr)
                    if attr is not None
                    else F.col(source.duration_col)
                )
                return {
                    "max": F.max,
                    "min": F.min,
                    "avg": F.avg,
                    "sum": F.sum,
                }[fn](col).cast("double")

            def _collect(node):
                if isinstance(node, P.SAgg):
                    key = f"__s_{fn_key(node)}"
                    aggs.setdefault(key, _sagg_col(node.fn, node.attr))
                elif isinstance(node, P.SBin):
                    _collect(node.lhs)
                    _collect(node.rhs)

            def fn_key(node: "P.SAgg") -> str:
                a = "" if node.attr is None else f"{node.attr.scope}.{node.attr.name}"
                return f"{node.fn}({a})".replace(".", "_")

            def _eval(node) -> Column:
                if isinstance(node, P.SAgg):
                    return F.col(f"__s_{fn_key(node)}")
                if isinstance(node, P.SNum):
                    return F.lit(float(node.value))
                ops = {
                    "+": lambda a, b: a + b,
                    "-": lambda a, b: a - b,
                    "*": lambda a, b: a * b,
                    "/": lambda a, b: a / b,
                }
                return ops[node.op](_eval(node.lhs), _eval(node.rhs))

            _collect(stage.lhs)
            _collect(stage.rhs)
            keys = [source.trace_col, *group_cols]
            per_set = out.groupBy(*keys).agg(
                *[c.alias(k) for k, c in aggs.items()]
            )
            l, r = _eval(stage.lhs), _eval(stage.rhs)
            cmp = {
                "=": l == r,
                "!=": l != r,
                ">": l > r,
                ">=": l >= r,
                "<": l < r,
                "<=": l <= r,
            }[stage.op]
            keep = per_set.filter(cmp).select(*keys)
            out = out.join(keep, keys, "left_semi")
        elif isinstance(stage, P.Select):
            cols = [source.trace_col, source.span_col] + [
                _attr_col(source, a).alias(a.name.replace(".", "_"))
                for a in stage.attrs
            ]
            out = out.select(*cols)
        else:
            raise SyntaxError(f"TraceQL: unsupported stage {stage!r}")
    internal = [
        c
        for c in out.columns
        if c.startswith("__parent_")
        or c.startswith("__group_")
        or c.startswith("__trace_")
        # query-time-materialized nested-set coords; STORED coords
        # (already in the source table) stay in the output schema
        or (c in ("ns_left", "ns_right", "ns_parent") and c not in orig_cols)
    ]
    if internal:
        out = out.drop(*internal)
    return out


def compile_traceql_metrics(
    query,
    source: SpanSource,
    *,
    start_us: int,
    end_us: int,
    step_us: int,
    range_us: int,
    spark=None,
) -> DataFrame:
    """TraceQL metrics queries — ``{filter} | rate() by (attrs)`` and
    the *_over_time family — through the full parse path.  The
    reference parses these (``parser_metrics_expr.go``) but its
    engine returns 501; here the matched spans become samples on the
    shared step fan-out machinery (operators/range_agg.py), so trace
    metrics reuse the exact LogQL/PromQL aggregation path."""
    from ..operators.range_agg import range_aggregate

    if isinstance(query, str):
        query = P.parse(query)
    fn_at = next(
        (
            i
            for i, s in enumerate(query.stages)
            if isinstance(s, (P.MetricFn, P.Compare))
        ),
        None,
    )
    if fn_at is None:
        raise SyntaxError("TraceQL: not a metrics query (no trailing fn)")
    fn = query.stages[fn_at]
    second = query.stages[fn_at + 1 :]
    base = P.TraceQuery(query.root, query.stages[:fn_at])
    spans = compile_traceql(base, source)

    if isinstance(fn, P.Compare):
        if second:
            raise SyntaxError("TraceQL: compare() takes no second stage")
        return _compile_compare(
            fn,
            spans,
            source,
            start_us=start_us,
            end_us=end_us,
            step_us=step_us,
            range_us=range_us,
        )

    def by_name(a) -> str:
        return a.name.replace(".", "_")

    cols = [_field_col(source, a).alias(by_name(a)) for a in fn.by]
    sample = (
        _field_col(source, fn.attr).cast("double")
        if fn.attr is not None
        else F.lit(1.0)
    )
    samples = spans.select(
        *cols, F.col(source.start_col).alias("ts_us"), sample.alias("sample")
    )
    if fn.name == "histogram_over_time":
        # Tempo's histogram series: per-window scale-0 exp-bucket
        # counts of the attr values (operators/histogram.py ladder) —
        # seconds for duration, per Tempo's histogram buckets
        from ..operators.histogram import bucket_case_sql
        from ..operators.stepfanout import fanout

        fanned = fanout(samples, start_us, end_us, step_us, range_us)
        secs = (F.col("sample") / F.lit(1e6)).alias("__secs")
        fanned = fanned.withColumn("__secs", secs)
        bucket = F.expr(bucket_case_sql("__secs")).alias("bucket")
        out = fanned.groupBy(
            *[by_name(a) for a in fn.by], "step_us", bucket
        ).agg(F.count(F.lit(1)).cast("double").alias("value"))
        labels = [by_name(a) for a in fn.by] + ["bucket"]
    else:
        out = range_aggregate(
            samples,
            fn.name if fn.name != "rate" else "rate",
            start_us=start_us,
            end_us=end_us,
            step_us=step_us,
            range_us=range_us,
            by=[by_name(a) for a in fn.by],
            q=fn.q,
            spark=spark,
        )
        labels = [by_name(a) for a in fn.by]
    return _apply_metrics_stages(out, second, labels)


def _apply_metrics_stages(out: DataFrame, stages, labels: list[str]) -> DataFrame:
    """Second-stage metrics ops on a (labels..., step_us, value) frame
    (traceql/metrics_expr.go:112-145; the reference parses these and
    501s).  topk/bottomk keep the k series with the highest/lowest
    value PER STEP — a per-step window rank, ties broken by the label
    columns for determinism."""
    from pyspark.sql import Window

    for st in stages:
        if isinstance(st, P.TopK):
            order = (
                F.col("value").desc() if st.op == "topk" else F.col("value").asc()
            )
            w = Window.partitionBy("step_us").orderBy(
                order, *[F.col(l) for l in labels]
            )
            out = (
                out.withColumn("__rk", F.row_number().over(w))
                .filter(F.col("__rk") <= st.limit)
                .drop("__rk")
            )
        elif isinstance(st, P.MetricsFilter):
            cmp = {
                ">": F.col("value") > st.value,
                ">=": F.col("value") >= st.value,
                "<": F.col("value") < st.value,
                "<=": F.col("value") <= st.value,
                "=": F.col("value") == st.value,
                "!=": F.col("value") != st.value,
            }[st.op]
            out = out.filter(cmp)
        elif isinstance(st, P.MetricsScalarOp):
            v = F.lit(st.value)
            expr = {
                "+": F.col("value") + v,
                "-": F.col("value") - v,
                "*": F.col("value") * v,
                "/": F.col("value") / v,
            }[st.op]
            out = out.withColumn("value", expr)
        else:
            raise SyntaxError(f"TraceQL: unsupported metrics stage {st!r}")
    return out


def _compile_compare(
    cmp,
    spans: DataFrame,
    source: SpanSource,
    *,
    start_us: int,
    end_us: int,
    step_us: int,
    range_us: int,
) -> DataFrame:
    """``compare({selection}, topN[, start, end])`` — split the spans
    into a selection (matching the filter, inside the optional ns
    window) and a baseline (the rest), then emit per-step count series
    for every (attribute, value) pair found on them, keeping the topN
    values per (group, attribute) by total count
    (metrics_expr.go:66-95; the reference parses + 501s).  Attribute
    universe = the source's declared ``attr_cols`` (the flattened
    analog of scanning decoded span attrs)."""
    from pyspark.sql import Window

    from ..operators.stepfanout import fanout

    pred = (
        _spanset_pred(source, cmp.filter)
        if cmp.filter.expr is not None
        else F.lit(True)
    )
    if cmp.start_ns and cmp.end_ns:
        in_win = F.col(source.start_col).between(
            cmp.start_ns // 1000, cmp.end_ns // 1000
        )
        pred = pred & in_win
    group = F.when(pred, F.lit("selection")).otherwise(F.lit("baseline"))
    # one row per (span, declared attribute): key/value pairs explode
    # from a literal struct array — no shuffle, the fan-out is bounded
    # by the attr map size
    seen = set()
    entries = []
    for attr_name, col in sorted(source.attr_cols.items()):
        if col in seen:
            continue  # aliased spellings (service / service.name)
        seen.add(col)
        entries.append(
            F.struct(
                F.lit(attr_name).alias("key"),
                F.col(col).cast("string").alias("val"),
            )
        )
    e = spans.select(
        group.alias("__group"),
        F.col(source.start_col).alias("ts_us"),
        F.explode(F.array(*entries)).alias("kv"),
    ).select("__group", "ts_us", F.col("kv.key").alias("key"), F.col("kv.val").alias("val"))
    fanned = fanout(
        e.withColumn("sample", F.lit(1.0)), start_us, end_us, step_us, range_us
    )
    counts = fanned.groupBy("__group", "key", "val", "step_us").agg(
        F.count(F.lit(1)).cast("double").alias("value")
    )
    totals = counts.groupBy("__group", "key", "val").agg(
        F.sum("value").alias("__tot")
    )
    w = Window.partitionBy("__group", "key").orderBy(
        F.col("__tot").desc(), F.col("val")
    )
    keep = (
        totals.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= cmp.top_n)
        .select("__group", "key", "val")
    )
    return (
        counts.join(keep, ["__group", "key", "val"], "left_semi")
        .select(
            F.col("__group").alias("meta_type"), "key", "val", "step_us", "value"
        )
    )


def _compile_structural(node, source: SpanSource) -> DataFrame:
    spans = source.df
    if isinstance(node, P.Spanset):
        return spans.filter(_spanset_pred(source, node))
    if isinstance(node, P.Structural):
        if node.op in ("&&", "||"):
            lhs = _compile_structural(node.lhs, source)
            rhs = _compile_structural(node.rhs, source)
            lt = lhs.select(source.trace_col).distinct()
            rt = rhs.select(source.trace_col).distinct()
            if node.op == "&&":
                # same-trace intersection: spans from both sides in
                # traces where both matched (spanset_op.go:42-66)
                both = lt.join(rt, source.trace_col, "left_semi")
                u = lhs.unionByName(rhs).dropDuplicates(
                    [source.trace_col, source.span_col]
                )
                return u.join(both, source.trace_col, "left_semi")
            return lhs.unionByName(rhs).dropDuplicates(
                [source.trace_col, source.span_col]
            )
        # structural child/descendant/sibling: rhs spans related to lhs
        lp = _node_pred(node.lhs, source)
        rp = _node_pred(node.rhs, source)
        # ingest-time nested-set coords in the source table (bucketed
        # store written with_coords=True): serve >>/<< as a single
        # zero-Python range semi-join instead of recomputing the DFS
        stored = {"ns_left", "ns_right"} <= set(spans.columns)
        if node.op == ">":
            return child_join(spans, lp, rp)
        if node.op == ">>":
            if stored:
                from ..operators.structural import descendants_stored

                return descendants_stored(spans, lp, rp)
            return descendants(spans, lp, rp)
        def siblings():
            a = spans.filter(lp).select(
                F.col(source.trace_col).alias("__tid"),
                F.col(source.parent_col).alias("__pid"),
                F.col(source.span_col).alias("__sid"),
            )
            b = spans.filter(rp)
            return (
                b.join(
                    a,
                    (b[source.trace_col] == F.col("__tid"))
                    & (b[source.parent_col].eqNullSafe(F.col("__pid")))
                    & (b[source.span_col] != F.col("__sid")),
                )
                .drop("__tid", "__pid", "__sid")
                .dropDuplicates([source.trace_col, source.span_col])
            )

        if node.op == "~":
            return siblings()
        # parent / ancestor and the negated forms: the reference
        # parses these (op.go:229-239) but its engine rejects them;
        # negation = rhs-matching spans minus the positive relation
        key = [source.trace_col, source.span_col]
        if node.op == "<":
            return parent_join(spans, lp, rp)
        if node.op == "<<":
            if stored:
                from ..operators.structural import ancestors_stored

                return ancestors_stored(spans, lp, rp)
            return ancestors_of(spans, lp, rp)
        if node.op in ("!>", "!>>", "!~"):
            def _desc():
                if stored:
                    from ..operators.structural import descendants_stored

                    return descendants_stored(spans, lp, rp)
                return descendants(spans, lp, rp)

            pos = {
                "!>": lambda: child_join(spans, lp, rp),
                "!>>": _desc,
                "!~": siblings,
            }[node.op]()
            return spans.filter(rp).join(
                pos.select(*key), key, "left_anti"
            )
        if node.op.startswith("&"):
            # union structural: spans from BOTH sides of the relation
            # (op.go:233-239 UnionChild..UnionSibling, engine-rejected
            # in the reference) — positive relation ∪ its mirror with
            # the predicates swapped
            def sib_swapped():
                a = spans.filter(rp).select(
                    F.col(source.trace_col).alias("__tid"),
                    F.col(source.parent_col).alias("__pid"),
                    F.col(source.span_col).alias("__sid"),
                )
                b = spans.filter(lp)
                return b.join(
                    a,
                    (b[source.trace_col] == F.col("__tid"))
                    & (b[source.parent_col].eqNullSafe(F.col("__pid")))
                    & (b[source.span_col] != F.col("__sid")),
                ).drop("__tid", "__pid", "__sid")

            rel, mirror = {
                "&>": (
                    lambda: child_join(spans, lp, rp),
                    lambda: parent_join(spans, rp, lp),
                ),
                "&<": (
                    lambda: parent_join(spans, lp, rp),
                    lambda: child_join(spans, rp, lp),
                ),
                "&>>": (
                    lambda: descendants(spans, lp, rp),
                    lambda: ancestors_of(spans, rp, lp),
                ),
                "&<<": (
                    lambda: ancestors_of(spans, lp, rp),
                    lambda: descendants(spans, rp, lp),
                ),
                "&~": (siblings, sib_swapped),
            }[node.op]
            return (
                rel()
                .unionByName(mirror())
                .dropDuplicates([source.trace_col, source.span_col])
            )
        raise SyntaxError(f"TraceQL: unsupported structural op {node.op}")
    raise SyntaxError(f"TraceQL: bad node {node!r}")


def _node_pred(node, source: SpanSource) -> Column:
    if isinstance(node, P.Spanset):
        return _spanset_pred(source, node)
    raise SyntaxError("TraceQL: nested structural chains need parentheses")
