"""PromQL → DataFrame compiler.

Semantics preserved from Prometheus (the reference's compliance bar,
SURVEY §2.4): staleness lookback for instant selectors (5m default),
counter resets + extrapolation for the rate family, right-open step
windows ``(t-range, t]``, vector matching on label sets.

Source model: a points table (label cols..., ts_us, value) per metric
name — ``MetricSource.metrics`` maps metric name → value column, with
shared label columns; mirrors the reference's series/points split
(``metrics_timeseries`` / ``metrics_points``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import label_match
from ..operators.binop import scalar_binop, vector_binop
from ..operators.range_agg import range_aggregate
from ..operators.rate import rate_family
from ..operators.stepfanout import fanout
from ..operators.vector_agg import vector_aggregate
from . import ast

DEFAULT_LOOKBACK_US = 5 * 60 * 1_000_000


@dataclass
class MetricSource:
    df: DataFrame
    metrics: dict[str, str]  # metric name → value column
    label_cols: list[str]
    ts_col: str = "ts_us"
    # metric names whose samples are native-histogram observation
    # streams (decoded to scale-0 exp buckets at query time); the
    # histogram_* functions only accept selectors of these
    histograms: frozenset[str] = frozenset()
    # metric name → exponential-histogram STATE frame — the
    # reference's actual storage model (bucket arrays + scale in
    # metrics_exp_histograms, decoded at query time at ANY scale,
    # querier_metrics.go:1365-1470).  Frames carry
    # (exp_state_labels..., ts_us, count, sum, scale, zero_count,
    # positive_offset, positive_counts); the histogram_* family picks
    # the latest state per step within the lookback and decodes.
    exp_states: "dict[str, DataFrame]" = field(default_factory=dict)
    exp_state_labels: list[str] = field(default_factory=list)
    # info-metric frame for the experimental info() function
    # (functions.go funcInfo behind promql-experimental-functions):
    # (info_identifying..., data labels..., ts_col) — the latest row
    # per identifying key within the staleness lookback donates its
    # data labels to each sample of info()'s vector argument.
    info_df: "DataFrame | None" = None
    info_identifying: list[str] = field(default_factory=list)


@dataclass
class PromParams:
    start_us: int
    end_us: int
    step_us: int
    lookback_us: int = DEFAULT_LOOKBACK_US


RANGE_FUNCS = {
    "avg_over_time",
    "min_over_time",
    "max_over_time",
    "sum_over_time",
    "count_over_time",
    "stddev_over_time",
    "stdvar_over_time",
    "quantile_over_time",
    "last_over_time",
    "first_over_time",
    "absent_over_time",
    # experimental ts_of_* family (functions.go): timestamp of the
    # max/min/last sample per window, float seconds
    "ts_of_last_over_time",
    "ts_of_max_over_time",
    "ts_of_min_over_time",
}
RATE_FUNCS = {"rate", "increase", "delta", "irate", "idelta"}

_INF = float("inf")
_NAN = float("nan")


def _go_log(logfn):
    """Go math.Log semantics: log(0) = -Inf, log(<0) = NaN, log(NaN)
    = NaN — Spark's log family returns NULL outside (0, ∞)."""

    def fn(c):
        return (
            F.when(F.isnan(c), F.lit(_NAN))
            .when(c == 0, F.lit(-_INF))
            .when(c < 0, F.lit(_NAN))
            .otherwise(logfn(c))
        )

    return fn


def _go_sqrt(c):
    """Go math.Sqrt(<0) = NaN (Spark: NULL)."""
    return F.when(c < 0, F.lit(_NAN)).otherwise(F.sqrt(c))


def _go_round(fn):
    """Go math.Ceil/Floor stay float64; Spark's ceil/floor return
    LONG, silently clamping |v| > 2^63 to Long.MAX and nulling NaN.
    Any double with |v| ≥ 2^52 is already integral — pass it (and
    NaN/±Inf) through untouched."""

    def wrapped(c):
        return F.when(
            F.isnan(c) | (F.abs(c) >= F.lit(2.0**52)), c
        ).otherwise(fn(c).cast("double"))

    return wrapped


MATH_FUNCS = {
    "abs": F.abs,
    "ceil": _go_round(F.ceil),
    "floor": _go_round(F.floor),
    "exp": F.exp,
    "ln": _go_log(F.log),
    "log2": _go_log(F.log2),
    "log10": _go_log(F.log10),
    "sqrt": _go_sqrt,
    "sgn": F.signum,
    # trigonometric family (Prometheus functions.go; plain libm on
    # both engines)
    "sin": F.sin,
    "cos": F.cos,
    "tan": F.tan,
    "asin": F.asin,
    "acos": F.acos,
    "atan": F.atan,
    "sinh": F.sinh,
    "cosh": F.cosh,
    "tanh": F.tanh,
    "asinh": F.asinh,
    "acosh": F.acosh,
    "atanh": F.atanh,
    "deg": F.degrees,
    "rad": F.radians,
}

DATE_FUNCS = {
    "time",
    "hour",
    "minute",
    "day_of_week",
    "day_of_month",
    "day_of_year",
    "month",
    "year",
    "days_in_month",
}


def _sanitized_label_cols(source: MetricSource) -> list:
    """Storage label columns exposed under Prometheus-safe names.

    The Prometheus data model forbids dots in label names, so a dotted
    OTel attr column surfaces under its sanitized spelling — the same
    translation the reference applies (``otelstorage/attrs.go:11-41``);
    querying the original key uses the ``U__`` hex escape
    (``chstorage/querier_metrics.go:145-163``)."""
    from ..functions.otel_labels import key_to_label

    return [
        F.col(f"`{l}`").alias(key_to_label(l)) for l in source.label_cols
    ]


def _out_label_names(source: MetricSource) -> list[str]:
    from ..functions.otel_labels import key_to_label

    return [key_to_label(l) for l in source.label_cols]


def filter_matchers(df: DataFrame, matchers, label_cols) -> DataFrame:
    """Keep the rows of ``df`` every label matcher accepts.  A matcher
    on a label no series carries compares against the empty string
    (Prometheus: absent label == "").  Resolution is sanitization-aware:
    an underscore or U__-hex spelling finds a dotted OTel attr column
    (otelstorage/attrs.go:11-41, chstorage/querier_metrics.go:145-163)
    — compile-time only, label names are query literals."""
    from ..functions.otel_labels import resolve_label_name

    for m in matchers:
        resolved = resolve_label_name(m.name, label_cols)
        c = F.col(f"`{resolved}`") if resolved is not None else F.lit("")
        df = df.filter(label_match(c, m.op, m.value))
    return df


def _selector_points(sel: ast.VectorSelector, source: MetricSource) -> DataFrame:
    if sel.name is None:
        # name-less selector ({__name__=~"..."} / {label="..."}):
        # union the per-metric frames that satisfy the __name__
        # matchers, tagging each with a __name__ label column so
        # series from different metrics stay distinct downstream
        # (Prometheus selects across ALL metrics here)
        import re as _re

        from dataclasses import replace as _dc_replace

        name_ms = [m for m in sel.matchers if m.name == "__name__"]
        rest = [m for m in sel.matchers if m.name != "__name__"]

        def _name_ok(name: str) -> bool:
            for m in name_ms:
                if m.op == "!=":
                    if name == m.value:
                        return False
                elif m.op in ("=~", "!~"):
                    hit = _re.fullmatch(m.value, name) is not None
                    if hit == (m.op == "!~"):
                        return False
            return True

        frames = [
            _selector_points(
                _dc_replace(sel, name=name, matchers=rest), source
            ).withColumn("__name__", F.lit(name))
            for name in sorted(source.metrics)
            if _name_ok(name)
        ]
        if not frames:
            return source.df.filter(F.lit(False)).select(
                *_sanitized_label_cols(source),
                F.lit("").alias("__name__"),
                F.col(source.ts_col).alias("ts_us"),
                F.lit(0.0).cast("double").alias("sample"),
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out.select(
            *_out_label_names(source), "__name__", "ts_us", "sample"
        )
    if sel.name not in source.metrics:
        # unknown metric → empty instant/range vector, not an error
        # (Prometheus returns no series for a name with no samples)
        return source.df.filter(F.lit(False)).select(
            *_sanitized_label_cols(source),
            F.col(source.ts_col).alias("ts_us"),
            F.lit(0.0).cast("double").alias("sample"),
        )
    # a NULL is "this row carries no point of this metric" in sparse
    # multi-metric frames — not a sample
    vcol = source.metrics[sel.name]
    df = filter_matchers(source.df, sel.matchers, source.label_cols)
    return df.filter(F.col(vcol).isNotNull()).select(
        *_sanitized_label_cols(source),
        F.col(source.ts_col).alias("ts_us"),
        F.col(vcol).alias("sample"),
    )


def _instant_vector(
    sel: ast.VectorSelector, source: MetricSource, params: PromParams, spark
) -> DataFrame:
    """Instant selector: most recent sample within the staleness
    lookback at each step.  With an ``@`` modifier the value is pinned
    to the fixed time and repeated across every output step."""
    arg = _range_arg(sel, "selector", source, params, spark, instant=True)
    out = range_aggregate(
        arg.samples,
        "last_over_time",
        start_us=arg.grid.start_us,
        end_us=arg.grid.end_us,
        step_us=arg.grid.step_us,
        range_us=arg.range_us,
        by=arg.labels,
    )
    return _replicate_steps(out, arg, params)


def compile_promql(
    expr,
    source: MetricSource,
    params: PromParams,
    spark: SparkSession | None = None,
) -> DataFrame:
    if isinstance(expr, str):
        from .parser import parse

        expr = parse(expr)
    return _compile(expr, source, params, spark)


def _labels_of(df: DataFrame) -> list[str]:
    return [c for c in df.columns if c not in ("step_us", "value")]


def _point_labels(pts: DataFrame) -> list[str]:
    """Series labels of a points frame (``_selector_points`` shape)."""
    return [c for c in pts.columns if c not in ("ts_us", "sample")]


@dataclass
class _RangeArg:
    """A function's vector argument, resolved for window evaluation."""

    samples: DataFrame  # (labels…, ts_us, sample), ts shifted by offset_us
    range_us: int
    grid: PromParams  # the query grid, or one step at the @ time
    offset_us: int
    pinned: bool

    @property
    def labels(self) -> list[str]:
        return _point_labels(self.samples)

    def fanned(self) -> DataFrame:
        """The samples, each repeated at every grid step whose window
        ``(t - range, t]`` holds it (adds ``step_us``)."""
        g = self.grid
        return fanout(
            self.samples, g.start_us, g.end_us, g.step_us, self.range_us
        )


def _range_arg(
    arg,
    fname: str,
    source: MetricSource,
    params: PromParams,
    spark,
    *,
    instant: bool = False,
    points=None,
) -> _RangeArg:
    """Resolve ``@``, ``offset`` and subqueries once, before any
    function sees its window — as promql/engine.go does for every
    function (evalSubquery).  ``arg`` is a range selector ``x[r]``, a
    selector subquery ``x[r:s]``, a subquery ``(expr)[r:s]`` or, with
    ``instant``, an instant selector whose window is the staleness
    lookback.  ``points(sel, source)`` builds a plain selector's
    unshifted samples (default :func:`_selector_points`).  With ``@``
    the grid is one step at the pinned time; :func:`_replicate_steps`
    repeats the result across the query grid."""
    from dataclasses import replace as _dc_replace

    sub = isinstance(arg, ast.FuncCall) and arg.name == "__subquery__"
    sel = arg if isinstance(arg, ast.VectorSelector) else None
    if not sub and (sel is None or (sel.range_us is None and not instant)):
        raise SyntaxError(f"PromQL: {fname}() needs a range vector")
    at = sel.at_us if sel is not None else None
    if at == "start":  # @ start() / @ end() sentinels
        at = params.start_us
    elif at == "end":
        at = params.end_us
    grid = params
    if at is not None:
        grid = PromParams(int(at), int(at), params.step_us, params.lookback_us)
    if sub:
        rng, offset = arg.range_us, arg.offset_us
        samples = _subquery_samples(
            arg.args[0], rng, arg.step_us, offset, source, grid, spark
        )
    elif sel.subquery_step_us is not None:
        # selector subquery: instant evals on the subquery grid, NOT
        # raw samples
        rng, offset = sel.range_us, sel.offset_us
        inner = _dc_replace(
            sel, range_us=None, subquery_step_us=None, offset_us=0, at_us=None
        )
        samples = _subquery_samples(
            inner, rng, sel.subquery_step_us, offset, source, grid, spark
        )
    else:
        rng, offset = sel.range_us or params.lookback_us, sel.offset_us
        samples = (points or _selector_points)(sel, source)
        if offset:
            samples = samples.withColumn(
                "ts_us", F.col("ts_us") + F.lit(offset)
            )
    return _RangeArg(samples, rng, grid, offset, at is not None)


def _replicate_steps(
    out: DataFrame, arg: _RangeArg, params: PromParams
) -> DataFrame:
    """A result on ``arg``'s grid → on the query grid: a pinned
    single-step result repeats at every query step (engine.go
    evaluates the pinned matrix identically for every step)."""
    if not arg.pinned:
        return out
    from ..operators.stepfanout import step_spine

    spine = step_spine(
        out.sparkSession, params.start_us, params.end_us, params.step_us
    )
    return out.drop("step_us").crossJoin(spine)


def _grouping_keys(grouping, labels: list[str]) -> list[str]:
    """The ``labels`` an aggregation's ``by``/``without`` clause keeps
    (none without a clause).  Sanitization-aware: by (http_method)
    groups on a stored http.method column (dedup preserves
    first-spelling order)."""
    from ..functions.otel_labels import resolve_label_name

    if grouping is None:
        return []
    if grouping.without:
        dropped = {resolve_label_name(l, labels) or l for l in grouping.labels}
        return [l for l in labels if l not in dropped]
    return list(
        dict.fromkeys(
            r
            for l in grouping.labels
            for r in [resolve_label_name(l, labels)]
            if r is not None
        )
    )


def _is_scalar_expr(e) -> bool:
    """Static type of the expression: True when it evaluates to a
    scalar (Prometheus type checking) — a 0-label VECTOR (e.g.
    ``sum(x)``) is NOT a scalar, so this walks the AST rather than
    sniffing columns."""
    if isinstance(e, ast.Literal):
        return True
    if isinstance(e, ast.FuncCall):
        if e.name in ("time", "scalar", "pi"):
            return True
        return False
    if isinstance(e, ast.BinOp):
        return _is_scalar_expr(e.lhs) and _is_scalar_expr(e.rhs)
    return False


def _compile(expr, source: MetricSource, params: PromParams, spark) -> DataFrame:
    if isinstance(expr, ast.Literal):
        from ..operators.stepfanout import step_spine

        assert spark is not None
        spine = step_spine(spark, params.start_us, params.end_us, params.step_us)
        return spine.withColumn("value", F.lit(expr.value))

    if isinstance(expr, ast.VectorSelector):
        if expr.range_us is not None:
            raise SyntaxError(
                "PromQL: range vector must be consumed by a range function"
            )
        return _instant_vector(expr, source, params, spark)

    if isinstance(expr, ast.FuncCall):
        return _compile_func(expr, source, params, spark)

    if isinstance(expr, ast.VectorAgg):
        inner = _compile(expr.expr, source, params, spark)
        labels = _labels_of(inner)
        by = _grouping_keys(expr.grouping, labels)
        if expr.op == "count_values":
            import re as _re

            dst = expr.q  # the label name argument
            if not _re.fullmatch(r"[a-zA-Z_][a-zA-Z0-9_]*", dst or ""):
                raise ValueError(
                    f"PromQL: invalid count_values label name {dst!r}"
                )
            # a label literally named "value"/"step_us" would collide
            # with the sample columns; store it prefixed — the wire
            # serializers strip the prefix for display
            out_dst = dst if dst not in ("value", "step_us") else f"__lbl__{dst}"
            v = F.col("value")
            # Go strconv.FormatFloat(v, 'f', -1, 64): integral doubles
            # print without a fraction ("40", not "40.0")
            fmt = (
                F.when(F.isnan(v), F.lit("NaN"))
                .when(v == F.lit(float("inf")), F.lit("+Inf"))
                .when(v == F.lit(float("-inf")), F.lit("-Inf"))
                .when(
                    (v == F.floor(v)) & (F.abs(v) < 1e15),
                    v.cast("long").cast("string"),
                )
                .otherwise(v.cast("string"))
            )
            return (
                inner.withColumn(out_dst, fmt)
                .groupBy(*by, out_dst, "step_us")
                .agg(F.count(F.lit(1)).cast("double").alias("value"))
            )
        return vector_aggregate(
            inner, expr.op, by=by, k=expr.k, q=expr.q, keep_labels=labels
        )

    if isinstance(expr, ast.BinOp):
        lty = isinstance(expr.lhs, ast.Literal)
        rty = isinstance(expr.rhs, ast.Literal)
        if lty and rty:
            from ..logql.compiler import _fold_literal

            return _compile(
                ast.Literal(_fold_literal(expr)), source, params, spark
            )
        if lty or rty:
            vec = _compile(expr.rhs if lty else expr.lhs, source, params, spark)
            return scalar_binop(
                vec, expr.op, (expr.lhs if lty else expr.rhs).value,
                scalar_on_left=lty, bool_mode=expr.bool_mode,
            )
        lscalar = _is_scalar_expr(expr.lhs)
        rscalar = _is_scalar_expr(expr.rhs)
        lhs = _compile(expr.lhs, source, params, spark)
        rhs = _compile(expr.rhs, source, params, spark)
        if lscalar != rscalar and expr.op not in ("and", "or", "unless"):
            # vector ⊗ dynamic scalar (time(), parenthesised literal
            # arithmetic, scalar(...)): vector labels survive
            from ..operators.binop import scalar_frame_binop

            vec, scal = (rhs, lhs) if lscalar else (lhs, rhs)
            return scalar_frame_binop(
                vec, scal, expr.op,
                scalar_on_left=lscalar, bool_mode=expr.bool_mode,
            )
        if lscalar and rscalar and expr.op in (
            "==", "!=", ">", "<", ">=", "<="
        ) and not expr.bool_mode:
            raise ValueError(
                "PromQL: comparisons between scalars must use bool"
            )
        llabels, rlabels = _labels_of(lhs), _labels_of(rhs)
        if expr.on is not None:
            # on-labels absent from both sides are "" == "" everywhere
            # (Prometheus: absent label matches absent label); the
            # join pads missing columns with ""
            on = list(dict.fromkeys(expr.on))
        elif expr.ignoring is not None:
            on = [
                l for l in dict.fromkeys(llabels + rlabels)
                if l not in expr.ignoring
            ]
        else:
            # default matching: the FULL label set on both sides (an
            # lhs-only label matches only an absent=="" rhs label)
            on = list(dict.fromkeys(llabels + rlabels))
        carry = None
        include = None
        reverse = False
        if expr.group_left is not None or expr.group_right is not None:
            if expr.group_right is not None:
                # many side is the right: swap frames (value operand
                # order restored inside vector_binop via reverse=True)
                lhs, rhs = rhs, lhs
                llabels, rlabels = rlabels, llabels
                include = expr.group_right
                reverse = True
            else:
                include = expr.group_left
            carry = [l for l in llabels if l not in on]
        return vector_binop(
            lhs, rhs, expr.op, on=on, bool_mode=expr.bool_mode,
            group_left_labels=carry, include_right=include, reverse=reverse,
        )

    if isinstance(expr, ast.LabelReplace):
        import re as _re

        if not _re.fullmatch(r"[a-zA-Z_][a-zA-Z0-9_]*", expr.dst or ""):
            raise ValueError(
                f"PromQL: invalid label_replace destination {expr.dst!r}"
            )
        try:
            _re.compile(expr.regex)
        except _re.error as ex:
            raise ValueError(f"PromQL: invalid label_replace regex: {ex}")
        inner = _compile(expr.expr, source, params, spark)
        src = F.col(expr.src) if expr.src in inner.columns else F.lit("")
        existing = (
            F.col(expr.dst) if expr.dst in inner.columns else F.lit("")
        )
        # replacement applies only on a FULL-regex match
        # (functions.go funcLabelReplace); an empty expansion removes
        # the label (here: "" ≡ absent); a non-match keeps dst as-is
        anchored = f"^(?:{expr.regex})$"
        replaced = F.regexp_replace(src, anchored, expr.replacement)
        return inner.withColumn(
            expr.dst,
            F.when(src.rlike(anchored), replaced).otherwise(existing),
        )

    raise SyntaxError(f"PromQL: cannot compile {expr!r}")


def _subquery_samples(
    inner_expr,
    range_us: int,
    step_us: int | None,
    offset_us: int,
    source: MetricSource,
    params: PromParams,
    spark,
) -> DataFrame:
    """Subquery sample stream: the inner expression evaluated at
    ABSOLUTE multiples of the subquery resolution spanning every outer
    window — promql/engine.go evalSubquery (start aligned UP past the
    left-open window edge).  The inner grid is its OWN evaluation
    (instant semantics with lookback at each inner step), not the
    outer query's step grid and not raw samples.  Sample timestamps
    shift by the subquery offset so outer (t-range, t] windows select
    in shifted coordinates, as everywhere else in this compiler."""
    st = step_us or 60_000_000  # default resolution 1m
    lo = params.start_us - offset_us - range_us
    first = (lo // st) * st
    if first <= lo:
        first += st
    hi = params.end_us - offset_us
    empty = first > hi
    p2 = PromParams(first, max(first, hi), st, params.lookback_us)
    inner = _compile(inner_expr, source, p2, spark)
    if empty:
        inner = inner.filter(F.lit(False))
    ts = F.col("step_us")
    if offset_us:
        ts = ts + F.lit(offset_us)
    return inner.select(
        *_labels_of(inner),
        ts.alias("ts_us"),
        F.col("value").alias("sample"),
    )


def _compile_func(fc: ast.FuncCall, source: MetricSource, params: PromParams, spark):
    name = fc.name

    if name == "__subquery__":
        raise SyntaxError(
            "PromQL: range vector must be consumed by a range function"
        )

    if name == "absent":
        inner = _compile(fc.args[0], source, params, spark)
        from ..operators.stepfanout import step_spine

        assert spark is not None
        spine = step_spine(spark, params.start_us, params.end_us, params.step_us)
        present = inner.select("step_us").distinct()
        out = spine.join(present, "step_us", "left_anti").withColumn(
            "value", F.lit(1.0)
        )
        # Prometheus derives the result labels from the selector's
        # equality matchers (functions.go createLabelsForAbsentFunction)
        if isinstance(fc.args[0], ast.VectorSelector):
            for m in fc.args[0].matchers:
                if m.op == "=":
                    out = out.withColumn(m.name, F.lit(m.value))
        return out

    if name in RATE_FUNCS or name in ("resets", "changes", "deriv", "predict_linear"):
        arg = _range_arg(fc.args[0], name, source, params, spark)
        pts = arg.samples
        kw = dict(
            series=arg.labels,
            value_col="sample",
            start_us=arg.grid.start_us,
            end_us=arg.grid.end_us,
            step_us=arg.grid.step_us,
            range_us=arg.range_us,
        )
        if name in ("resets", "changes"):
            from ..operators.rate import resets_changes

            out = resets_changes(pts, name, **kw)
        elif name == "deriv":
            from ..operators.rate import deriv as deriv_op

            out = deriv_op(pts, **kw)
        elif name == "predict_linear":
            from ..operators.rate import predict_linear as pl_op

            horizon_s = fc.args[1].value
            out = pl_op(
                pts, horizon_s=horizon_s, offset_us=arg.offset_us, **kw
            )
            if arg.pinned:
                # UNLIKE every other range function, predict_linear is
                # NOT constant under @: the regression window is
                # pinned but the prediction target tracks each step's
                # evaluation time (funcPredictLinear extrapolates from
                # enh.Ts).  Extend the pinned regression line:
                # value(t) = value(pin) + slope · (t − pin)
                from ..operators.rate import deriv as deriv_op

                slope = (
                    deriv_op(pts, **kw)
                    .drop("step_us")
                    .withColumnRenamed("value", "__slope")
                )
                out = _replicate_steps(
                    out.join(slope, kw["series"]), arg, params
                ).withColumn(
                    "value",
                    F.col("value")
                    + F.col("__slope")
                    * (F.col("step_us") - F.lit(arg.grid.start_us)) / F.lit(1e6),
                ).drop("__slope")
                return out
        else:
            out = rate_family(pts, name, **kw)
        return _replicate_steps(out, arg, params)

    if name in RANGE_FUNCS or name == "present_over_time":
        sel = fc.args[-1]
        q = fc.args[0] if name == "quantile_over_time" else None
        if isinstance(q, ast.Literal):
            q = q.value
        arg = _range_arg(sel, name, source, params, spark)
        grid = arg.grid
        if name == "present_over_time":
            out = (
                arg.fanned()
                .select(*arg.labels, "step_us")
                .distinct()
                .withColumn("value", F.lit(1.0))
            )
            return _replicate_steps(out, arg, params)
        out = range_aggregate(
            arg.samples,
            name,
            start_us=grid.start_us,
            end_us=grid.end_us,
            step_us=grid.step_us,
            range_us=arg.range_us,
            by=arg.labels,
            q=q,
            spark=spark,
        )
        out = _replicate_steps(out, arg, params)
        if name.startswith("ts_of_") and arg.offset_us:
            # the samples shift ts by the offset for window math; the
            # wire value is the RAW sample timestamp (engine.go keeps
            # original point T and shifts only the window) — undo the
            # shift here, like timestamp()
            out = out.withColumn(
                "value", F.col("value") - F.lit(arg.offset_us / 1e6)
            )
        if name == "absent_over_time" and isinstance(sel, ast.VectorSelector):
            # result labels derive from the equality matchers
            # (functions.go createLabelsForAbsentFunction — same rule
            # the absent() branch applies)
            for m in sel.matchers:
                if m.op == "=":
                    out = out.withColumn(m.name, F.lit(m.value))
        return out

    if name in MATH_FUNCS:
        inner = _compile(fc.args[0], source, params, spark)
        return inner.withColumn("value", MATH_FUNCS[name](F.col("value")).cast("double"))

    if name == "round":
        inner = _compile(fc.args[0], source, params, spark)
        nearest = fc.args[1].value if len(fc.args) > 1 else 1.0
        return inner.withColumn(
            "value", F.round(F.col("value") / F.lit(nearest)) * F.lit(nearest)
        )

    if name in ("clamp", "clamp_min", "clamp_max"):
        inner = _compile(fc.args[0], source, params, spark)
        v = F.col("value")
        if name == "clamp":
            lo, hi = fc.args[1].value, fc.args[2].value
            if lo > hi:
                # functions.go funcClamp: min > max → empty vector
                return inner.filter(F.lit(False))
            v = F.greatest(F.least(v, F.lit(hi)), F.lit(lo))
        elif name == "clamp_min":
            v = F.greatest(v, F.lit(fc.args[1].value))
        else:
            v = F.least(v, F.lit(fc.args[1].value))
        return inner.withColumn("value", v)

    if name == "vector":
        return _compile(fc.args[0], source, params, spark)

    if name == "scalar":
        # single-series vector → scalar per step; zero or multiple
        # series → NaN per Prometheus.  The spine join keeps EMPTY
        # steps NaN instead of dropping them — scalar() always has a
        # value at every step.
        from ..operators.stepfanout import step_spine

        assert spark is not None
        inner = _compile(fc.args[0], source, params, spark)
        per_step = inner.groupBy("step_us").agg(
            F.when(F.count(F.lit(1)) == 1, F.first("value"))
            .otherwise(float("nan"))
            .alias("_sv")
        )
        spine = step_spine(spark, params.start_us, params.end_us, params.step_us)
        return spine.join(per_step, "step_us", "left").select(
            "step_us",
            F.coalesce(F.col("_sv"), F.lit(float("nan"))).alias("value"),
        )

    if name in DATE_FUNCS:
        # evaluation-time functions: without an argument the input is
        # the step time; with one, the SAMPLE VALUES are epoch seconds
        # (Prometheus dateWrapper: time.Unix(int64(v), 0) per sample)
        if fc.args:
            inner = _compile(fc.args[0], source, params, spark)
            secs = F.col("value").cast("long")
        else:
            from ..operators.stepfanout import step_spine

            assert spark is not None
            inner = step_spine(
                spark, params.start_us, params.end_us, params.step_us
            ).withColumn("value", F.lit(0.0))
            secs = (F.col("step_us") / 1_000_000).cast("long")
        if name == "time":
            v = secs.cast("double")
        elif name == "hour":
            v = ((secs / 3600).cast("long") % 24).cast("double")
        elif name == "minute":
            v = ((secs / 60).cast("long") % 60).cast("double")
        elif name == "day_of_week":
            # 1970-01-01 was a Thursday (4)
            v = (((secs / 86400).cast("long") + 4) % 7).cast("double")
        elif name == "day_of_month":
            v = F.dayofmonth(F.timestamp_seconds(secs)).cast("double")
        elif name == "day_of_year":
            v = F.dayofyear(F.timestamp_seconds(secs)).cast("double")
        elif name == "year":
            v = F.year(F.timestamp_seconds(secs)).cast("double")
        elif name == "days_in_month":
            v = F.dayofmonth(F.last_day(F.timestamp_seconds(secs))).cast(
                "double"
            )
        else:  # month
            v = F.month(F.timestamp_seconds(secs)).cast("double")
        return inner.withColumn("value", v)

    if name == "pi":
        import math

        return _compile(ast.Literal(math.pi), source, params, spark)

    if name == "timestamp":
        # timestamp(v): the evaluation timestamp of each sample — for
        # a plain selector, the ts of the sample the staleness
        # lookback chose at each step (seconds, float)
        sel = fc.args[0]
        if isinstance(sel, ast.VectorSelector) and sel.range_us is None:
            arg = _range_arg(sel, name, source, params, spark, instant=True)
            # the wire value is the RAW sample timestamp — undo the
            # offset shift (funcTimestamp reads the unshifted T)
            out = arg.fanned().groupBy(*arg.labels, "step_us").agg(
                ((F.max("ts_us") - F.lit(arg.offset_us)) / F.lit(1e6))
                .alias("value")
            )
            return _replicate_steps(out, arg, params)
        inner = _compile(sel, source, params, spark)
        return inner.withColumn(
            "value", (F.col("step_us") / F.lit(1e6)).cast("double")
        )

    if name == "info":
        # experimental info() (functions.go funcInfo): each sample of
        # the vector argument gains the DATA labels of the latest
        # matching info-metric row (target_info analog) within the
        # staleness lookback, matched on the identifying labels
        # (classically instance+job).  Unmatched samples pass through
        # with the data labels absent.  The optional data-label
        # selector argument is not modeled.
        if source.info_df is None:
            raise SyntaxError("PromQL: info() needs an info-metric frame")
        if len(fc.args) > 1:
            raise SyntaxError(
                "PromQL: info() data-label selector not supported"
            )
        inner = _compile(fc.args[0], source, params, spark)
        labels = _labels_of(inner)
        ident = source.info_identifying
        if not all(l in labels for l in ident):
            raise SyntaxError(
                "PromQL: info() vector lacks the identifying labels"
            )
        data_cols = [
            c
            for c in source.info_df.columns
            if c not in ident and c != source.ts_col
        ]
        add = [c for c in data_cols if c not in labels]
        fanned = fanout(
            source.info_df,
            params.start_us,
            params.end_us,
            params.step_us,
            params.lookback_us,
            source.ts_col,
        )
        latest = (
            fanned.groupBy(*ident, "step_us")
            .agg(
                F.max_by(
                    F.struct(*[F.col(c) for c in data_cols]),
                    F.col(source.ts_col),
                ).alias("__s")
            )
            .select(
                *ident,
                "step_us",
                *[F.col("__s")[c].alias(c) for c in add],
            )
        )
        return inner.join(latest, [*ident, "step_us"], "left")

    if name in ("sort", "sort_desc"):
        # presentation ordering of the final instant vector
        # (Prometheus sorts by value; ties keep label order)
        inner = _compile(fc.args[0], source, params, spark)
        labels = _labels_of(inner)
        v = F.col("value")
        order = v.asc_nulls_last() if name == "sort" else v.desc_nulls_last()
        return inner.orderBy(order, *[F.col(l) for l in labels])

    if name in ("sort_by_label", "sort_by_label_desc"):
        # experimental Prometheus fns: presentation ordering by label
        # values (functions.go funcSortByLabel); remaining labels and
        # value break ties deterministically
        inner = _compile(fc.args[0], source, params, spark)
        keys = [a for a in fc.args[1:] if isinstance(a, str)]
        labels = _labels_of(inner)
        cols = [F.col(k) for k in keys if k in labels]
        cols += [F.col(l) for l in labels if l not in keys]
        if name == "sort_by_label_desc":
            cols = [c.desc_nulls_last() for c in cols]
        return inner.orderBy(*cols, F.col("value"))

    if name == "mad_over_time":
        # median absolute deviation per window (experimental,
        # functions.go funcMadOverTime): median via the same
        # percentile machinery as quantile_over_time, deviations
        # joined back on the (series, step) key — two keyed shuffles,
        # no all-pairs
        arg = _range_arg(fc.args[0], name, source, params, spark)
        fanned = arg.fanned()
        keys = [*arg.labels, "step_us"]
        med = fanned.groupBy(*keys).agg(
            F.percentile("sample", F.lit(0.5)).alias("__med")
        )
        dev = fanned.join(med, keys).withColumn(
            "__dev", F.abs(F.col("sample") - F.col("__med"))
        )
        out = dev.groupBy(*keys).agg(
            F.percentile("__dev", F.lit(0.5)).alias("value")
        )
        return _replicate_steps(out, arg, params)

    if name == "double_exponential_smoothing":
        # Holt-Winters double smoothing over each range window
        # (Prometheus functions.go funcDoubleExponentialSmoothing):
        # s1 := x0; b := x1 - x0; then for each further sample
        # s1' = sf*x + (1-sf)*(s1+b); b' = tf*(s1'-s1) + (1-tf)*b.
        # Expressed as one aggregate() fold over the sorted window —
        # stays JVM-side, no UDF.
        sel, sf_a, tf_a = fc.args
        sf = F.lit(sf_a.value)
        tf = F.lit(tf_a.value)
        arg = _range_arg(sel, name, source, params, spark)
        g = arg.fanned().groupBy(*arg.labels, "step_us").agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("ts_us"), F.col("sample")))
                ),
                lambda e: e["sample"],
            ).alias("__vals")
        )
        vals = F.col("__vals")
        zero = F.struct(
            F.element_at(vals, 1).alias("s1"),
            (F.element_at(vals, 2) - F.element_at(vals, 1)).alias("b"),
        )

        def step(acc, x):
            ns1 = sf * x + (F.lit(1.0) - sf) * (acc["s1"] + acc["b"])
            nb = tf * (ns1 - acc["s1"]) + (F.lit(1.0) - tf) * acc["b"]
            return F.struct(ns1.alias("s1"), nb.alias("b"))

        smoothed = F.aggregate(
            F.slice(vals, F.lit(2), F.greatest(F.size(vals) - 1, F.lit(0))),
            zero,
            step,
            lambda acc: acc["s1"],
        )
        out = (
            g.filter(F.size(vals) >= 2)
            .withColumn("value", smoothed)
            .drop("__vals")
        )
        return _replicate_steps(out, arg, params)

    if name == "label_join":
        import re as _re

        dst, sep, *srcs = fc.args[1:]
        if not _re.fullmatch(r"[a-zA-Z_][a-zA-Z0-9_]*", dst or ""):
            raise ValueError(
                f"PromQL: invalid label_join destination {dst!r}"
            )
        inner = _compile(fc.args[0], source, params, spark)
        cols = [F.col(s) if s in inner.columns else F.lit("") for s in srcs]
        return inner.withColumn(dst, F.concat_ws(sep, *cols))

    if name in HIST_NATIVE_FNS or (
        name == "histogram_quantile"
        and _native_hist_sel(fc.args[-1], source) is not None
    ):
        return _compile_hist_native(fc, source, params, spark)

    if name == "histogram_quantile":
        q = fc.args[0].value
        inner = _compile(fc.args[1], source, params, spark)
        return histogram_quantile(inner, q)

    raise SyntaxError(f"PromQL: unsupported function {name!r}")


HIST_NATIVE_FNS = {
    "histogram_count",
    "histogram_sum",
    "histogram_avg",
    "histogram_stddev",
    "histogram_stdvar",
    "histogram_fraction",
}


def _native_hist_sel(arg, source: MetricSource):
    """The native-histogram selector inside ``arg``: the bare selector,
    ``rate(sel[r])`` around one (a histogram rate — per-window
    histogram scaled by 1/range), or ``sum [by (...)]`` over either
    (bucket-wise histogram merge across series, Prometheus native-
    histogram sum aggregation).  Returns (selector, is_rate, grouping)
    where grouping is None when no aggregation wraps (a bare ``sum``
    groups by no label); None when the shape is not a
    native-histogram expression."""
    if isinstance(arg, ast.VectorAgg) and arg.op == "sum":
        inner = _native_hist_sel(arg.expr, source)
        if inner is None or inner[2] is not None:
            return None
        return inner[0], inner[1], arg.grouping or ast.Grouping([])
    if isinstance(arg, ast.VectorSelector) and (
        arg.name in source.histograms or arg.name in source.exp_states
    ):
        return arg, False, None
    if (
        isinstance(arg, ast.FuncCall)
        and arg.name == "rate"
        and isinstance(arg.args[0], ast.VectorSelector)
        and arg.args[0].name in source.histograms
    ):
        return arg.args[0], True, None
    return None


def _compile_hist_native(
    fc: ast.FuncCall, source: MetricSource, params: PromParams, spark
) -> DataFrame:
    """Native-histogram function family over an exp-histogram-typed
    selector — bare or rate()-wrapped (see operators/histogram.py
    for decode + numeric policy).  Bucket-relative functions
    (quantile/fraction/stddev/stdvar/avg) are invariant under the
    rate's 1/range scaling; count and sum divide by the range in
    seconds (Prometheus histogram-rate semantics).  Any other
    argument shape is a compile error."""
    from ..operators.histogram import (
        bucket_counts,
        hist_count_sum_avg,
        hist_fraction,
        hist_quantile,
        hist_stdvar,
    )

    name = fc.name
    found = _native_hist_sel(fc.args[-1], source)
    if found is None:
        raise SyntaxError(
            f"PromQL: {name}() needs a native-histogram selector"
        )
    sel, is_rate, grouping = found
    state = not is_rate and sel.name in source.exp_states
    if state and grouping is not None:
        raise SyntaxError(
            "PromQL: sum() over exp-histogram STATE selectors is not "
            "supported (merge states at ingest instead)"
        )
    arg = _range_arg(
        sel,
        "rate" if is_rate else name,
        source,
        params,
        spark,
        instant=not is_rate,
        points=_exp_state_points if state else None,
    )
    fanned = arg.fanned()
    # sum-aggregated histograms merge observation streams bucket-wise;
    # grouping by fewer keys IS that merge — no extra pass needed
    label_keys = (
        arg.labels if grouping is None else _grouping_keys(grouping, arg.labels)
    )
    keys = [*label_keys, "step_us"]
    if state:
        return _replicate_steps(
            _compile_hist_exp_state(fc, fanned, keys), arg, params
        )
    if name in ("histogram_count", "histogram_sum", "histogram_avg"):
        col = {
            "histogram_count": "h_count",
            "histogram_sum": "h_sum",
            "histogram_avg": "h_avg",
        }[name]
        value = F.col(col)
        if is_rate and name != "histogram_avg":  # avg is scale-free
            value = value / F.lit(arg.range_us / 1e6)
        out = hist_count_sum_avg(fanned, keys).select(
            *keys, value.alias("value")
        )
    elif name in ("histogram_stddev", "histogram_stdvar"):
        col = "h_stddev" if name == "histogram_stddev" else "h_stdvar"
        out = hist_stdvar(bucket_counts(fanned, keys), keys, fanned).select(
            *keys, F.col(col).alias("value")
        )
    elif name == "histogram_fraction":
        lo, hi = fc.args[0].value, fc.args[1].value
        out = hist_fraction(bucket_counts(fanned, keys), keys, lo, hi).select(
            *keys, F.col("h_fraction").alias("value")
        )
    else:
        out = hist_quantile(bucket_counts(fanned, keys), keys, fc.args[0].value)
    return _replicate_steps(out, arg, params)


_EXP_STATE_FIELDS = (
    "count",
    "sum",
    "scale",
    "zero_count",
    "positive_offset",
    "positive_counts",
)


def _exp_state_points(sel: ast.VectorSelector, source: MetricSource) -> DataFrame:
    """An exp-histogram STATE selector's samples: each stored state as
    one struct ``sample``."""
    df = filter_matchers(
        source.exp_states[sel.name], sel.matchers, source.exp_state_labels
    )
    return df.select(
        *source.exp_state_labels,
        "ts_us",
        F.struct(*_EXP_STATE_FIELDS).alias("sample"),
    )


def _compile_hist_exp_state(
    fc: ast.FuncCall, fanned: DataFrame, keys: list[str]
) -> DataFrame:
    """histogram_* over an exponential-histogram STATE selector: pick
    the latest stored state per (series, step) inside the window
    (instant-selector staleness semantics) and decode the bucket
    arrays at THEIR OWN scale (querier_metrics.go:1365-1470 — real
    SDKs emit scale 3..8).  count/sum/avg read the exact stored
    fields; quantile/fraction decode value-space bounds
    (operators/exp_histogram.py); stddev/stdvar follow upstream
    promql/quantile.go (geometric-midpoint mass around the true
    mean)."""
    from ..operators.exp_histogram import (
        exp_histogram_fraction,
        exp_histogram_quantile,
        explode_exp_buckets,
    )

    name = fc.name
    latest = (
        fanned.groupBy(*keys)
        .agg(F.max_by("sample", "ts_us").alias("s"))
        .select(*keys, "s.*")
    )
    if name in ("histogram_count", "histogram_sum", "histogram_avg"):
        value = {
            "histogram_count": F.col("count").cast("double"),
            "histogram_sum": F.col("sum"),
            "histogram_avg": F.col("sum") / F.col("count"),
        }[name]
        return latest.select(*keys, value.alias("value"))
    if name in ("histogram_stddev", "histogram_stdvar"):
        # upstream loop over buckets: val = sqrt(lower·upper) =
        # 2^((i+1/2)·2^-s), zero bucket at val=0, mean = sum/count
        b = explode_exp_buckets(latest, keys)
        totals = latest.select(
            *keys,
            (F.col("sum") / F.col("count")).alias("__mean"),
            F.col("count").alias("__n"),
            F.col("zero_count").alias("__zc"),
        )
        b = b.join(totals, keys)
        gm = F.pow(
            F.lit(2.0),
            (F.col("idx").cast("double") + F.lit(0.5))
            * F.pow(F.lit(2.0), -F.col("scale").cast("double")),
        )
        dev = gm - F.col("__mean")
        g = b.groupBy(*keys).agg(
            (
                (
                    F.sum(F.col("cnt") * dev * dev)
                    + F.first("__zc") * F.first("__mean") * F.first("__mean")
                )
                / F.first("__n")
            ).alias("h_stdvar")
        )
        col = "h_stdvar" if name == "histogram_stdvar" else None
        if col:
            return g.select(*keys, F.col("h_stdvar").alias("value"))
        return g.select(*keys, F.sqrt("h_stdvar").alias("value"))
    b = explode_exp_buckets(latest, keys)
    if name == "histogram_fraction":
        lo, hi = fc.args[0].value, fc.args[1].value
        return exp_histogram_fraction(b, lo, hi, keys)
    return exp_histogram_quantile(b, fc.args[0].value, keys)


def histogram_quantile(buckets: DataFrame, q: float, le_col: str = "le") -> DataFrame:
    """Prometheus bucketQuantile over an instant vector of
    ``_bucket``-style series carrying an ``le`` label (string; '+Inf'
    allowed).  Linear interpolation within the selected bucket; the
    highest finite bucket bound for the +Inf case.
    """
    labels = [c for c in buckets.columns if c not in ("step_us", "value", le_col)]
    if le_col not in buckets.columns:
        # series without an `le` label are silently dropped
        # (Prometheus quantile.go bucketQuantile input filtering)
        return buckets.select(*labels, "step_us", "value").filter(F.lit(False))
    from pyspark.sql import Window

    le = (
        F.when(F.col(le_col) == "+Inf", F.lit(float("inf")))
        .otherwise(F.col(le_col).cast("double"))
        .alias("__le")
    )
    b = buckets.select(*labels, "step_us", le, F.col("value").alias("__cum"))
    w = Window.partitionBy(*labels, "step_us").orderBy("__le")
    b = b.withColumn("__prev_le", F.lag("__le").over(w)).withColumn(
        "__prev_cum", F.lag("__cum").over(w)
    )
    total = Window.partitionBy(*labels, "step_us")
    b = b.withColumn("__total", F.max("__cum").over(total))
    rank = F.lit(q) * F.col("__total")
    # the selected bucket: first with cum >= rank
    sel = b.filter(
        (F.col("__cum") >= rank)
        & (F.col("__prev_cum").isNull() | (F.col("__prev_cum") < rank))
    )
    lower = F.coalesce(F.col("__prev_le"), F.lit(0.0))
    prev_cum = F.coalesce(F.col("__prev_cum"), F.lit(0.0))
    interp = lower + (F.col("__le") - lower) * (rank - prev_cum) / (
        F.col("__cum") - prev_cum
    )
    # +Inf bucket → highest finite le (second-highest bound)
    value = F.when(F.col("__le") == float("inf"), F.col("__prev_le")).otherwise(
        interp
    )
    return sel.select(*labels, "step_us", value.alias("value"))
