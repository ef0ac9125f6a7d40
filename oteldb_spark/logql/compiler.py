"""LogQL → DataFrame compiler.

The reference pipeline (`engine_log_query.go`) builds an iterator tree
per query; here every stage becomes a DataFrame transformation and the
label environment is tracked at compile time:

* selector matchers    → ``filter`` on label columns (pushed to scan)
* line filters         → ``contains``/``rlike`` on the body column
* parser stages        → new columns via ``get_json_object`` /
                         ``str_to_map`` / ``regexp_extract`` / pattern
* label filters        → typed predicates (duration/bytes/ip parsing)
* line_format          → template compiler (functions/templates.py)
* metric layer         → operators/ (step fanout, range & vector aggs,
                         binops, label_replace)

Parse errors in the reference become ``__error__`` labels rather than
dropped rows (``logqlabels/label_set.go:235-247``); here a failed
json/number conversion yields NULL which filters then drop — the
``__error__`` surfacing is available via ``with_error_labels=True``.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import anchored_rlike, label_match
from ..functions.parsers import (
    decolorize,
    ip_in_cidr,
    ip_in_range,
    logfmt_error,
    logfmt_map,
    parse_bytes,
    parse_duration_seconds,
    pattern_to_regex,
)
from ..functions.templates import compile_template
from ..operators.binop import scalar_binop, vector_binop
from ..operators.range_agg import range_aggregate
from ..operators.vector_agg import vector_aggregate
from . import ast


@dataclass
class EvalParams:
    start_us: int
    end_us: int
    step_us: int


@dataclass
class LogSource:
    """Adapter describing a logs table: which columns are labels, which
    is the body/timestamp.  Mirrors the reference's label model where
    well-known resource attrs are materialized columns
    (``logstorage/schema.go:12-22``)."""

    df: DataFrame
    label_cols: dict[str, str]  # label name → column name
    body_col: str = "body"
    ts_col: str = "ts_us"
    ord_col: str | None = None
    # optional map<string,string> column holding the long tail of attrs
    attrs_map_col: str | None = None
    # surface parse failures as __error__/__error_details__ labels
    # instead of silent nulls (logqlabels/label_set.go:235-247)
    error_labels: bool = False
    # hex-id labels (trace_id/span_id): equality is case-insensitive
    # (the reference compares unhex'd binary), regex is CASE-SENSITIVE
    # against the UPPERCASE hex rendering (chstorage
    # querier_logs_query.go:736-752 matchHex — Hex() upper-cases)
    hexid_labels: frozenset = frozenset()
    # severity labels (level): equality folds case (EqualFold against
    # severity names); a regex matches if it matches ANY of the
    # title/lower/upper spellings (querier_logs_query.go:760-784)
    severity_labels: frozenset = frozenset()


@dataclass
class _Env:
    """Compile-time label environment: label name → Column."""

    df: DataFrame
    labels: dict[str, Column]
    body: Column
    source: LogSource
    # dynamic label map from a bare `| json` / `| logfmt` stage
    dyn_map: Column | None = None
    # keys of dyn_map removed by drop / renamed away by label_format
    dyn_excl: set = field(default_factory=set)
    # when a keep stage ran: the only dyn_map keys that survive
    dyn_keep: "set | None" = None


def _extracted_entries(env: _Env, exclude: set[str]) -> Column:
    """Entries of the bare-parser label map, Loki-normalized: keys
    colliding with already-present labels get the ``_extracted``
    suffix (logql/log/parser.go jsonParser), excluded keys (the
    unwrapped label, without()-dropped labels) are removed."""
    known = sorted(set(env.labels) | set(env.source.label_cols))
    attrs_keys = (
        F.map_keys(F.col(env.source.attrs_map_col))
        if env.source.attrs_map_col is not None
        else None
    )
    exclude = set(exclude) | env.dyn_excl
    entries = F.map_entries(env.dyn_map)
    if env.dyn_keep is not None:
        kept = sorted(env.dyn_keep)
        entries = F.filter(entries, lambda e: e["key"].isin(kept))

    def suffix(e):
        k, v = e["key"], e["value"]
        # collisions with static labels AND with stream-attrs-map keys
        # get the _extracted suffix (Loki: the stream label keeps the
        # plain name, the parsed label is renamed)
        clash = k.isin(known) if known else F.lit(False)
        if attrs_keys is not None:
            clash = clash | F.array_contains(attrs_keys, k)
        nk = F.when(clash, F.concat(k, F.lit("_extracted"))).otherwise(k)
        return F.struct(nk.alias("key"), v.alias("value"))

    entries = F.transform(entries, suffix)
    if exclude:
        excl = sorted(exclude)
        entries = F.filter(entries, lambda e: ~e["key"].isin(excl))
    return F.array_sort(entries)


# outer vector op → range ops it distributes over: Σ of per-series
# counts/sums IS the count/sum of the refined grouping (rate = count /
# range distributes the same way); min/max are idempotent-distributive
_DISTRIBUTIVE = {
    "sum": {
        "count_over_time",
        "rate",
        "bytes_over_time",
        "bytes_rate",
        "sum_over_time",
    },
    "min": {"min_over_time"},
    "max": {"max_over_time"},
}


def _push_grouping_down(expr: "ast.VectorAgg"):
    """``sum by (x) (count_over_time(sel[r]))`` ≡ the range agg grouped
    by x directly — one aggregation at the final key instead of a
    full-series-identity aggregation (which materializes the dynamic
    label map per row) re-grouped by a second shuffle.  The same
    rewrite the reference's storage offload performs for the groupings
    it can honor (``goldenbench_logql_test.go:368-371``); at 100 TB
    the avoided per-row label-map serialization is the difference
    between a map-side-combine count and a wide shuffle."""
    if (
        expr.grouping is None
        or expr.grouping.without
        or expr.k is not None
        or not isinstance(expr.expr, ast.RangeAgg)
        or expr.expr.grouping is not None
        or expr.expr.op not in _DISTRIBUTIVE.get(expr.op, ())
    ):
        return None
    # by() over the unwrapped label itself must NOT push down: the
    # unpushed path excludes the unwrap label from series identity
    # (grouping it under ""), while a pushed range-agg grouping would
    # resolve its real value — different groups.
    unwrap = expr.expr.query.unwrap
    if unwrap is not None and unwrap.label in expr.grouping.labels:
        return None
    from dataclasses import replace

    return replace(expr.expr, grouping=expr.grouping)


def _all_label_entries(env: _Env, exclude: set[str]) -> "Column | None":
    """Sorted entries of every dynamic label on the stream: the
    attrs-map long tail (stream labels; plain names win) plus any
    bare-parser map (collisions suffixed ``_extracted``).  ``None``
    when the source has neither."""
    parts = []
    if env.source.attrs_map_col is not None:
        a = F.map_entries(F.col(env.source.attrs_map_col))
        known = sorted(set(env.labels) | set(env.source.label_cols))
        if known:
            a = F.filter(a, lambda e: ~e["key"].isin(known))
        excl = sorted(set(exclude) | env.dyn_excl)
        if excl:
            a = F.filter(a, lambda e: ~e["key"].isin(excl))
        if env.dyn_keep is not None:
            kept = sorted(env.dyn_keep)
            a = F.filter(a, lambda e: e["key"].isin(kept))
        parts.append(a)
    if env.dyn_map is not None:
        parts.append(_extracted_entries(env, exclude))
    if not parts:
        return None
    return F.array_sort(parts[0] if len(parts) == 1 else F.concat(*parts))


def _extracted_json(env: _Env, exclude: set[str]) -> Column:
    """Canonical (sorted-entries) JSON of the dynamic-label map — a
    groupable stand-in for "every label the stream carries", since
    Spark cannot group by a map column.  Serializers merge it back
    into the wire label set."""
    return F.to_json(F.map_from_entries(_all_label_entries(env, exclude)))


def _resolve(env: _Env, name: str) -> Column:
    """Label name → Column, sanitization-aware.

    Mirrors the reference's OTel-key ↔ Prometheus-label translation
    surface: ``http_method`` finds a stored ``http.method`` key
    (``otelstorage/attrs.go:11-41`` KeyToLabel reverse lookup via
    ``chstorage/columns_logs.go:304-371``) and ``U__``-hex spellings
    decode (``chstorage/querier_metrics.go:145-163``).  Known labels
    resolve at compile time; only the attrs-map fallback pays a
    per-row map_keys scan (codegen'd, no shuffle)."""
    from ..functions.otel_labels import map_attr_lookup, resolve_label_name

    if name in env.labels:
        return env.labels[name]
    norm = name.replace(".", "_")
    if norm in env.labels:
        return env.labels[norm]
    resolved = resolve_label_name(name, env.labels.keys())
    if resolved is not None:
        return env.labels[resolved]
    # stream attrs win the plain name over parser-extracted labels
    # (Loki renames the colliding parsed key to <key>_extracted)
    cands = []
    if env.source.attrs_map_col is not None:
        cands.append(map_attr_lookup(F.col(env.source.attrs_map_col), name))
    if (
        env.dyn_map is not None
        and name not in env.dyn_excl
        and (env.dyn_keep is None or name in env.dyn_keep)
    ):
        cands.append(map_attr_lookup(env.dyn_map, name))
    if cands:
        return F.coalesce(*cands)
    raise KeyError(f"LogQL: unknown label {name!r}")


def _resolve_or_empty(env: _Env, name: str) -> Column:
    try:
        return _resolve(env, name)
    except KeyError:
        return F.lit("")


def _matcher_pred(env: _Env, m: ast.LabelMatcher) -> Column:
    try:
        c = _resolve(env, m.name)
    except KeyError:
        # matcher on a label no stream carries compares against the
        # empty string (Loki: absent label == "")
        c = F.lit("")
    value = m.value
    if m.name in env.source.hexid_labels:
        # equality unhex-folds; regex stays case-sensitive against the
        # UPPERCASE hex rendering (matchHex)
        c = F.upper(c)
        if m.op in ("=", "!="):
            value = m.value.upper()
    elif m.name in env.source.severity_labels:
        if m.op in ("=", "!="):
            c = F.upper(c)
            value = m.value.upper()
        else:
            # regex matches ANY of the three severity spellings
            lower = F.lower(c)
            hit = (
                anchored_rlike(F.upper(c), m.value)
                | anchored_rlike(lower, m.value)
                | anchored_rlike(F.initcap(lower), m.value)
            )
            return hit if m.op == "=~" else ~hit
    return label_match(c, m.op, value)


def _line_filter_pred(env: _Env, f: ast.LineFilter) -> Column:
    body = env.body
    if f.ips:
        from ..functions.parsers import ip_line_match

        pred = ip_line_match(body, f.ips)
        return pred if f.op == "|=" else ~pred
    values = [f.value, *f.alts]

    def any_of(mk):
        pred = mk(values[0])
        for v in values[1:]:
            pred = pred | mk(v)
        return pred

    if f.op == "|=":
        return any_of(body.contains)
    if f.op == "!=":
        return ~any_of(body.contains)
    if f.op == "|~":
        return any_of(body.rlike)
    if f.op == "!~":
        return ~any_of(body.rlike)
    # pattern line filters |> !>: translate <_> wildcards to regex
    pat = any_of(lambda v: body.rlike(pattern_to_regex(v)[0]))
    if f.op == "|>":
        return pat
    return ~pat


def _label_pred(env: _Env, p: ast.LabelPredicate) -> Column:
    try:
        c = _resolve(env, p.label)
    except KeyError:
        c = F.lit(None).cast("string")  # unknown label ≡ absent
    if p.vtype == "string":
        # a STRING predicate on an absent label compares against ""
        # (Loki label matchers; numeric/duration/bytes predicates on
        # absent labels stay NULL → row drops, also Loki behavior)
        c = F.coalesce(c, F.lit(""))
        return label_match(c, "=" if p.op == "==" else p.op, p.value)
    if p.vtype == "ip":
        if "/" in p.value:
            pred = ip_in_cidr(c, p.value)
        elif "-" in p.value:
            lo, hi = p.value.split("-")
            pred = ip_in_range(c, lo, hi)
        else:
            pred = c == p.value
        return pred if p.op in ("=", "==") else ~pred
    # numeric-ish: coerce the label (comparator.go semantics)
    if p.vtype == "number":
        val = float(p.value)
        num = c.cast("double")
    elif p.vtype == "duration":
        from .lexer import duration_to_us

        val = duration_to_us(p.value) / 1e6
        num = parse_duration_seconds(c)
    else:  # bytes
        from .lexer import duration_to_us  # noqa: F401

        val = float(parse_bytes_literal(p.value))
        num = parse_bytes(c)
    ops = {
        "=": lambda a: a == val,
        "==": lambda a: a == val,
        "!=": lambda a: a != val,
        ">": lambda a: a > val,
        ">=": lambda a: a >= val,
        "<": lambda a: a < val,
        "<=": lambda a: a <= val,
    }
    return ops[p.op](num)


def parse_bytes_literal(text: str) -> float:
    import re

    m = re.match(r"^([0-9.]+)\s*([A-Za-z]+)$", text)
    if not m:
        return float(text)
    mult = {
        "b": 1,
        "kb": 1e3,
        "mb": 1e6,
        "gb": 1e9,
        "tb": 1e12,
        "kib": 1024,
        "mib": 1024**2,
        "gib": 1024**3,
        "tib": 1024**4,
    }[m.group(2).lower()]
    return float(m.group(1)) * mult


def _filter_tree_pred(env: _Env, node) -> Column:
    if isinstance(node, ast.LabelPredicate):
        return _label_pred(env, node)
    op, lhs, rhs = node
    a, b = _filter_tree_pred(env, lhs), _filter_tree_pred(env, rhs)
    return (a & b) if op == "and" else (a | b)


_PM_SEQ = itertools.count()


def _pred_tree_labels(node, out: set) -> None:
    if isinstance(node, ast.LabelPredicate):
        out.add(node.label)
        return
    _op, lhs, rhs = node
    _pred_tree_labels(lhs, out)
    _pred_tree_labels(rhs, out)


def _labels_live_after(stages) -> "set[str] | None":
    """Conservative static liveness of parsed labels over the REMAINING
    pipeline stages: the set of label names that can still be
    referenced downstream, or ``None`` for "all of them".

    The terminal output carries EVERY label (log listings project the
    full label set; metric series identity is the full label set too),
    so liveness only ever narrows when a ``keep`` stage appears
    downstream — exactly the case where barriering every extraction
    would compute statically-dead parses per row.  Backward pass;
    anything the analysis can't see through returns ``None``."""
    live: "set[str] | None" = None
    for stage in reversed(stages):
        if isinstance(stage, ast.DropKeep):
            if stage.kind == "keep":
                keep = set(stage.labels)
                live = keep if live is None else (live & keep)
            # drop: can't subtract from "all"; keeping the superset is
            # conservative and drop alone never enables pruning
        elif isinstance(stage, ast.LabelFilter):
            if live is not None:
                _pred_tree_labels(stage.node, live)
        elif isinstance(stage, ast.LineFilter):
            pass  # references body only
        elif isinstance(stage, ast.LineFormat):
            if live is not None:
                from ..functions.templates import template_fields

                live |= set(template_fields(stage.template))
        elif isinstance(stage, ast.LabelFormat):
            if live is not None:
                for _dst, src, is_template in stage.actions:
                    if is_template:
                        from ..functions.templates import template_fields

                        live |= set(template_fields(src))
                    else:
                        live.add(src)
        elif isinstance(stage, ast.Distinct):
            if live is not None:
                live |= set(stage.labels)
        elif isinstance(stage, ast.ParserStage):
            pass  # parsers read body, not labels
        else:
            live = None  # unknown stage: assume everything referenced
    return live


def _spread_for_parse(df):
    """Repartition a file-backed, still-narrow frame to cluster width
    (see the call site in :func:`_materialize_parsed`).  No-ops on
    in-memory test frames (no input files), on plans that already
    repartitioned (source built with spread=True), and on scans the
    file layout already splits wider than the cluster."""
    spark = df.sparkSession
    try:
        if not df.inputFiles():
            return df
        if "Repartition" in df._jdf.queryExecution().analyzed().toString():
            return df
        from ..tables import _scan_splits

        par = spark.sparkContext.defaultParallelism
        if _scan_splits(spark, df) < par:
            return df.repartition(par)
    except Exception:
        pass
    return df


def _materialize_parsed(
    env: _Env,
    new_labels: dict[str, Column],
    dyn: "Column | None" = None,
    body: "Column | None" = None,
    live: "set[str] | None" = None,
) -> None:
    """Evaluate a parser stage's extractions ONCE per row.

    Every later mention of a parsed label (label-filter predicates,
    templates, unwrap, the output label set) inlines the full
    extraction tree — for logfmt / bare-json each mention re-parses
    the whole line, so `| logfmt | a > 1 | b = "x"` paid 3-4 parses
    per row.  A one-element explode is Spark's expression barrier: the
    Generate evaluates the struct a single time and downstream
    operators reference its fields as plain attributes (Catalyst
    cannot inline through a Generate).  Predicates on non-parsed
    columns still push through it to the scan, and GenerateExec
    participates in whole-stage codegen.  Measured at sf0.1:
    logql_bytes_filter 3.6 -> ~1 s warm, same rows.

    ``live``: static liveness from :func:`_labels_live_after` —
    labels provably dead downstream (a later ``keep`` excludes them)
    stay OUT of the struct, so the Generate never computes their
    extraction (nested-field pruning through a Generate is not
    guaranteed, so an unreferenced struct field would still be paid
    per row).  Dead labels keep their inline expression in
    ``env.labels``; by construction nothing evaluates them."""
    if not new_labels and dyn is None and body is None:
        return
    if live is not None:
        new_labels = {k: v for k, v in new_labels.items() if k in live}
        if not new_labels and dyn is None and body is None:
            return
    # spread the narrow scan to cluster width BEFORE the parse
    # barrier: a parser stage is per-row-heavy by definition, and at
    # small file layouts the scan is one split — without this the
    # whole extraction runs in a single task (the r10/r11 parallelism
    # audits kept finding compiled parser gates with 400-600ms serial
    # stages).  File-backed sources only, skipped when the plan
    # already carries a repartition; at production layouts the scan is
    # already wide and this is a no-op.
    env.df = _spread_for_parse(env.df)
    name = f"__parsed_{next(_PM_SEQ)}"
    keys = list(new_labels)
    fields = [new_labels[k].alias(f"l{i}") for i, k in enumerate(keys)]
    if dyn is not None:
        fields.append(dyn.alias("dyn"))
    if body is not None:
        fields.append(body.alias("body"))
    env.df = env.df.select(
        "*", F.explode(F.array(F.struct(*fields))).alias(name)
    )
    for i, k in enumerate(keys):
        env.labels[k] = F.col(name)[f"l{i}"]
    if dyn is not None:
        env.dyn_map = F.col(name)["dyn"]
    if body is not None:
        env.body = F.col(name)["body"]


def _apply_stage(env: _Env, stage, rest=()) -> _Env:
    if isinstance(stage, ast.LineFilter):
        env.df = env.df.filter(_line_filter_pred(env, stage))
        return env
    if isinstance(stage, ast.ParserStage):
        _before_labels = dict(env.labels)
        _before_body = env.body
        _before_dyn = env.dyn_map
        if stage.kind == "json":
            exprs = stage.exprs or {}
            if not exprs:
                # bare `| json`: discover labels dynamically — the body
                # parsed as a string map feeds _resolve fallbacks
                from pyspark.sql import types as T

                env.dyn_map = F.from_json(
                    env.body, T.MapType(T.StringType(), T.StringType())
                )
            else:
                for lbl, path in exprs.items():
                    jp = path if path.startswith("$") else f"$.{path}"
                    env.labels[lbl] = F.get_json_object(env.body, jp)
                if env.source.error_labels:
                    bad = F.get_json_object(env.body, "$").isNull()
                    env.labels["__error__"] = F.when(
                        bad, F.lit("JSONParserErr")
                    )
                    env.labels["__error_details__"] = F.when(
                        bad, F.lit("malformed JSON body")
                    )
        elif stage.kind == "logfmt":
            # on decode error go-logfmt discards everything it scanned
            # (ref logqlengine/logfmt.go:51-61), so mask extractions
            bad = logfmt_error(env.body)
            m = F.when(~bad, logfmt_map(env.body))
            names = stage.exprs or {}
            if names:
                for lbl, key in names.items():
                    env.labels[lbl] = m.getItem(key)
            else:
                # bare `| logfmt`: dynamic key=val map fallback
                env.dyn_map = m
            if env.source.error_labels:
                env.labels["__error__"] = F.when(
                    bad, F.lit("logfmt parsing error")
                )
                env.labels["__error_details__"] = F.when(
                    bad, F.lit("logfmt syntax error at pos of unterminated value")
                )
        elif stage.kind == "regexp":
            import re as _re

            rx = stage.param
            names = _re.findall(r"\(\?P<([A-Za-z_][A-Za-z0-9_]*)>", rx)
            # Java regex uses (?<name>...)
            jrx = rx.replace("(?P<", "(?<")
            for i, name in enumerate(names, start=1):
                env.labels[name] = F.regexp_extract(env.body, jrx, i)
        elif stage.kind == "pattern":
            rx, names = pattern_to_regex(stage.param)
            for i, name in enumerate(names, start=1):
                env.labels[name] = F.regexp_extract(env.body, rx, i)
        elif stage.kind == "unpack":
            env.labels["_entry"] = F.get_json_object(env.body, "$._entry")
            env.body = F.coalesce(env.labels["_entry"], env.body)
        elif stage.kind == "decolorize":
            env.body = decolorize(env.body)
        elif stage.kind == "noop":
            pass
        else:
            raise SyntaxError(f"LogQL: unknown parser stage {stage.kind}")
        if stage.kind in ("json", "logfmt", "regexp", "pattern", "unpack"):
            new = {
                k: v
                for k, v in env.labels.items()
                if _before_labels.get(k) is not v
            }
            dyn = env.dyn_map if env.dyn_map is not _before_dyn else None
            live = _labels_live_after(rest)
            if live is not None and stage.kind == "unpack":
                # the unpack body rebind below reads _entry
                live = live | {"_entry"}
            _materialize_parsed(env, new, dyn, live=live)
            if stage.kind == "unpack":
                # body derives from the (now-barriered) _entry label
                env.body = F.coalesce(env.labels["_entry"], _before_body)
        return env
    if isinstance(stage, ast.LabelFilter):
        env.df = env.df.filter(_filter_tree_pred(env, stage.node))
        return env
    if isinstance(stage, ast.LineFormat):
        fields = dict(env.labels)
        if env.dyn_map is not None:
            # bare-parser labels are template-visible too: pull every
            # field the template references out of the dynamic map —
            # ALL dotted identifiers per action ({{ printf "%s-%s"
            # .a .b }} needs both), string-literal-aware action spans
            from ..functions.templates import template_fields

            for name in template_fields(stage.template):
                if name not in fields and not name.startswith("__"):
                    fields[name] = _resolve_or_empty(env, name)
        fields["__line__"] = env.body
        # Go time.Time.String() shape: trimmed fraction + " +0000 UTC"
        # (the session timezone is UTC); Loki renders __timestamp__
        # through exactly that default formatting
        fields["__timestamp__"] = F.concat(
            F.timestamp_micros(F.col(env.source.ts_col)).cast("string"),
            F.lit(" +0000 UTC"),
        )
        env.body = compile_template(stage.template, fields)
        return env
    if isinstance(stage, ast.LabelFormat):
        for dst, src, is_template in stage.actions:
            if is_template:
                env.labels[dst] = compile_template(src, dict(env.labels))
            else:
                # `dst=src` RENAMES: dst takes src's value and src is
                # removed (Loki label_format; template forms keep
                # their inputs) — whether src is a stream label, a
                # parsed label, or a bare-parser map key
                env.labels[dst] = _resolve_or_empty(env, src)
                if src != dst:
                    env.labels.pop(src, None)
                    env.dyn_excl.add(src)
        return env
    if isinstance(stage, ast.DropKeep):
        if stage.kind == "drop":
            for lbl in stage.labels:
                env.labels.pop(lbl, None)
                env.dyn_excl.add(lbl)
        else:
            env.labels = {k: v for k, v in env.labels.items() if k in stage.labels}
            keep = set(stage.labels)
            env.dyn_keep = (
                keep if env.dyn_keep is None else env.dyn_keep & keep
            )
        return env
    if isinstance(stage, ast.Distinct):
        # Loki keeps the FIRST line per distinct value combination —
        # the kept row's timestamp feeds downstream windowing, so an
        # arbitrary-winner dropDuplicates is nondeterministic across
        # partition layouts; rank by (ts, ord) instead.  (Known
        # difference from the streaming engines: ranking runs over the
        # full selected stream, not just the query range — a duplicate
        # whose first occurrence predates the range stays dropped.
        # The stage is deprecated upstream; documented, not chased.)
        from pyspark.sql import Window

        cols = [_resolve(env, l) for l in stage.labels]
        order = [F.col(env.source.ts_col)]
        if env.source.ord_col:
            order.append(F.col(env.source.ord_col))
        keys = [f"__d{i}" for i in range(len(cols))]
        w = Window.partitionBy(*keys).orderBy(*order)
        env.df = (
            env.df.withColumns({k: c for k, c in zip(keys, cols)})
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", *keys)
        )
        return env
    raise SyntaxError(f"LogQL: unsupported stage {stage!r}")


def select_streams(sel: ast.Selector, source: LogSource) -> _Env:
    """The stream selector ``{…}``: the source rows its matchers
    keep, in the label environment later pipeline stages extend.  Log
    queries, metric queries and the series endpoint all select here."""
    env = _Env(
        df=source.df,
        labels={k: F.col(v) for k, v in source.label_cols.items()},
        body=F.col(source.body_col),
        source=source,
    )
    for m in sel.matchers:
        env.df = env.df.filter(_matcher_pred(env, m))
    return env


def _compile_log_query(q: ast.LogQuery, source: LogSource) -> _Env:
    env = select_streams(q.selector, source)
    for i, stage in enumerate(q.stages):
        env = _apply_stage(env, stage, q.stages[i + 1 :])
    return env


def _sample_column(q: ast.LogQuery, env: _Env, op: str) -> Column:
    """Sample extraction (sampler.go:146-190): unwrap → value; bytes
    ops → line length; count ops → 1."""
    if q.unwrap is not None:
        c = _resolve(env, q.unwrap.label)
        if q.unwrap.conv == "bytes":
            return parse_bytes(c)
        if q.unwrap.conv in ("duration", "duration_seconds"):
            return parse_duration_seconds(c)
        return c.cast("double")
    if op in ("bytes_over_time", "bytes_rate"):
        return F.length(env.body).cast("double")
    return F.lit(1.0)


def compile_logql(
    expr,
    source: LogSource,
    params: EvalParams,
    spark: SparkSession | None = None,
):
    """Compile a parsed LogQL expression to a DataFrame.

    Log queries → (ts_us, body, labels...); metric queries →
    (labels..., step_us, value).
    """
    if isinstance(expr, str):
        from .parser import parse

        expr = parse(expr)

    if isinstance(expr, ast.LogQuery):
        env = _compile_log_query(expr, source)
        # Loki log listings: start inclusive, end EXCLUSIVE
        # (loghttp query_range contract)
        env.df = env.df.filter(
            (F.col(source.ts_col) >= params.start_us)
            & (F.col(source.ts_col) < params.end_us)
        )
        cols = [F.col(source.ts_col).alias("ts_us"), env.body.alias("body")] + [
            v.alias(k) for k, v in env.labels.items()
        ]
        entries = _all_label_entries(env, set())
        if entries is not None:
            # bare `| json` / `| logfmt` fields and attrs-map stream
            # labels are all wire labels (serializers merge the map
            # into the label set)
            cols.append(F.map_from_entries(entries).alias("__extracted"))
        return env.df.select(*cols)

    if isinstance(expr, ast.Literal):
        from ..operators.stepfanout import step_spine

        assert spark is not None
        spine = step_spine(spark, params.start_us, params.end_us, params.step_us)
        return spine.withColumn("value", F.lit(expr.value))

    if isinstance(expr, ast.RangeAgg):
        env = _compile_log_query(expr.query, source)
        sample = _sample_column(expr.query, env, expr.op)
        # the unwrapped label becomes the sample, not a series label;
        # reserved result-column names can't be series labels either
        reserved = {"value", "step_us", "ts_us", "body"}
        series_labels = [
            l
            for l in env.labels
            if l not in reserved
            and not (expr.query.unwrap and l == expr.query.unwrap.label)
        ]
        by = expr.grouping.labels if expr.grouping and not expr.grouping.without else []
        if expr.grouping and expr.grouping.without:
            by = [l for l in series_labels if l not in expr.grouping.labels]
        elif not expr.grouping:
            by = series_labels
        ts = F.col(source.ts_col)
        if expr.offset_us:
            ts = ts + F.lit(expr.offset_us)
        extra_cols = {}
        if (
            env.dyn_map is not None
            or env.source.attrs_map_col is not None
        ) and (not expr.grouping or expr.grouping.without):
            # bare-parser extracted labels AND attrs-map stream labels
            # are part of the series identity (Loki: every label
            # shapes the series) unless an explicit by() restricts the
            # grouping; without() drops its labels from the map too
            excl = set(expr.grouping.labels) if expr.grouping else set()
            if expr.query.unwrap:
                excl.add(expr.query.unwrap.label)
            extra_cols["__extracted"] = _extracted_json(env, excl)
            by = [*by, "__extracted"]
        proj = env.df.withColumns(
            {
                # grouping labels no stream carries become "" (Loki
                # groups such series under the empty label value)
                **{l: _resolve_or_empty(env, l) for l in by if l != "__extracted"},
                **extra_cols,
                "__ts": ts,
                "__sample": sample,
            }
        )
        if expr.op not in ("count_over_time", "rate", "absent_over_time"):
            proj = proj.filter(F.col("__sample").isNotNull())
        if expr.op == "rate_counter":
            # rate_counter treats the unwrapped samples as a Prometheus
            # counter: full reset-aware extrapolated rate
            # (logqlmetric/prom_math.go)
            from ..operators.rate import rate_family

            return rate_family(
                proj.select(
                    *by,
                    F.col("__ts").alias("ts_us"),
                    F.col("__sample").alias("sample"),
                ),
                "rate",
                series=by,
                value_col="sample",
                start_us=params.start_us,
                end_us=params.end_us,
                step_us=params.step_us,
                range_us=expr.range_us,
            )
        op = expr.op
        # LogQL rate over an unwrapped sample = sum/range_s
        # (aggregator.go:70-78 second form)
        if op == "rate" and expr.query.unwrap is not None:
            op = "bytes_rate"
        out = range_aggregate(
            proj.select(*by, F.col("__ts").alias("ts_us"), F.col("__sample").alias("sample")),
            op,
            start_us=params.start_us,
            end_us=params.end_us,
            step_us=params.step_us,
            range_us=expr.range_us,
            by=by,
            q=expr.q,
            spark=spark,
        )
        if op == "absent_over_time":
            # result labels come from the selector's equality matchers
            # (Loki mirrors Prometheus createLabelsForAbsentFunction)
            out = out.withColumns(
                {
                    m.name: F.lit(m.value)
                    for m in expr.query.selector.matchers
                    if m.op == "=" and m.value != ""
                }
            )
        return out

    if isinstance(expr, ast.VectorAgg):
        pushed = _push_grouping_down(expr)
        if pushed is not None:
            return compile_logql(pushed, source, params, spark)
        inner = compile_logql(expr.expr, source, params, spark)
        labels = [c for c in inner.columns if c not in ("step_us", "value")]
        if expr.grouping and not expr.grouping.without:
            by = expr.grouping.labels
            missing = [l for l in by if l not in labels]
            if missing:
                # a by-label absent from the materialized columns may
                # still live in the inner __extracted dynamic-label
                # map (bare-parser / attrs-map series identity) —
                # pull it out sanitization-aware; truly absent labels
                # group under "" (Loki semantics)
                if "__extracted" in labels:
                    from ..functions.otel_labels import map_attr_lookup

                    m = F.from_json(
                        F.col("__extracted"), "map<string,string>"
                    )
                    fills = {
                        l: F.coalesce(map_attr_lookup(m, l), F.lit(""))
                        for l in missing
                    }
                else:
                    fills = {l: F.lit("") for l in missing}
                inner = inner.withColumns(fills)
                labels = labels + missing
        elif expr.grouping and expr.grouping.without:
            by = [l for l in labels if l not in expr.grouping.labels]
        else:
            by = []
        if expr.op in ("sort", "sort_desc"):
            # real output ordering per step (logqlmetric/vector_agg.go
            # orders series by value; label order breaks ties)
            v = F.col("value")
            order = v.asc_nulls_last() if expr.op == "sort" else v.desc_nulls_last()
            return inner.orderBy(
                "step_us", order, *[F.col(l) for l in labels]
            )
        return vector_aggregate(
            inner, expr.op, by=by, k=expr.k, q=expr.q, keep_labels=labels
        )

    if isinstance(expr, ast.BinOp):
        lty = isinstance(expr.lhs, ast.Literal)
        rty = isinstance(expr.rhs, ast.Literal)
        if lty and rty:
            v = _fold_literal(expr)
            return compile_logql(ast.Literal(v), source, params, spark)
        if lty or rty:
            vec = compile_logql(expr.rhs if lty else expr.lhs, source, params, spark)
            scalar = (expr.lhs if lty else expr.rhs).value
            return scalar_binop(vec, expr.op, scalar, scalar_on_left=lty, bool_mode=expr.bool_mode)
        lhs = compile_logql(expr.lhs, source, params, spark)
        rhs = compile_logql(expr.rhs, source, params, spark)
        llabels = [c for c in lhs.columns if c not in ("step_us", "value")]
        rlabels = [c for c in rhs.columns if c not in ("step_us", "value")]
        if expr.on is not None:
            # on-labels absent from both sides drop out of the join
            # keys ("" == "" everywhere)
            on = [l for l in expr.on if l in llabels and l in rlabels]
        elif expr.ignoring is not None:
            on = [l for l in llabels if l not in expr.ignoring and l in rlabels]
        else:
            on = [l for l in llabels if l in rlabels]
        carry = [l for l in llabels if l not in on] if expr.group_left is not None or llabels != rlabels else None
        return vector_binop(
            lhs,
            rhs,
            expr.op,
            on=on,
            bool_mode=expr.bool_mode,
            group_left_labels=carry,
        )

    if isinstance(expr, ast.LabelReplace):
        inner = compile_logql(expr.expr, source, params, spark)
        src = F.col(expr.src) if expr.src in inner.columns else F.lit("")
        existing = F.col(expr.dst) if expr.dst in inner.columns else F.lit("")
        # Loki mirrors PromQL label_replace: the replacement applies
        # only on a FULL-regex match (Go regexp uses $1 referencing;
        # Spark too); a non-match keeps dst untouched
        anchored = f"^(?:{expr.regex})$"
        dst = F.when(
            src.rlike(anchored),
            F.regexp_replace(src, anchored, expr.replacement),
        ).otherwise(existing)
        return inner.withColumn(expr.dst, dst)

    raise SyntaxError(f"LogQL: cannot compile {expr!r}")


def _fold_literal(expr: ast.BinOp) -> float:
    a, b = expr.lhs.value, expr.rhs.value
    import math

    cmps = {
        "==": a == b,
        "!=": a != b,
        ">": a > b,
        ">=": a >= b,
        "<": a < b,
        "<=": a <= b,
    }
    if expr.op in cmps:
        # scalar-scalar comparisons require the bool modifier
        # (promql/parser.go check shared by LogQL)
        if not expr.bool_mode:
            raise SyntaxError(
                "comparisons between scalars must use BOOL modifier"
            )
        return 1.0 if cmps[expr.op] else 0.0
    return {
        "+": a + b,
        "-": a - b,
        "*": a * b,
        "/": a / b if b else math.nan,
        "%": math.fmod(a, b) if b else math.nan,
        "^": a**b,
    }[expr.op]
