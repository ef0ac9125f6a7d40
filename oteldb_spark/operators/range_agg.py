"""LogQL range aggregations (``*_over_time``) as DataFrame plans.

Reference semantics: ``internal/logql/logqlengine/logqlmetric/range_agg.go:39-198``
and ``aggregator.go:16-149``.  Each operator evaluates a trailing
window ``(t - range, t]`` per step and per label group:

  count_over_time   → count(sample)
  rate              → count / range_seconds      (aggregator.go:70-78)
  bytes_over_time   → sum(bytes)
  bytes_rate        → sum(bytes) / range_seconds
  sum/avg/min/max/stdvar/stddev/quantile_over_time → the obvious agg
  first/last_over_time → value at earliest/latest sample
  absent_over_time  → 1 for steps with NO samples (spine anti-join)

Only steps that contain at least one sample produce output (empty
windows emit nothing — matching the reference's step iterator), except
``absent`` which inverts that.

The plan shape is: fanout (narrow generate) → groupBy(step, labels)
(single shuffle, map-side partial aggregation for free).  All
aggregates run JVM-side in whole-stage codegen — no Python in the hot
path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .stepfanout import fanout, step_spine

def range_aggregate(
    samples: DataFrame,
    op: str,
    *,
    start_us: int,
    end_us: int,
    step_us: int,
    range_us: int,
    by: list[str],
    value_col: str = "sample",
    ts_col: str = "ts_us",
    ord_col: str | None = None,
    q: float | None = None,
    spark: SparkSession | None = None,
) -> DataFrame:
    """Evaluate one range aggregation; returns (by..., step_us, value).

    ``ord_col`` is a unique tiebreaker for first/last determinism.
    ``q`` is the quantile for quantile_over_time.
    """
    range_s = range_us / 1_000_000.0
    v = F.col(value_col)

    # range ≫ step with a decomposable aggregate: route through the
    # sliding bucket-merge — the fan-out would replicate every input
    # row ×(range/step) (2880 at a 24h/30s dashboard shape), while the
    # merge is O(series × steps).  rate/bytes_rate are count/sum
    # divided by a constant, so they ride along.
    base = {"rate": "count_over_time", "bytes_rate": "bytes_over_time"}.get(op, op)
    # the fan-out replicates each row min(ratio, n_steps+1) times —
    # route to the merge only when that REAL factor is large (an
    # instant query with a huge range replicates ×1: fan-out is
    # already optimal, and the merge's ratio-sized spine would not be)
    # and the dense spine stays bounded
    _ratio = range_us // step_us
    _n_steps = (end_us - start_us) // step_us
    if (
        by
        and base in DECOMPOSABLE
        and range_us % step_us == 0
        and min(_ratio, _n_steps + 1) >= SLIDING_MIN_RATIO
        and _ratio + _n_steps <= SLIDING_MAX_SPINE
    ):
        out = range_aggregate_sliding(
            samples,
            base,
            start_us=start_us,
            end_us=end_us,
            step_us=step_us,
            range_us=range_us,
            by=by,
            value_col=value_col,
            ts_col=ts_col,
        )
        if op != base:
            out = out.withColumn(
                "value", (F.col("value") / F.lit(range_s)).cast("double")
            )
        return out

    if op == "absent_over_time":
        assert spark is not None, "absent_over_time needs the SparkSession for the spine"
        spine = step_spine(spark, start_us, end_us, step_us)
        present = (
            fanout(samples, start_us, end_us, step_us, range_us, ts_col)
            .select("step_us")
            .distinct()
        )
        return spine.join(present, "step_us", "left_anti").select(
            "step_us", F.lit(1.0).alias("value")
        )

    fanned = fanout(samples, start_us, end_us, step_us, range_us, ts_col)
    grouped = fanned.groupBy(*by, "step_us")

    if op == "quantile_over_time":
        assert q is not None
        if q < 0 or q > 1:
            # Prometheus: out-of-range q → ±Inf per window
            agg = F.max(F.lit(float("-inf") if q < 0 else float("inf")))
        else:
            agg = F.percentile(v, F.lit(q))
    else:
        agg = RANGE_AGGS[op](v, ts_col, ord_col, range_s)
    return grouped.agg(agg.alias("value"))


def _order(ts_col: str, ord_col: str | None):
    """first/last order: the timestamp, then the unique tiebreaker."""
    return F.struct(ts_col, *([ord_col] if ord_col else []))


# op → (sample, ts column, tiebreak column, range seconds) → aggregate;
# a table of builders, so a compile constructs only the one it uses
RANGE_AGGS = {
    "count_over_time": lambda v, ts, o, r: F.count(F.lit(1)).cast("double"),
    "rate": lambda v, ts, o, r: (F.count(F.lit(1)) / F.lit(r)).cast("double"),
    "bytes_over_time": lambda v, ts, o, r: F.sum(v).cast("double"),
    "bytes_rate": lambda v, ts, o, r: (F.sum(v) / F.lit(r)).cast("double"),
    "sum_over_time": lambda v, ts, o, r: F.sum(v).cast("double"),
    "avg_over_time": lambda v, ts, o, r: F.avg(v),
    "min_over_time": lambda v, ts, o, r: F.min(v).cast("double"),
    "max_over_time": lambda v, ts, o, r: F.max(v).cast("double"),
    "stdvar_over_time": lambda v, ts, o, r: F.var_pop(v),
    "stddev_over_time": lambda v, ts, o, r: F.stddev_pop(v),
    "first_over_time": lambda v, ts, o, r: F.min_by(v, _order(ts, o)).cast("double"),
    "last_over_time": lambda v, ts, o, r: F.max_by(v, _order(ts, o)).cast("double"),
    # Prometheus experimental ts_of_* family (functions.go
    # funcTsOfMaxOverTime/funcTsOfMinOverTime/funcTsOfLastOverTime):
    # the timestamp (float seconds) of the max/min/last sample in the
    # window; ties resolve to the LATEST occurrence (upstream iterates
    # with >= / <=, so later samples win).  NaN samples sort
    # differently in Spark (largest) than Go (skipped) — the synthetic
    # frames carry no NaNs.
    "ts_of_last_over_time": lambda v, ts, o, r: (F.max(ts) / F.lit(1e6)).cast("double"),
    "ts_of_max_over_time": lambda v, ts, o, r: (
        F.max_by(ts, F.struct(v, F.col(ts))) / F.lit(1e6)
    ).cast("double"),
    "ts_of_min_over_time": lambda v, ts, o, r: (
        F.max_by(ts, F.struct((v * F.lit(-1.0)).alias("nv"), F.col(ts)))
        / F.lit(1e6)
    ).cast("double"),
}


# fan-out factor above which range_aggregate re-routes decomposable
# ops through the sliding bucket-merge; below it the single-shuffle
# fan-out is cheaper than the merge's extra (tiny) spine shuffles
SLIDING_MIN_RATIO = 32
# per-series dense-spine bound for the merge (ratio + steps buckets);
# past this the spine itself is the problem and fan-out's row-bounded
# replication is the safer plan
SLIDING_MAX_SPINE = 4_000_000

DECOMPOSABLE = {
    "count_over_time": (F.count, F.sum),
    "sum_over_time": (F.sum, F.sum),
    "min_over_time": (F.min, F.min),
    "max_over_time": (F.max, F.max),
    "bytes_over_time": (F.sum, F.sum),
}


def range_aggregate_sliding(
    samples: DataFrame,
    op: str,
    *,
    start_us: int,
    end_us: int,
    step_us: int,
    range_us: int,
    by: list[str],
    value_col: str = "sample",
    ts_col: str = "ts_us",
) -> DataFrame:
    """Range ≫ step evaluation WITHOUT the ×(range/step) fan-out.

    Both the row fan-out and the prebucketed fan-out replicate their
    input by up to ``range/step`` — at a realistic dashboard shape
    (24h range, 30s step: ratio 2880) that turns a 100 TB scan into a
    multi-PB shuffle.  Decomposable aggregates don't need it: the
    trailing window ``(t_k - range, t_k]`` is exactly the union of the
    ``ratio`` step-aligned buckets ``k-ratio+1 .. k``, so

      1. partial-aggregate per (series, bucket) — the only pass over
         raw rows, map-side combined;
      2. left-join the partials onto a dense per-series bucket spine
         (broadcast; ``series × (steps + ratio)`` rows, i.e. output-
         sized, never data-sized);
      3. merge with a ``rangeBetween(-(ratio-1), 0)`` window ordered
         by bucket — one ordered pass per series partition.

    Total fanned volume is O(series × steps) regardless of ratio.
    Same sampled-points offload the reference performs
    (``querier_metrics.go:745-843``), taken to its Spark-native
    conclusion.  Requires ``range_us % step_us == 0`` (callers fall
    back to ``range_aggregate_prebucketed`` otherwise); empty windows
    emit no row, matching the fan-out semantics.
    """
    if range_us % step_us != 0:
        raise ValueError("sliding merge requires range % step == 0")
    from pyspark.sql import Window

    ratio = range_us // step_us
    n_steps = (end_us - start_us) // step_us
    partial_fn, merge_fn = DECOMPOSABLE[op]
    arg = F.lit(1) if op == "count_over_time" else F.col(value_col)

    ts = F.col(ts_col)
    windowed = samples.filter(
        (ts > F.lit(start_us - range_us)) & (ts <= F.lit(end_us))
    )
    from .pin import pin
    from .stepfanout import prebucket

    # the bucket partials feed BOTH the merge join and the distinct-
    # series spine; without pinning, Catalyst re-expands the lineage
    # and the raw data is scanned+shuffled twice.  The partials are
    # output-sized (series × buckets), so the pin is tiny; pin()
    # honors SPARK_GRAFT_PIN so long-lived sessions can opt into
    # checkpoint modes whose storage is reclaimed deterministically.
    buckets = pin(
        prebucket(
            windowed,
            start_us,
            step_us,
            by,
            [partial_fn(arg).alias("__partial")],
            ts_col=ts_col,
        ),
        small=True,
    )
    # dense spine: every bucket a window can draw from (1-ratio .. n)
    # for every observed series — nulls where the bucket is empty so
    # the ordered window sees a complete, gap-free frame
    spine = samples.sparkSession.range(1 - ratio, n_steps + 1).select(
        F.col("id").alias("__bucket")
    )
    dense = buckets.select(*by).distinct().crossJoin(F.broadcast(spine))
    merged = dense.join(buckets, [*by, "__bucket"], "left")
    w = (
        Window.partitionBy(*by)
        .orderBy("__bucket")
        .rangeBetween(-(ratio - 1), 0)
    )
    return (
        merged.withColumn("value", merge_fn("__partial").over(w))
        .withColumn("__nb", F.count("__partial").over(w))
        .filter((F.col("__bucket") >= 0) & (F.col("__nb") > 0))
        .select(
            *by,
            (F.lit(start_us) + F.col("__bucket") * F.lit(step_us))
            .cast("long")
            .alias("step_us"),
            F.col("value").cast("double").alias("value"),
        )
    )


def range_aggregate_prebucketed(
    samples: DataFrame,
    op: str,
    *,
    start_us: int,
    end_us: int,
    step_us: int,
    range_us: int,
    by: list[str],
    value_col: str = "sample",
    ts_col: str = "ts_us",
) -> DataFrame:
    """Two-phase range aggregation for decomposable ops when
    range ≫ step: partial-aggregate per (series, step bucket), then
    fan the BUCKETS out — input to the fan-out shrinks from O(points)
    to O(series × buckets).  Mirrors the reference's sampled-points
    offload (querier_metrics.go:745-843)."""
    from .stepfanout import prebucket

    partial_fn, merge_fn = DECOMPOSABLE[op]
    arg = F.lit(1) if op == "count_over_time" else F.col(value_col)
    buckets = prebucket(
        samples,
        start_us,
        step_us,
        by,
        [partial_fn(arg).alias("__partial")],
        ts_col=ts_col,
    )
    # bucket j's first containing step is j; reuse the row fan-out with
    # the bucket's anchor timestamp
    anchored = buckets.withColumn(
        "ts_us", (F.lit(start_us) + F.col("__bucket") * F.lit(step_us)).cast("long")
    )
    fanned = fanout(anchored, start_us, end_us, step_us, range_us, "ts_us")
    return fanned.groupBy(*by, "step_us").agg(
        merge_fn("__partial").cast("double").alias("value")
    )


# --- DuckDB oracle fragments -------------------------------------------------

ORACLE_AGG_SQL = {
    "count_over_time": "CAST(count(*) AS DOUBLE)",
    "rate": "CAST(count(*) AS DOUBLE) / {range_s}",
    "bytes_over_time": "CAST(sum({v}) AS DOUBLE)",
    "bytes_rate": "CAST(sum({v}) AS DOUBLE) / {range_s}",
    "sum_over_time": "CAST(sum({v}) AS DOUBLE)",
    "avg_over_time": "avg({v})",
    "min_over_time": "CAST(min({v}) AS DOUBLE)",
    "max_over_time": "CAST(max({v}) AS DOUBLE)",
    "stdvar_over_time": "var_pop({v})",
    "stddev_over_time": "stddev_pop({v})",
    "quantile_over_time": "quantile_cont({v}, {q})",
    "first_over_time": "CAST(arg_min({v}, {ord}) AS DOUBLE)",
    "last_over_time": "CAST(arg_max({v}, {ord}) AS DOUBLE)",
    # {ord} must be the µs timestamp column for the ts_of_* family
    "ts_of_last_over_time": "CAST(max({ord}) AS DOUBLE) / 1e6",
    "ts_of_max_over_time": (
        "CAST(max({{'v': {v}, 'ts': {ord}}}).ts AS DOUBLE) / 1e6"
    ),
    "ts_of_min_over_time": (
        "CAST(max({{'v': -({v}), 'ts': {ord}}}).ts AS DOUBLE) / 1e6"
    ),
}
