"""Structured Streaming ingest — OTLP JSONL → partitioned log store,
plus the series-registry upsert and the TTL retention job.

The reference ingests via collector pipeline → batched columnar
INSERTs (``inserter_logs.go``); the Spark-native equivalent is a
file/Kafka stream → flatten → append to a date-partitioned columnar
table.  The layout mirrors the MergeTree design (SURVEY §1.2):

  PARTITION BY date  ≈  PARTITION BY toYYYYMMDD(timestamp)
  sortWithinPartitions(severity, service, ts)  ≈  ORDER BY key
  TTL  ≈  retention job dropping aged partitions

The series registry (AggregatingMergeTree in the reference) is a
``foreachBatch`` merge into one plain parquet directory: union the
batch with the current registry, fold to one row per series, write the
result beside it and swap the directories by two renames; an upsert
that finds only the ``.old`` side of an interrupted swap restores it
first.  On Delta Lake this becomes a single MERGE INTO; plain parquet
needs the whole-registry rewrite."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.otlp import OTLP_LOGS_SCHEMA, flatten_otlp_logs


def _pb_payloads(spark: SparkSession, input_dir: str) -> DataFrame:
    """``binaryFile`` stream of the ``*.binpb`` request bodies landed
    under ``input_dir``, as one ``payload`` column."""
    return (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long,"
            " content binary"
        )
        .option("pathGlobFilter", "*.binpb")
        .option("maxFilesPerTrigger", 64)
        .load(input_dir)
        .select(F.col("content").alias("payload"))
    )


def _write_by_date(
    flat: DataFrame, table_dir: str, checkpoint_dir: str, available_now: bool
):
    """Append the stream to a date-partitioned parquet table; with
    ``available_now`` drain what is there and return the finished
    query, else return the running one."""
    writer = (
        flat.writeStream.format("parquet")
        .option("path", table_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("date")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def stream_logs_from_json(
    spark: SparkSession,
    input_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """OTLP JSONL files → flattened, date-partitioned log table."""
    raw = (
        spark.readStream.schema(OTLP_LOGS_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .json(input_dir)
    )
    return _write_by_date(
        flatten_otlp_logs(raw), table_dir, checkpoint_dir, available_now
    )


def stream_logs_from_pb(
    spark: SparkSession,
    input_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """OTLP PROTOBUF request files → the same flattened,
    date-partitioned log table (the reference's primary wire format,
    otelreceiver/receiver.go:47-90).  ``binaryFile`` streams each
    request body; the wire decode runs executor-side
    (sources/otlp_pb.py) and feeds the SAME flattener as the JSON
    path — the two encodings converge before the first write."""
    from ..sources.otlp_pb import pb_logs

    flat = pb_logs(_pb_payloads(spark, input_dir))
    return _write_by_date(flat, table_dir, checkpoint_dir, available_now)


def stream_spans_from_pb(
    spark: SparkSession,
    input_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """OTLP protobuf ExportTraceServiceRequest files → flattened,
    date-partitioned span table (the trace half of the reference's
    primary wire path, otelreceiver/receiver.go:60-68; consumer →
    tracestorage rows).  Same executor-side wire decode and flattener
    as the batch path."""
    from ..sources.otlp_pb import pb_spans

    flat = pb_spans(_pb_payloads(spark, input_dir))
    return _write_by_date(flat, table_dir, checkpoint_dir, available_now)


def stream_points_from_pb(
    spark: SparkSession,
    input_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """OTLP protobuf ExportMetricsServiceRequest files → flattened,
    date-partitioned points table (sum/gauge pass-through plus the
    histogram/summary explosion, inserter_metrics.go)."""
    from ..sources.otlp_pb import pb_metrics

    flat = pb_metrics(_pb_payloads(spark, input_dir)).withColumn(
        "date",
        F.to_date(F.timestamp_micros(F.expr("ts_ns div 1000"))),
    )
    return _write_by_date(flat, table_dir, checkpoint_dir, available_now)


def stream_dedup_exact(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: drop records whose key columns repeat
    within the watermark horizon.

    The scale property that matters: ``dropDuplicatesWithinWatermark``
    keeps per-key state only until the event-time watermark passes, so
    state is bounded by (arrival rate × watermark), not by stream
    history — the streaming analog of the batch hash-groupBy dedup
    (queries/pipeline.py).  Keys should be content fingerprints
    (md5 of normalized text), not raw bodies, to keep state rows
    small."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def upsert_series_registry(
    spark: SparkSession, batch: DataFrame, registry_dir: str
) -> None:
    """Merge a batch of (series_hash, name, labels, ts_ns) into the
    registry: min(first_seen), max(last_seen), any(name/labels).

    The reference's AggregatingMergeTree folds these continuously at
    insert; here the batch is unioned with the current registry, folded
    to one row per series, written to ``<registry>.tmp`` and swapped
    in: ``<registry>`` → ``<registry>.old``, ``.tmp`` → ``<registry>``,
    then ``.old`` is removed.  The fold is idempotent, so a replayed
    micro-batch leaves the rows unchanged.  Single writer, as under
    foreachBatch."""
    registry_dir = registry_dir.rstrip("/")
    tmp, old = registry_dir + ".tmp", registry_dir + ".old"
    if os.path.isdir(old):
        if os.path.isdir(registry_dir):
            shutil.rmtree(old)  # the swap finished, its cleanup did not
        else:
            # an earlier upsert died between the two renames below:
            # ``.old`` is the last complete registry
            os.rename(old, registry_dir)
    rows = batch.select(
        "series_hash",
        F.col("ts_ns").alias("first_seen_ns"),
        F.col("ts_ns").alias("last_seen_ns"),
        "name",
        "labels",
    )
    if os.path.isdir(registry_dir):
        rows = rows.unionByName(spark.read.parquet(registry_dir))
    rows.groupBy("series_hash").agg(
        F.min("first_seen_ns").alias("first_seen_ns"),
        F.max("last_seen_ns").alias("last_seen_ns"),
        F.first("name").alias("name"),
        F.first("labels").alias("labels"),
    ).write.mode("overwrite").parquet(tmp)
    if os.path.isdir(registry_dir):
        os.rename(registry_dir, old)
    os.rename(tmp, registry_dir)
    shutil.rmtree(old, ignore_errors=True)


def retention_sweep(table_dir: str, keep_days: int, now_date: str) -> list[str]:
    """Drop date partitions older than ``keep_days`` before
    ``now_date`` (YYYY-MM-DD).  Mirrors the reference's 3-day TTL
    (docs/architecture.md:13)."""
    import datetime as dt

    cutoff = dt.date.fromisoformat(now_date) - dt.timedelta(days=keep_days)
    dropped = []
    if not os.path.isdir(table_dir):
        return dropped
    for entry in os.listdir(table_dir):
        if not entry.startswith("date="):
            continue
        try:
            d = dt.date.fromisoformat(entry.split("=", 1)[1])
        except ValueError:
            continue
        if d < cutoff:
            shutil.rmtree(os.path.join(table_dir, entry))
            dropped.append(entry)
    return dropped
