"""Structured Streaming ingest — OTLP JSONL → partitioned log store,
plus the series-registry upsert and the TTL retention job.

The reference ingests via collector pipeline → batched columnar
INSERTs (``inserter_logs.go``); the Spark-native equivalent is a
file/Kafka stream → flatten → append to a date-partitioned columnar
table.  The layout mirrors the MergeTree design (SURVEY §1.2):

  PARTITION BY date  ≈  PARTITION BY toYYYYMMDD(timestamp)
  sortWithinPartitions(severity, service, ts)  ≈  ORDER BY key
  TTL  ≈  retention job dropping aged partitions

The series registry (AggregatingMergeTree in the reference) is one
parquet file: each micro-batch is folded to one row per series in
Spark, merged with that file in Arrow on the driver, and published by
an atomic ``os.replace`` of a hidden temp file.  ``points_sink`` is the
metric stream's ``foreachBatch`` composition of that upsert with the
date-partitioned append of the points."""

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

    The reference's AggregatingMergeTree folds these at insert; here
    the batch is folded to one row per series in Spark (one job, its
    output bounded by the batch's distinct series), merged in Arrow
    with the one registry file ``series.parquet`` and published by
    ``os.replace`` of a hidden temp file that readers skip: a crash at
    any line leaves the old file or the new one, complete.  The fold is
    idempotent, so a replayed micro-batch changes no row.  Single
    writer, as under foreachBatch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    new = batch.groupBy("series_hash").agg(
        F.min("ts_ns").alias("first_seen_ns"),
        F.max("ts_ns").alias("last_seen_ns"),
        F.first("name").alias("name"),
        F.first("labels").alias("labels"),
    ).toArrow()
    path = os.path.join(registry_dir, "series.parquet")
    if os.path.exists(path):
        # registry rows first: a known series keeps its name/labels
        both = pa.concat_tables([pq.read_table(path).cast(new.schema), new])
        g = (
            both.append_column("row", pa.array(range(both.num_rows)))
            .group_by("series_hash", use_threads=False)
            .aggregate([("first_seen_ns", "min"), ("last_seen_ns", "max"),
                        ("row", "min")])
        )
        new = both.take(g["row_min"])
        new = new.set_column(1, new.field(1), g["first_seen_ns_min"])
        new = new.set_column(2, new.field(2), g["last_seen_ns_max"])
    os.makedirs(registry_dir, exist_ok=True)
    tmp = os.path.join(registry_dir, ".series.parquet.tmp")
    with open(tmp, "wb", buffering=0) as fh:
        pq.write_table(new, fh)
        os.fsync(fh.fileno())
    os.replace(tmp, path)


def points_sink(spark: SparkSession, registry_dir: str, table_dir: str):
    """``foreachBatch`` function of a flat metric-point stream (columns
    of ``pb_metrics`` plus ``date``): upsert the series registry, then
    append the points without ``labels`` to the date-partitioned table
    (the reference's metric inserter).  The batch is persisted for the
    two actions, so the executor-side wire decode runs once."""

    def sink(batch: DataFrame, _batch_id: int) -> None:
        batch.persist()
        try:
            upsert_series_registry(
                spark, batch.select("series_hash", "name", "labels", "ts_ns"),
                registry_dir,
            )
            batch.drop("labels").write.mode("append").partitionBy("date").parquet(
                table_dir
            )
        finally:
            batch.unpersist(blocking=False)

    return sink


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
