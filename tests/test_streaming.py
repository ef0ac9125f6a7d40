"""End-to-end streaming ingest tests: synthetic OTLP JSONL → stream →
partitioned table → query; registry upsert; retention sweep."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from oteldb_spark.sources.otlp import flatten_otlp_logs, series_key, OTLP_LOGS_SCHEMA
from oteldb_spark.streaming.ingest import (
    retention_sweep,
    stream_logs_from_json,
    upsert_series_registry,
)

EPOCH_NS = 1_704_067_200 * 10**9


def _otlp_payload(day: int, n: int) -> dict:
    recs = [
        {
            "timeUnixNano": str(EPOCH_NS + day * 86_400 * 10**9 + i * 10**9),
            "severityText": "INFO" if i % 2 else "ERROR",
            "severityNumber": 9 if i % 2 else 17,
            "traceId": f"{i:032x}",
            "spanId": f"{i:016x}",
            "body": {"stringValue": f'{{"msg": "event {i}"}}'},
            "attributes": [
                {"key": "http.method", "value": {"stringValue": "GET"}},
                {"key": "retries", "value": {"intValue": str(i)}},
            ],
        }
        for i in range(n)
    ]
    return {
        "resourceLogs": [
            {
                "resource": {
                    "attributes": [
                        {"key": "service.name", "value": {"stringValue": "svc-a"}}
                    ]
                },
                "scopeLogs": [
                    {"scope": {"name": "test", "version": "1"}, "logRecords": recs}
                ],
            }
        ]
    }


def test_flatten_otlp_logs(spark, tmp_path):
    path = tmp_path / "in"
    path.mkdir()
    (path / "batch0.jsonl").write_text(json.dumps(_otlp_payload(0, 10)))
    raw = spark.read.schema(OTLP_LOGS_SCHEMA).json(str(path))
    flat = flatten_otlp_logs(raw)
    rows = flat.collect()
    assert len(rows) == 10
    r = {x["timestamp_ns"]: x for x in rows}[EPOCH_NS]
    assert r["service_name"] == "svc-a"
    assert r["severity_text"] == "ERROR"
    assert r["attrs"]["http.method"] == "GET"
    assert r["attrs"]["retries"] == "0"
    assert str(r["date"]) == "2024-01-01"


def test_stream_ingest_and_query(spark, tmp_path):
    indir, table, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "logs"),
        str(tmp_path / "ckpt"),
    )
    os.makedirs(indir)
    for day in range(3):
        with open(f"{indir}/d{day}.jsonl", "w") as f:
            f.write(json.dumps(_otlp_payload(day, 20)))
    stream_logs_from_json(spark, indir, table, ckpt)
    df = spark.read.parquet(table)
    assert df.count() == 60
    # partition pruning by date + label filter → the engine's scan path
    errs = df.filter(
        (F.col("date") == "2024-01-02") & (F.col("severity_text") == "ERROR")
    ).count()
    assert errs == 10
    # incremental: new file, stream again (checkpoint resumes)
    with open(f"{indir}/d9.jsonl", "w") as f:
        f.write(json.dumps(_otlp_payload(9, 5)))
    stream_logs_from_json(spark, indir, table, ckpt)
    assert spark.read.parquet(table).count() == 65


def test_series_registry_upsert(spark, tmp_path, monkeypatch):
    reg = str(tmp_path / "registry")

    def batch(*rows):
        return spark.createDataFrame(
            list(rows), "name string, labels map<string,string>, ts_ns long"
        ).withColumn("series_hash", series_key(F.col("name"), F.col("labels")))

    def registry():
        return sorted(
            (r["name"], r["labels"], r["first_seen_ns"], r["last_seen_ns"])
            for r in spark.read.parquet(reg).collect()
        )

    def data_files():
        return sorted(f for f in os.listdir(reg) if not f.startswith((".", "_")))

    batch1 = batch(("m1", {"i": "a"}, 100), ("m2", {"i": "b"}, 200))
    upsert_series_registry(spark, batch1, reg)
    batch2 = batch(("m1", {"i": "a"}, 50), ("m1", {"i": "a"}, 900))
    upsert_series_registry(spark, batch2, reg)
    want = [("m1", {"i": "a"}, 50, 900), ("m2", {"i": "b"}, 200, 200)]
    assert registry() == want
    # foreachBatch is at-least-once: a replayed batch changes nothing
    upsert_series_registry(spark, batch2, reg)
    assert registry() == want
    assert data_files() == ["series.parquet"]
    assert spark.read.parquet(reg).schema.simpleString() == (
        "struct<series_hash:string,first_seen_ns:bigint,last_seen_ns:bigint,"
        "name:string,labels:map<string,string>>"
    )
    # an upsert that dies before publishing leaves the previous
    # registry readable, with every earlier series
    batch3 = batch(("m3", {"i": "c"}, 300))

    def boom(src, dst):
        raise OSError("crash before the rename")

    with monkeypatch.context() as m:
        m.setattr(os, "replace", boom)
        with pytest.raises(OSError, match="crash before the rename"):
            upsert_series_registry(spark, batch3, reg)
    assert registry() == want
    assert data_files() == ["series.parquet"]
    # a stale hidden temp file (here: a torn write) is skipped by
    # readers, and the next upsert overwrites it and succeeds
    stale = os.path.join(reg, ".series.parquet.tmp")
    with open(stale, "wb") as fh:
        fh.write(b"PAR1 torn")
    assert registry() == want
    upsert_series_registry(spark, batch3, reg)
    assert registry() == sorted(want + [("m3", {"i": "c"}, 300, 300)])
    assert os.listdir(reg) == ["series.parquet"]


def test_series_key_canonical(spark):
    # label order must not matter (sorted map entries)
    df = spark.createDataFrame(
        [("m", {"a": "1", "b": "2"}), ("m", {"b": "2", "a": "1"})],
        "name string, labels map<string,string>",
    ).withColumn("h", series_key(F.col("name"), F.col("labels")))
    hs = [r.h for r in df.collect()]
    assert hs[0] == hs[1]


def test_retention_sweep(spark, tmp_path):
    table = tmp_path / "logs"
    for d in ["2024-01-01", "2024-01-05", "2024-01-09"]:
        (table / f"date={d}").mkdir(parents=True)
        (table / f"date={d}" / "part-0.parquet").write_bytes(b"x")
    dropped = retention_sweep(str(table), keep_days=3, now_date="2024-01-10")
    assert sorted(dropped) == ["date=2024-01-01", "date=2024-01-05"]
    assert (table / "date=2024-01-09").exists()


def test_stream_dedup_exact(spark, tmp_path):
    from oteldb_spark.streaming.ingest import stream_dedup_exact

    src = tmp_path / "dedup_in"
    src.mkdir()
    rows = [
        {"ts": "2024-01-01T00:00:00", "fp": "aaa", "body": "hello world"},
        {"ts": "2024-01-01T00:00:05", "fp": "aaa", "body": "hello world"},
        {"ts": "2024-01-01T00:00:10", "fp": "bbb", "body": "other"},
        {"ts": "2024-01-01T00:00:12", "fp": "aaa", "body": "hello world"},
        {"ts": "2024-01-01T00:00:20", "fp": "ccc", "body": "third"},
    ]
    (src / "batch.jsonl").write_text("\n".join(json.dumps(r) for r in rows))
    stream = (
        spark.readStream.schema("ts timestamp, fp string, body string")
        .json(str(src))
    )
    deduped = stream_dedup_exact(stream, ["fp"], ts_col="ts", watermark="1 minute")
    out = tmp_path / "dedup_out"
    ckpt = tmp_path / "dedup_ckpt"
    q = (
        deduped.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(str(out)).collect()
    # one survivor per fingerprint within the watermark window
    assert sorted(r["fp"] for r in got) == ["aaa", "bbb", "ccc"]


def test_tail_logs_follows_matching_lines(spark, tmp_path):
    import pytest as _pytest

    from oteldb_spark.streaming.tail import tail_logs

    store = tmp_path / "tail_store"
    schema = "ts_us long, body string, service string, level string"
    base = 1_704_067_200_000_000
    rows1 = [
        (base + 1_000_000, "GET /api ok", "web", "info"),
        (base + 2_000_000, "GET /api error", "web", "error"),
        (base + 3_000_000, "worker tick", "worker", "info"),
    ]
    spark.createDataFrame(rows1, schema).write.mode("append").parquet(str(store))

    stream = tail_logs(
        spark,
        str(store),
        '{service="web"} |= "error"',
        {"service": "service", "level": "level"},
        schema,
        start_us=base,
    )
    assert stream.isStreaming
    ckpt = tmp_path / "tail_ckpt"
    sink = tmp_path / "tail_sink"

    def drain():
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r["body"] for r in spark.read.parquet(str(sink)).collect()}

    assert drain() == {"GET /api error"}

    # new files appended to the store arrive on the next trigger
    rows2 = [(base + 9_000_000, "POST /api error again", "web", "warn")]
    spark.createDataFrame(rows2, schema).write.mode("append").parquet(str(store))
    assert drain() == {"GET /api error", "POST /api error again"}

    # metric queries cannot be tailed
    with _pytest.raises(SyntaxError):
        tail_logs(
            spark,
            str(store),
            'count_over_time({service="web"}[5m])',
            {"service": "service"},
            schema,
        )


def test_span_interval_join_is_watermarked_both_sides(spark, tmp_path):
    """The stream-stream interval join must carry an event-time
    watermark on BOTH inputs — that is what bounds join state by the
    60-day window instead of the stream length."""
    import pyspark.sql.functions as F

    roots = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00")], "trace_id long, rts string"
    ).select("trace_id", F.col("rts").cast("timestamp").alias("root_ts"))
    children = spark.createDataFrame(
        [(1, 1, "2024-01-10 00:00:00")],
        "c_trace_id long, line_no long, cts string",
    ).select(
        "c_trace_id", "line_no", F.col("cts").cast("timestamp").alias("child_ts")
    )
    rdir, cdir = str(tmp_path / "r"), str(tmp_path / "c")
    roots.write.parquet(rdir)
    children.write.parquet(cdir)
    rs = (
        spark.readStream.schema(roots.schema)
        .parquet(rdir)
        .withWatermark("root_ts", "30 days")
    )
    cs = (
        spark.readStream.schema(children.schema)
        .parquet(cdir)
        .withWatermark("child_ts", "30 days")
    )
    joined = rs.join(
        cs,
        F.expr(
            "trace_id = c_trace_id AND child_ts >= root_ts"
            " AND child_ts <= root_ts + interval 60 days"
        ),
    )
    assert joined.isStreaming
    plan = joined._jdf.queryExecution().analyzed().toString()
    assert plan.count("EventTimeWatermark") == 2, plan
