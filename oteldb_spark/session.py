"""SparkSession factory.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the
same builder settings are what we would ship to a real cluster —
shuffle partitions sized to cores, AQE on (runtime coalesce + skew-join
splitting), Arrow enabled for the few Pandas-UDF operators.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Driver heap when ``SPARK_DRIVER_MEM`` is unset: half the host's
    ``MemTotal``, capped at 48g (48g where /proc/meminfo is absent),
    so the heap alone cannot outgrow a small host's memory."""
    try:
        with open("/proc/meminfo") as f:
            kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "48g"
    return f"{min(kib // 2048, 48 * 1024)}m"


def get_spark(
    app_name: str = "oteldb-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # Size shuffles to the data, not the core count: at the test
        # scale factors the reduce-task scheduling overhead dominates,
        # so default low and let AQE split if partitions grow; cluster
        # deployments override via SPARK_SHUFFLE_PARTITIONS.
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "8"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime partition coalescing + skew-join splitting.  At
        # 100 TB this is what keeps a skewed trace_id / series_hash key
        # from stalling a stage.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # bucketed stores (sources/bucketed.py) hash rows by the
        # coarse key (trace_id / series_hash); joins on finer key sets
        # that include it should reuse that layout instead of
        # reshuffling — the subset co-partition rule makes structural
        # trace joins Exchange-free over the bucketed span table
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # timestamp[ns] parquet columns (which the driver has shipped
        # before) fail schema inference with PARQUET_TYPE_ILLEGAL unless
        # this flag is set BEFORE the first read; with it, ns columns
        # arrive as bigint (exactly our internal ns-long contract) and
        # µs files are unaffected.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        # ns-precision epochs live in LongType columns; TimestampType is
        # µs and only derived for windowing, so no ambiguity policies
        # are needed.
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
