"""SparkSession bootstrap.

Maps the reference's ``create_spark_session`` boilerplate
(reference: airflow/dags/spark_jobs/nyc_taxi_to_iceberg.py:16-31 and
spark-defaults.conf:16-18) onto a local-mode builder: AQE + partition
coalescing on, zstd parquet, Kryo. The reference uses Iceberg on MinIO; this
engine uses a plain parquet warehouse (delta-spark is unavailable in this
environment) with an explicit lakehouse table layer in ``tables.py`` that
carries the same semantics (partitioned writes, delete+append refresh,
schema merge).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "nyc_taxi_lakehouse_spark",
    master: str | None = None,
    warehouse_dir: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured like the reference cluster.

    Reference parity (spark-defaults.conf:16-18, comprehensive_analytics_pipeline.py:100-102):
    AQE enabled, partition coalescing, Kryo serializer, zstd parquet.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Arrow for the (rare) pandas-UDF paths — the LLM-pipeline operators.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Compiled whole-stage codegen classes are cached by source text in
        # a Guava cache that evicts per segment: Spark's default of 100
        # entries is 4 LRU segments of 25. The nine serving queries generate
        # 91 distinct classes, a serving pass with its two heavy queries
        # ~180 and a lake day (ingest, CDC MERGE, compaction) over 160, so a
        # round-robin loop at 100 evicts each class before its next use and
        # Janino recompiles it (and the JIT re-warms it) on every request.
        # 4096 holds those working sets many times over: each class is then
        # compiled once per session. Static conf: it must be set here.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    # Pre-start conf that must be in place before the JVM launches
    # (executor sizing/env, scheduler toggles like spark.speculation.*) —
    # runtime spark.conf.set is too late for these.
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_stats(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, milliseconds spent compiling them) by Janino in
    this JVM so far. Diff two readings to attribute compile cost to the
    work between them; a cache too small for the working set shows up as
    compiles on repeated runs of the same query."""
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return compiles.getCount(), nanos / 1e6


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an externally provided session.

    The driver hands our entry points an already-built session; timezone and
    AQE are runtime-settable, so pin the ones correctness depends on (UTC so
    unix_timestamp() agrees with DuckDB's epoch()). Static conf such as the
    codegen cache size set in ``get_spark`` cannot be applied here: such a
    session keeps the builder's value (Spark's default cache is 100).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # The events table is nanosecond-precision parquet, which Spark 4 rejects
    # by default; read as raw long and convert at the source layer.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Microsecond-precision generations of the testdata carry no timezone
    # flag; read them as session-tz TIMESTAMP (UTC) rather than TIMESTAMP_NTZ
    # so epoch extractions (unix_micros/unix_timestamp) resolve and agree
    # with DuckDB's epoch()/epoch_ns() on the same files.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    return spark
