"""SparkSession factory with the engine's physical tuning defaults.

The reference implementations hand-tune the same knobs Spark exposes as conf
(SURVEY §4): chunk size (`rust_1brc/src/main.rs:21` CHUNK_SIZE=16MiB →
`spark.sql.files.maxPartitionBytes`), thread-per-core parallelism
(`thebracket.rs:11` NUM_CPUS → `local[N]`), streaming/bounded-memory execution
(`python_1brc/main.py:12,23` → pipelined partitions + AQE). We set them once
here so every query, test, and bench run shares one tuned session.

Scale note (100 TB design point): everything here is also correct on a real
cluster — AQE coalesces/splits post-shuffle partitions at runtime, skew-join
handling is on, and shuffle partition count is only a *initial* value that AQE
re-plans. Nothing below assumes local mode except the master default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "onebrc_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Tuning rationale per conf:
      - AQE on + coalesce + skew join: runtime re-plan replaces the reference's
        hand work-stealing scheduler (`main.rs:178-198`).
      - shuffle.partitions = 2*cores locally; AQE coalesces down. On a real
        cluster this would be sized to executors*cores*2-3.
      - maxPartitionBytes 128m: scan-split granularity (ref analogue: 16 MiB
        chunks at `main.rs:21`; larger is better for parquet columnar scans).
      - session timezone UTC: required for DuckDB-oracle timestamp parity
        (DuckDB timestamps are UTC-naive).
      - Arrow on: pandas_udf / applyInPandas paths transfer columnar batches.
      - codegen.cache.maxEntries 4096: the LRU of Janino-compiled
        whole-stage classes must hold the engine's working set, or every
        pass recompiles it and its code starts cold in the JIT again. The
        24-entry bench headline compiles ~450 distinct classes and the
        197-query registry ~2,140; at Spark's default of 100 entries a warm
        headline pass recompiled ~490 of them and a warm registry pass
        ~2,800.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", DEFAULT_CPUS)
    # Optional-dependency setup MUST precede JVM launch: executor Python
    # workers inherit PYTHONPATH from the JVM's process environment, so the
    # vendored-protobuf path (streaming/protobuf_compat.py — the
    # transformWithStateInPandas state-server dependency) only reaches
    # workers if it is in os.environ before getOrCreate().
    from onebrc_spark.streaming.protobuf_compat import (
        ensure_protobuf,
        mark_session_created,
    )

    ensure_protobuf()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(2 * int(cpus)))
        .config(
            "spark.sql.files.maxPartitionBytes",
            # 128m default; the 1e9 text-scan sweep (README) reads ~3% faster
            # at 64m — override per-workload, e.g. SPARK_GRAFT_MAX_PARTITION_
            # BYTES=64m for the fullscale text scans.
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Static conf, ~2x the registry's measured codegen working set.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # Write timestamps as INT64 micros, not Spark's legacy INT96
        # default: the engine could not RE-INGEST its own written event
        # tables — pyarrow sniffs INT96 as timestamp[ns], so the catalog's
        # nanos path requested LongType, and the vectorized reader cannot
        # decode physical INT96 as bigint (KD001). nanosAsLong only covers
        # INT64-nanos; INT96 has no long-decode at all. Micros is also the
        # modern parquet standard and what the DuckDB oracle interops with.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # If events.ts is parquet TIMESTAMP(NANOS) — the unit has changed
        # across testdata regenerations, so sources/catalog.py sniffs the
        # footer per directory — the vectorized reader cannot decode nanos
        # as TimestampType; this flag makes it arrive as long nanos for
        # catalog.normalize_events_ts to convert. Harmless for MICROS files
        # (the flag only affects NANOS-encoded columns).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    builder = builder.master(master or f"local[{cpus}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    mark_session_created()
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compilations so far in this JVM (whole-stage and expression
    classes; a codegen cache hit does not count). Diff it around a run to see
    how many classes that run compiled."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
