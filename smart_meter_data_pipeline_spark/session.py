"""SparkSession factory with scale-appropriate defaults.

Local test profile runs on ``local[N]``; the same config block is what we
would ship to a 1000-executor cluster, with the local-only knobs
(driver memory) swapped for executor sizing. Every setting is chosen for
the 100 TB design point:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  broadcast demotion/promotion — the mechanism that keeps one static
  ``shuffle.partitions`` choice safe across 0.001×–1000× data sizes.
- UTC session timezone: the reference stores TIMESTAMPTZ and emits UTC
  ISO-8601 (producer/meter_simulator.py:161,246); day/hour bucketing
  must not drift with the host timezone.
- Arrow enabled: every Python-boundary transfer (createDataFrame,
  toPandas, pandas UDFs) is columnar-batched.
- Generated-code cache sized to the pipeline, so each generated class
  is compiled once per JVM: a daily cycle (stream, manifest sink, both
  marts) with its seed landing and output checks touches about 128
  cache entries, and Spark's default cache of 100 would evict and
  recompile most of them every cycle. The cap is 1000, not unbounded:
  ``arrived_at`` is a per-micro-batch literal, so a running stream adds
  one class per micro-batch. A static conf: it holds only if
  ``get_spark`` starts the JVM's first session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "smart_meter_data_pipeline_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    Static confs (the warehouse dir, the codegen cache size) take
    effect only when this call creates the JVM's first session; a call
    that reuses a running session keeps the values it started with."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # The driver's testdata stores events.ts as TIMESTAMP(NANOS),
        # which the vectorized parquet reader rejects; read it as long
        # (nanos since epoch) and convert in sources.readers.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # INT96 timestamps carry no footer stats (kills the manifest's
        # time-range file skipping); write INT64 micros instead.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        # Catalog tables (bucketed layouts) go to a temp warehouse —
        # static conf, so it must be set before the first session.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/smart_meter_warehouse"
            ),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Static conf (see the module docstring). Spark's codegen cache
        # evicts in LRU order; the daily cycle's working set is about 128
        # entries, over the default 100. Bounded, because each
        # micro-batch inlines its own ``arrived_at`` timestamp and so
        # adds one class for as long as the stream runs.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
