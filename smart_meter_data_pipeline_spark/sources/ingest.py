"""Ingest path: JSON envelope → validate/quarantine → idempotent append.

Re-expresses the reference's consumer (consumer/meter_consumer.py) on
Spark primitives:

- S4 JSON deserialize + validate (:198-224, REQUIRED_FIELDS :55-58):
  schema-driven ``from_json``/``spark.read.json`` with a corrupt-record
  column instead of per-row try/except; invalid rows are *kept* in a
  quarantine DataFrame with a reject reason (the reference only counts
  them, :282-283 — keeping them is strictly more observable).
- status default 'V' (:58, :125) and ``arrived_at`` stamping (:116).
- S5/T1 idempotent batched sink (:104-114 ``ON CONFLICT DO NOTHING``):
  dedup within the batch on the PK (reading_timestamp, meter_id), then
  anti-join against the keys already stored on the batch's dates. The
  date filter prunes the key SCAN to the batch's ``reading_date``
  partitions, but ``spark.read.parquet(target)`` first lists every date
  partition of the table; and the scan reads every key already on
  those dates, so the k-th micro-batch of a day reads the keys the
  batches before it landed that day. (On a Delta/Iceberg deployment
  this whole function is a single ``MERGE WHEN NOT MATCHED INSERT``;
  plain parquet is used here because the test container has no Delta.)
- When one batch holds two different payloads for one PK, exactly one
  row lands, and which one is unspecified here (``dropDuplicates``
  keeps an arbitrary row); in the reference the first row inserted
  wins. A later redelivery of either payload lands nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# FIXTURES.md §6 wire envelope (producer/meter_simulator.py:244-250).
MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("meter_id", T.IntegerType()),
        T.StructField("reading_timestamp", T.StringType()),
        T.StructField("reading_consumption_milliwatts", T.IntegerType()),
        T.StructField("reading_production_milliwatts", T.IntegerType()),
        T.StructField("status", T.StringType()),
        T.StructField("_corrupt", T.StringType()),
    ]
)

VALID_STATUS = ("V", "E", "R")


def parse_messages(raw: DataFrame) -> DataFrame:
    """Parse a DataFrame with a ``value`` string column (Kafka-shaped)
    into typed columns + ``_corrupt`` for unparseable payloads."""
    parsed = raw.select(
        F.from_json(
            F.col("value"),
            MESSAGE_SCHEMA,
            {"columnNameOfCorruptRecord": "_corrupt", "mode": "PERMISSIVE"},
        ).alias("m")
    ).select("m.*")
    return parsed


def read_json_messages(spark: SparkSession, path: str) -> DataFrame:
    """Read newline-delimited JSON message files (the file-based stand-in
    for the Kafka topic in tests)."""
    return (
        spark.read.schema(MESSAGE_SCHEMA)
        .option("columnNameOfCorruptRecord", "_corrupt")
        .option("mode", "PERMISSIVE")
        .json(path)
    )


def classify(parsed: DataFrame) -> DataFrame:
    """Attach ``reject_reason`` (NULL ⇔ valid) and normalized columns.

    Rules, first violation wins (mirrors consumer:198-224 + the schema
    CHECKs 01_create_schema.sql:84-93):
    malformed JSON → required fields → timestamp parse → status enum →
    non-negative readings → at-least-one-reading.
    """
    # try_to_timestamp, not to_timestamp: Spark 4 runs ANSI mode by
    # default, where to_timestamp('garbage') throws CAST_INVALID_INPUT
    # and kills the whole batch. Validation must be TOTAL — a malformed
    # timestamp is a per-row quarantine (consumer:198-224), never a
    # batch failure.
    ts = F.try_to_timestamp("reading_timestamp")
    # Interop domain guard: a timestamp Spark parses but pandas cannot
    # represent (datetime64[ns] spans 1677-09-21..2262-04-11) would
    # crash every Arrow->pandas hop downstream (applyInPandas*,
    # collect to Python datetime) — the same class of per-row input
    # the reference's catch-all quarantines (consumer:217-224). Bound
    # the VALID domain one day inside the pandas range; outside it is
    # bad_timestamp, not a poison row in the fact table.
    ts_in_domain = ts.between("1677-09-22 00:00:00", "2262-04-10 23:59:59")
    status = F.coalesce(F.col("status"), F.lit("V"))  # consumer:58, :125
    return (
        parsed.withColumn("_ts", ts)
        .withColumn("_status", status)
        .withColumn(
            "reject_reason",
            F.when(F.col("_corrupt").isNotNull(), "malformed_json")
            .when(
                F.col("meter_id").isNull() | F.col("reading_timestamp").isNull(),
                "missing_required",
            )
            .when(F.col("_ts").isNull() | ~ts_in_domain, "bad_timestamp")
            .when(~F.col("_status").isin(*VALID_STATUS), "bad_status")
            .when(
                (F.col("reading_consumption_milliwatts") < 0)
                | (F.col("reading_production_milliwatts") < 0),
                "negative_reading",
            )
            .when(
                F.col("reading_consumption_milliwatts").isNull()
                & F.col("reading_production_milliwatts").isNull(),
                "no_reading",
            ),
        )
    )


def split_valid(classified: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid, quarantine): valid rows in fact-table shape with
    arrived_at stamped; quarantine keeps the raw fields + reason."""
    valid = (
        classified.filter(F.col("reject_reason").isNull())
        .select(
            F.col("_ts").alias("reading_timestamp"),
            "meter_id",
            "reading_consumption_milliwatts",
            "reading_production_milliwatts",
            F.col("_status").alias("status"),
            F.current_timestamp().alias("arrived_at"),
        )
        .withColumn("reading_date", F.to_date("reading_timestamp"))
    )
    quarantine = classified.filter(F.col("reject_reason").isNotNull()).select(
        "reject_reason",
        "meter_id",
        "reading_timestamp",
        "reading_consumption_milliwatts",
        "reading_production_milliwatts",
        "status",
        "_corrupt",
    )
    return valid, quarantine


def idempotent_append(spark: SparkSession, batch: DataFrame, target: str) -> int:
    """Duplicate-safe append: the Spark expression of
    ``INSERT ... ON CONFLICT (reading_timestamp, meter_id) DO NOTHING``.

    1. in-batch dedup on the PK (an arbitrary row of a conflicting
       pair survives),
    2. anti-join against the existing keys of the batch's dates (the
       target is partitioned by ``reading_date``, mirroring the
       reference's 1-day hypertable chunks,
       01_create_schema.sql:98-101): the read lists every date
       partition, then the filter prunes the scan to the batch's
       dates, where it reads every key landed so far,
    3. append, partitioned by date.

    Steps 1-3 run as one write job. Returns the number of rows
    written, observed on that write.

    Concurrency: the existing-keys scan and the append run inside an
    exclusive :func:`~..sources.txn.table_lock`, serializing writers the
    way the reference's PRIMARY KEY serializes conflicting INSERTs — two
    concurrent callers with overlapping batches land exactly one copy
    (the second's anti-join sees the first's committed rows). Production
    note: on Delta/Iceberg this whole function is ``MERGE ... WHEN NOT
    MATCHED THEN INSERT`` with the same partition-pruning predicate, and
    the table format's log replaces the filesystem lock. For object
    stores, where no filesystem mutex exists, use
    :meth:`~..sources.manifest.ManifestTable.idempotent_append` — the same
    guarantee through an optimistic commit log instead of a lock.
    """
    from smart_meter_data_pipeline_spark.sources.txn import table_lock

    pk = ["reading_timestamp", "meter_id"]
    # The batch's dates, collected outside the lock: over a persisted
    # micro-batch this is also the job that fills the cache, so the
    # source is read before the critical section starts.
    dates = [
        r["reading_date"]
        for r in batch.select("reading_date").distinct().collect()
    ]
    if not dates:
        return 0
    with table_lock(target):
        fresh = batch.dropDuplicates(pk)
        if any(name.startswith("reading_date=") for name in os.listdir(target)):
            existing = (
                spark.read.parquet(target)
                .filter(F.col("reading_date").isin(dates))
                .select(*pk)
            )
            fresh = fresh.join(existing, pk, "left_anti")
        # One write job: the existing keys are scanned once, and the
        # row count comes from the written frame itself. Unnamed, so
        # concurrent writers in one session never share a metric name.
        written = Observation()
        (
            fresh.observe(written, F.count(F.lit(1)).alias("n"))
            .write.mode("append")
            .partitionBy("reading_date")
            .parquet(target)
        )
        return written.get["n"]


def ingest_batch(
    spark: SparkSession, messages: DataFrame, target: str
) -> dict[str, int]:
    """Full batch ingest: classify → split → idempotent append.
    Returns counters (mirrors the consumer's consumed/processed/failed
    stats, consumer/meter_consumer.py:324-329)."""
    # Persisted once: the append and the counters below reuse it
    # instead of re-reading the messages.
    classified = classify(messages).persist()
    try:
        valid, _ = split_valid(classified)
        written = idempotent_append(spark, valid, target)
        counts = classified.agg(
            F.count(F.lit(1)).alias("consumed"),
            F.count("reject_reason").alias("quarantined"),
        ).first()
        return {
            "consumed": counts["consumed"],
            "written": written,
            "quarantined": counts["quarantined"],
        }
    finally:
        classified.unpersist()
