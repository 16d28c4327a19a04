"""smart_meter_data_pipeline_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference pipeline (markus-seethaler/smart_meter_data_pipeline: Kafka →
TimescaleDB → dbt), re-expressed idiomatically on Apache Spark:

- DataFrame / Spark SQL for all query processing (Catalyst optimizes;
  no hand-built executor),
- Structured Streaming for the ingest path (checkpointing + an
  idempotent ``foreachBatch`` append replaces manual offset commit +
  ``ON CONFLICT DO NOTHING``), through one of two sinks: a
  flock-serialized parquet append on POSIX storage, or the manifest
  commit log on object stores,
- Parquet columnar storage partitioned by date (replaces TimescaleDB
  1-day hypertable chunks + columnar compression),
- beyond-reference LLM-data-pipeline operators (dedup, text analysis,
  multimodal columns) designed for 100 TB scale.

See SURVEY.md for the full operator inventory this package covers.
"""

__version__ = "0.1.0"
