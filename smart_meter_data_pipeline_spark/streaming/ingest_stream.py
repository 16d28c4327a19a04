"""Structured Streaming ingest: the reference's Kafka consumer loop
(consumer/meter_consumer.py:226-318) re-expressed as a checkpointed
stream with an idempotent ``foreachBatch`` sink.

Semantics mapping (SURVEY.md §2.7):

- T1 effective exactly-once: the reference orders DB-txn-commit before
  Kafka offset-commit and relies on ``ON CONFLICT DO NOTHING`` replay
  safety. Here the checkpoint records source progress atomically with
  batch completion, and ``idempotent_append`` makes replays no-ops —
  same end state, no manual offset choreography.
- T5 micro-batching: ``trigger(availableNow=True)`` for drain-and-stop
  (tests, backfills) or ``processingTime`` for continuous; the
  size-1000/5s-idle flush heuristics (:40-44) are subsumed by Spark's
  trigger policy.
- T7 lag observability: ``ProgressRecorder`` captures per-batch
  numInputRows / inputRowsPerSecond / durationMs — the monitor's
  watermark−committed lag report (monitor/kafka_monitor.py:117-167)
  becomes ``StreamingQuery.lastProgress``.
- T8 graceful shutdown: ``query.stop()`` + checkpoint replaces the
  SIGTERM flush-then-commit dance (:439-443).

In production the source line becomes
``spark.readStream.format("kafka").option("startingOffsets","earliest")``
(S3); tests use the file source for hermeticity — same downstream graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener

from smart_meter_data_pipeline_spark.sources.ingest import (
    MESSAGE_SCHEMA,
    classify,
    idempotent_append,
    split_valid,
)
from smart_meter_data_pipeline_spark.sources.manifest import ManifestTable


def read_message_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-based message stream (newline-delimited JSON, one file per
    'delivery'); swap for the kafka format in production."""
    return (
        spark.readStream.schema(MESSAGE_SCHEMA)
        .option("columnNameOfCorruptRecord", "_corrupt")
        .option("mode", "PERMISSIVE")
        .option("maxFilesPerTrigger", 4)  # micro-batch pacing (T5/T6)
        .json(source_dir)
    )


SINKS = ("lock", "manifest")


def start_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    target: str,
    checkpoint_dir: str,
    available_now: bool = True,
    quarantine_target: str | None = None,
    sink: str = "lock",
) -> StreamingQuery:
    """readStream → classify → observe → foreachBatch idempotent append.

    Invalid messages are not dropped: with ``quarantine_target`` they
    land in a quarantine table — the streaming twin of the batch
    path's quarantine DataFrame. Each micro-batch overwrites its own
    directory ``query_id=<stream id>/batch_id=<n>``, so a batch
    replayed after a crash rewrites its rows instead of adding them
    again, and streams sharing the target keep apart; reading the
    target as parquet yields ``query_id`` and ``batch_id`` columns.
    Either way, per-batch consumed/rejected counts are attached with
    ``observe("ingest", ...)`` so they surface in every progress event
    (``observedMetrics``; the reference counts failures in its stats
    loop, consumer/meter_consumer.py:282-283).

    ``sink`` picks the protocol the batches commit through:

    - ``"lock"``: flock-serialized anti-join append (POSIX path).
    - ``"manifest"``: put-if-absent commit log (object-store path).

    Any other value raises ``ValueError`` before a query starts."""
    if sink not in SINKS:
        raise ValueError(f"sink must be one of {SINKS}, got {sink!r}")

    classified = classify(read_message_stream(spark, source_dir)).observe(
        "ingest",
        F.count(F.lit(1)).alias("consumed"),
        F.count(F.when(F.col("reject_reason").isNotNull(), 1)).alias("rejected"),
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # The only persist of the micro-batch: the sink's date job
        # fills the cache, and the sink's write and the quarantine
        # write read it. The cache also pins the observe() node to a
        # single execution, so consumed/rejected counts aren't
        # double-counted per pass.
        batch_df.persist()
        try:
            session = batch_df.sparkSession
            valid, quarantine = split_valid(batch_df)
            if sink == "manifest":
                ManifestTable(target).idempotent_append(session, valid)
            else:
                idempotent_append(session, valid, target)
            if quarantine_target is not None:
                # the checkpoint's query id survives restarts, so a
                # replayed batch finds the directory it wrote before
                query_id = session.sparkContext.getLocalProperty(
                    "sql.streaming.queryId"
                )
                quarantine.write.mode("overwrite").parquet(
                    f"{quarantine_target}/query_id={query_id}/batch_id={batch_id}"
                )
        finally:
            batch_df.unpersist()

    writer = (
        classified.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="5 seconds")
    return writer.start()


def _offset_positions(raw: object) -> dict[str, int]:
    """Flatten a source offset JSON into ``{stream-key: position}``.

    Shapes seen in practice: the file source's ``{"logOffset": N}``,
    Kafka's ``{"topic": {"0": off, "1": off}}``, or a bare int.
    """
    import json as _json

    if raw is None:
        return {}
    val = raw
    if isinstance(val, str):
        try:
            val = _json.loads(val)
        except ValueError:
            return {}
    if isinstance(val, int):
        return {"offset": val}
    out: dict[str, int] = {}
    if isinstance(val, dict):
        for key, v in val.items():
            if isinstance(v, dict):  # kafka: topic → partition → offset
                for part, off in v.items():
                    if isinstance(off, int):
                        out[f"{key}-{part}"] = off
            elif isinstance(v, int):
                out[key] = v
    return out


class ProgressRecorder(StreamingQueryListener):
    """T7: per-batch progress metrics (the Spark-native consumer-lag
    monitor). Attach with ``spark.streams.addListener``.

    Beyond raw throughput/durations, each record derives the
    reference monitor's headline metrics (monitor/kafka_monitor.py:
    117-167): per-source **backlog** (latest available offset − batch
    end offset, summed across partitions) and **pct_consumed**
    (100 × end/latest). ``lag_report()`` returns the latest snapshot —
    the ``StreamingQuery.lastProgress`` twin of the reference's
    per-partition lag table. Observed metrics (e.g. the ingest
    consumed/rejected counters) are carried through verbatim.
    """

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        sources = []
        for s in p.sources:
            end = _offset_positions(s.endOffset)
            latest = _offset_positions(s.latestOffset)
            total_end = sum(end.values())
            total_latest = sum(latest.values()) if latest else total_end
            backlog = max(0, total_latest - total_end)
            sources.append(
                {
                    "description": s.description,
                    "numInputRows": s.numInputRows,
                    "endOffset": end,
                    "latestOffset": latest,
                    "backlog": backlog,
                    "pct_consumed": (
                        100.0
                        if total_latest == 0
                        else round(100.0 * total_end / total_latest, 2)
                    ),
                }
            )
        self.progress.append(
            {
                "batchId": p.batchId,
                "numInputRows": p.numInputRows,
                "inputRowsPerSecond": p.inputRowsPerSecond,
                "durationMs": dict(p.durationMs),
                "observedMetrics": {
                    name: row.asDict()
                    for name, row in dict(p.observedMetrics).items()
                },
                "sources": sources,
                "backlog": sum(s["backlog"] for s in sources),
            }
        )

    def lag_report(self) -> dict:
        """Latest consumer-lag snapshot: total backlog, per-source
        detail, and overall pct_consumed — the reference monitor's
        report shape."""
        if not self.progress:
            return {"backlog": None, "pct_consumed": None, "sources": []}
        last = self.progress[-1]
        pcts = [s["pct_consumed"] for s in last["sources"]]
        return {
            "batchId": last["batchId"],
            "backlog": last["backlog"],
            "pct_consumed": min(pcts) if pcts else 100.0,
            "sources": last["sources"],
        }

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass
