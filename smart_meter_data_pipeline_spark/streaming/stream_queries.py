"""Registered streaming queries — Structured Streaming runs whose final
answers are oracle-checkable against batch SQL.

Two shapes:

- ``stream_hourly_events``: windowed event-time aggregation (T9
  tumbling windows + T4 watermark) over a parquet file stream,
  drained with ``availableNow`` into a memory sink. Streaming and
  batch share semantics by construction, so the DuckDB oracle is the
  plain batch GROUP BY — the strongest possible check that the
  streaming graph computes the same answer.
- ``stream_ingest_daily``: the FULL ingest path end-to-end — generate
  the deterministic meter readings, serialize to the JSON wire
  envelope (S2), deliver as a file stream WITH a duplicated delivery
  (at-least-once redelivery), run the checkpointed foreachBatch
  idempotent sink (T1), then aggregate the landed fact table. The
  oracle aggregates the same generator directly in DuckDB — so
  duplicate-safety, envelope parsing, and arrival stamping are all in
  the hash.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from smart_meter_data_pipeline_spark.operators.common import dsum
from smart_meter_data_pipeline_spark.operators.meter_pipeline import gen_meter_readings
from smart_meter_data_pipeline_spark.operators.meter_queries import _readings_cte
from smart_meter_data_pipeline_spark.plans.registry import register
from smart_meter_data_pipeline_spark.streaming.ingest_stream import (
    start_ingest_stream,
)

def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File stream over the raw events parquet with ``ts`` normalized to
    ``TimestampType``, robust to physical-encoding drift.

    ``readStream`` requires a user schema, and hard-coding one breaks
    whenever the driver regenerates testdata with a different physical
    type (NANOS→LongType vs plain MICROS→TIMESTAMP_NTZ, both seen).
    So: take the schema Spark itself infers from the footer (one cheap
    batch read), stream with it, then apply the SAME normalization
    ``load_table`` uses — pure projections, legal on streaming frames.
    """
    from smart_meter_data_pipeline_spark.sources.readers import (
        ensure_runtime_confs,
        normalize_timestamps,
    )

    ensure_runtime_confs(spark)
    physical = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    stream = (
        spark.readStream.schema(physical)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_timestamps(stream, ("ts",))


def stream_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows over a file stream, drained
    with availableNow → memory sink; returns the final table."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "total_value"),
        )
        .select(
            F.col("w.start").alias("load_hour"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    sink = f"stream_hourly_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


register(
    "stream_hourly_events",
    """
SELECT date_trunc('hour', ts) AS load_hour, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
)(stream_hourly_events)


def _wire_format(readings: DataFrame) -> DataFrame:
    """S2: serialize readings to the Kafka wire shape — key =
    str(meter_id), value = JSON envelope with ISO-8601 UTC timestamp
    (producer/meter_simulator.py:244-250, :284-285)."""
    return readings.select(
        F.col("meter_id").cast("string").alias("key"),
        F.to_json(
            F.struct(
                "meter_id",
                F.date_format("reading_timestamp", "yyyy-MM-dd'T'HH:mm:ss").alias(
                    "reading_timestamp"
                ),
                "reading_consumption_milliwatts",
                "reading_production_milliwatts",
                "status",
            )
        ).alias("value"),
    )


def stream_ingest_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming ingest with redelivery, aggregated daily.

    generator → wire JSON (2 deliveries of the same data = Kafka
    at-least-once) → file stream → checkpointed foreachBatch
    idempotent append → read fact table → daily rollup. The oracle
    aggregates the generator directly: any duplicate surviving the
    sink, or any row lost by the envelope round-trip, breaks the hash.
    """
    workdir = tempfile.mkdtemp(prefix="smart_meter_stream_")
    src = os.path.join(workdir, "messages")
    target = os.path.join(workdir, "fact")
    ckpt = os.path.join(workdir, "ckpt")
    os.makedirs(src)
    try:
        wire = _wire_format(gen_meter_readings(spark)).select("value")
        # two identical deliveries (redelivery simulation, T1)
        wire.coalesce(4).write.mode("overwrite").text(os.path.join(src, "d1"))
        wire.coalesce(4).write.mode("overwrite").text(os.path.join(src, "d2"))
        q = start_ingest_stream(
            spark,
            os.path.join(src, "*", "*.txt"),
            target,
            ckpt,
            available_now=True,
        )
        q.awaitTermination()
        fact = spark.read.parquet(target)
        return (
            fact.groupBy(F.col("reading_date").alias("billing_date"))
            .agg(
                F.count(F.lit(1)).alias("n_readings"),
                F.countDistinct("meter_id").alias("n_meters"),
                F.sum("reading_consumption_milliwatts")
                .cast("bigint")
                .alias("sum_cumulative_cons_mwh"),
                F.sum("reading_production_milliwatts")
                .cast("bigint")
                .alias("sum_cumulative_prod_mwh"),
            )
            # materialize before the tempdir vanishes
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (30-min gap) via ``F.session_window``
    — the native stateful session operator the batch
    ``events_sessionized`` island-window formulation mirrors. Drained
    with availableNow in complete mode; the oracle recomputes sessions
    in batch SQL with the same merge rule (merge iff gap < 30 min —
    session_window's end bound is exclusive, hence >= starts a new
    session) and end = last event + gap."""
    from smart_meter_data_pipeline_spark.operators.extended import SESSION_GAP_MIN

    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("sw"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "session_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )
    sink = f"stream_sessions_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


def _session_oracle() -> str:
    from smart_meter_data_pipeline_spark.operators.extended import SESSION_GAP_MIN

    gap_s = SESSION_GAP_MIN * 60
    return f"""
WITH flagged AS (
  SELECT *,
         CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) >= {gap_s}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT *,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS session_value
FROM sess GROUP BY user_id, session_seq
"""


register("stream_session_windows", _session_oracle())(stream_session_windows)


def stream_incremental_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stateful cumulative→delta operator, end-to-end and
    hash-checked: generator → two time-ordered deliveries →
    ``applyInPandasWithState`` incremental deltas → daily per-meter
    rollup. The oracle computes the same rollup from the batch LAG
    staging in DuckDB — state handoff across micro-batches is in the
    hash."""
    deltas = _run_stateful_deltas(spark)
    return (
        deltas.groupBy(
            F.to_date("reading_timestamp").alias("billing_date"), "meter_id"
        )
        .agg(
            F.sum("consumption_delta_mwh").alias("cons_mwh"),
            F.sum("production_delta_mwh").alias("prod_mwh"),
            F.count(F.lit(1)).alias("n_readings"),
        )
        .localCheckpoint(eager=True)
    )


def _run_stateful_deltas(spark: SparkSession) -> DataFrame:
    """Generator → two time-ordered file deliveries →
    ``applyInPandasWithState`` incremental deltas, drained availableNow
    into a memory sink. Returns the materialized delta table (the
    memory sink outlives the temp dir cleanup)."""
    from smart_meter_data_pipeline_spark.streaming.stateful import (
        incremental_deltas,
    )

    workdir = tempfile.mkdtemp(prefix="smart_meter_stateful_")
    src = os.path.join(workdir, "chunks")
    os.makedirs(src)
    try:
        readings = gen_meter_readings(spark)
        half = F.hour("reading_timestamp") < 12
        readings.filter(half).coalesce(2).write.parquet(os.path.join(src, "c0"))
        readings.filter(~half).coalesce(2).write.parquet(os.path.join(src, "c1"))
        stream = (
            spark.readStream.schema(readings.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*"))
        )
        sink = f"stateful_{uuid.uuid4().hex[:8]}"
        q = (
            incremental_deltas(stream)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(sink)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _stateful_oracle() -> str:
    from smart_meter_data_pipeline_spark.operators.meter_queries import _stg_cte

    return f"""{_stg_cte()}
SELECT CAST(date_trunc('day', reading_timestamp) AS DATE) AS billing_date,
       meter_id,
       CAST(SUM(consumption_delta_mwh) AS BIGINT) AS cons_mwh,
       CAST(SUM(production_delta_mwh) AS BIGINT) AS prod_mwh,
       COUNT(*) AS n_readings
FROM stg GROUP BY 1, 2"""


register("stream_incremental_deltas", _stateful_oracle())(stream_incremental_deltas)


def stream_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals on the events stream — arbitrary
    stateful processing with one int64 of state per user (see
    :func:`~..streaming.stateful.running_user_totals` for semantics,
    the exactness contract, and the dual applyInPandasWithState /
    transformWithState backends; the default backend runs here, the
    Spark-4 API variant is import-gated on protobuf). Two time-ordered
    file deliveries force the state to hand off across micro-batches;
    the oracle is the batch prefix-sum window, so per-event cumulative
    values — including every cross-batch continuation — land in the
    hash."""
    from smart_meter_data_pipeline_spark.sources.readers import load_table
    from smart_meter_data_pipeline_spark.streaming.stateful import (
        running_user_totals,
    )

    workdir = tempfile.mkdtemp(prefix="smart_meter_tws_")
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts", "value"
        )
        mid = F.lit("2024-01-16 00:00:00").cast("timestamp")
        ev.filter(F.col("ts") < mid).coalesce(1).write.parquet(
            os.path.join(workdir, "chunk_0")
        )
        ev.filter(F.col("ts") >= mid).coalesce(1).write.parquet(
            os.path.join(workdir, "chunk_1")
        )
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(workdir, "*"))
        )
        sink = f"tws_{uuid.uuid4().hex[:8]}"
        q = (
            running_user_totals(stream)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(sink).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "stream_running_totals",
    """
SELECT event_id, user_id,
       CAST(SUM(CAST(value AS DECIMAL(25,6))) OVER (
              PARTITION BY user_id ORDER BY ts, event_id
            ) * 1000000 AS BIGINT) AS running_value_micro
FROM events
""",
)(stream_running_totals)


def stream_sessionized_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via keyed state + EVENT-TIME TIMEOUT
    timers (see :func:`~..streaming.stateful.sessionize_with_timeout`):
    sessions close either when a later same-user event exceeds the gap
    (data path) or when the watermark passes the open session's gap
    horizon and the armed timer fires (timeout path — how the LAST
    session of every user is emitted). Two ts-ordered chunks force
    cross-batch session continuation; two far-future sentinels advance
    the watermark and run the batch that fires the trailing timers
    (the same two-sentinel flush as the windowed/outer-join drains).
    Oracle is the batch gaps-and-islands sessionization, so both close
    paths and every cross-batch merge land in the hash."""
    from smart_meter_data_pipeline_spark.sources.readers import load_table
    from smart_meter_data_pipeline_spark.streaming.stateful import (
        sessionize_with_timeout,
    )

    workdir = tempfile.mkdtemp(prefix="smart_meter_sess_to_")
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts", "value"
        )
        mx = ev.agg(F.max("ts").alias("mx")).first()["mx"]
        mid = F.lit("2024-01-16 00:00:00").cast("timestamp")

        def sentinel(days: int) -> DataFrame:
            return ev.limit(1).select(
                F.col("event_id"),
                F.lit(-1).cast("bigint").alias("user_id"),
                (F.lit(mx) + F.expr(f"INTERVAL {days} DAYS")).alias("ts"),
                F.col("value"),
            )

        ev.filter(F.col("ts") < mid).coalesce(1).write.parquet(
            os.path.join(workdir, "chunk_0")
        )
        ev.filter(F.col("ts") >= mid).coalesce(1).write.parquet(
            os.path.join(workdir, "chunk_1")
        )
        sentinel(3).coalesce(1).write.parquet(os.path.join(workdir, "chunk_2"))
        sentinel(6).coalesce(1).write.parquet(os.path.join(workdir, "chunk_3"))

        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(workdir, "*"))
            .withWatermark("ts", "1 hour")
        )
        sink = f"sess_to_{uuid.uuid4().hex[:8]}"
        q = (
            sessionize_with_timeout(stream)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return (
            spark.table(sink)
            .filter(F.col("user_id") >= 0)  # drop flush sentinels
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _sessionized_timeout_oracle() -> str:
    from smart_meter_data_pipeline_spark.operators.extended import (
        SESSION_GAP_MIN,
    )

    return f"""
WITH flagged AS (
  SELECT *,
         CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) > {SESSION_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT *,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(25,6))) * 1000000 AS BIGINT)
         AS session_value_micro
FROM sess GROUP BY user_id, session_seq
"""


register("stream_sessionized_timeout", _sessionized_timeout_oracle())(
    stream_sessionized_timeout
)


def _stateful_rollup(spark: SparkSession) -> DataFrame:
    """The stateful streaming deltas, shaped like staging, through the
    same ``hourly_meter_rollup`` the batch marts read."""
    from smart_meter_data_pipeline_spark.operators.meter_pipeline import (
        hourly_meter_rollup,
    )

    deltas = _run_stateful_deltas(spark)
    cons, prod = F.col("consumption_delta_mwh"), F.col("production_delta_mwh")
    stg_like = deltas.select(
        "reading_timestamp",
        "meter_id",
        "consumption_delta_mwh",
        "production_delta_mwh",
        (cons - F.coalesce(prod, F.lit(0))).alias("net_delta_mwh"),
        (F.col("status") == "V").alias("is_valid"),
        (F.col("status") == "E").alias("is_estimated"),
        (F.col("status") == "R").alias("is_error"),
        prod.isNotNull().alias("has_solar"),
    )
    return hourly_meter_rollup(stg_like)


def stream_billing_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's stated production path (README.md:137) end-to-
    end: incremental stateful staging instead of a batch LAG rebuild,
    feeding the UNCHANGED daily-billing mart builder. The oracle is
    the batch billing mart's SQL — streaming state handoff, delta
    reconstruction, dim joins, and charge math all land in one hash."""
    from smart_meter_data_pipeline_spark.operators.meter_pipeline import (
        fact_customer_billing_daily,
        gen_dim_customers,
        gen_dim_meters,
        gen_dim_tariff_rates,
    )

    return fact_customer_billing_daily(
        _stateful_rollup(spark),
        gen_dim_meters(spark),
        gen_dim_customers(spark),
        gen_dim_tariff_rates(spark),
    ).localCheckpoint(eager=True)


def _incremental_billing_oracle() -> str:
    from smart_meter_data_pipeline_spark.operators.meter_queries import (
        _BILLING_SQL,
    )

    return _BILLING_SQL


register("stream_billing_incremental", _incremental_billing_oracle())(
    stream_billing_incremental
)


def stream_grid_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of the SECOND mart — the reference's
    stated production path (README.md:137-138) applied to
    fact_grid_load_hourly: stateful streaming deltas feed the
    UNCHANGED hourly grid mart builder (tumbling hour = the T9 window,
    zone join, capacity/peak/critical flags). The oracle is the batch
    grid mart's SQL, so streaming state handoff, hourly re-aggregation,
    the broadcast zone join, and the guarded utilization math are all
    hash-checked end-to-end."""
    from smart_meter_data_pipeline_spark.operators.meter_pipeline import (
        fact_grid_load_hourly,
        gen_dim_grid_zones,
        gen_dim_meters,
    )

    return fact_grid_load_hourly(
        _stateful_rollup(spark),
        gen_dim_meters(spark),
        gen_dim_grid_zones(spark),
    ).localCheckpoint(eager=True)


def _incremental_grid_oracle() -> str:
    from smart_meter_data_pipeline_spark.operators.meter_queries import (
        _GRID_LOAD_SQL,
    )

    return _GRID_LOAD_SQL


register("stream_grid_incremental", _incremental_grid_oracle())(
    stream_grid_incremental
)


def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-native exactly-once: the events table is delivered
    TWICE (at-least-once redelivery) and
    ``dropDuplicatesWithinWatermark`` on the event key removes the
    replays — Spark's bounded-state form of the reference's
    ``ON CONFLICT DO NOTHING`` (consumer/meter_consumer.py:104-114),
    where the watermark bounds how long each key is remembered (the
    sink-side anti-join needs no such bound but pays a table scan).
    Redelivered rows land either inside the watermark (killed by
    dedup state) or behind it (dropped as late) — both paths erase
    them, and the final per-type rollup hash-equals the batch
    aggregate over the unique events."""
    workdir = tempfile.mkdtemp(prefix="smart_meter_dedup_stream_")
    src = os.path.join(workdir, "deliveries")
    os.makedirs(src)
    try:
        from smart_meter_data_pipeline_spark.sources.readers import load_table

        ev = load_table(spark, sf_dir, "events")
        ev.coalesce(2).write.parquet(os.path.join(src, "d1"))
        ev.coalesce(2).write.parquet(os.path.join(src, "d2"))

        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(os.path.join(src, "*"))
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        # (no countDistinct: unsupported on streaming frames — the
        # n_events/total_value pair already detects any surviving dup)
        agg = stream.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "total_value"),
        )
        sink = f"stream_dedup_{uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(sink).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


STREAM_JOIN_WINDOW_MIN = 30


def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases joined to the SAME
    user's preceding clicks within {STREAM_JOIN_WINDOW_MIN} minutes —
    attribution, the canonical two-stream correlation. Both sides are
    real file streams with watermarks; the event-time range condition
    is what lets Spark bound the join state (click state expires once
    the purchase watermark passes click_ts + window). Drained with
    availableNow; the oracle is the identical batch interval join, so
    the streaming state machine's matches are hash-checked pair by
    pair (aggregated per user to keep the output compact)."""
    workdir = tempfile.mkdtemp(prefix="smart_meter_ssjoin_")
    try:
        from smart_meter_data_pipeline_spark.sources.readers import load_table

        ev = load_table(spark, sf_dir, "events")
        # Two TIME-ORDERED deliveries per side (early half, late half):
        # micro-batch k sees chunk k of each stream, so watermarks only
        # ever move forward over on-time data, and pairs straddling the
        # chunk boundary must come from join STATE carried across
        # batches — the thing this query exists to check.
        mid = F.lit("2024-01-16 00:00:00").cast("timestamp")
        for etype in ("click", "purchase"):
            typed = ev.filter(F.col("event_type") == etype)
            for i, pred in enumerate([F.col("ts") < mid, F.col("ts") >= mid]):
                typed.filter(pred).coalesce(1).write.parquet(
                    os.path.join(workdir, etype, f"chunk_{i}")
                )

        def side(etype: str, alias: str) -> DataFrame:
            return (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(os.path.join(workdir, etype, "*"))
                .withWatermark("ts", "1 hour")
                .select(
                    F.col("event_id").alias(f"{alias}_id"),
                    F.col("ts").alias(f"{alias}_ts"),
                    F.col("user_id").alias(f"{alias}_user"),
                    F.col("value").alias(f"{alias}_value"),
                )
            )

        clicks, purchases = side("click", "c"), side("purchase", "p")
        pairs = purchases.join(
            clicks,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (
                F.col("c_ts")
                >= F.col("p_ts") - F.expr(
                    f"INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTES"
                )
            ),
            "inner",
        )
        # The JOIN runs streaming (stateful, watermark-bounded); the
        # compacting rollup runs batch over the drained pairs — chained
        # stateful operators (join → agg) and streaming countDistinct
        # are both restricted, and the join is the operator under test.
        sink = f"ssjoin_{uuid.uuid4().hex[:8]}"
        q = (
            pairs.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return (
            spark.table(sink)
            .groupBy(F.col("p_user").alias("user_id"))
            .agg(
                F.count(F.lit(1)).alias("n_attributed_pairs"),
                F.countDistinct("p_id").alias("n_purchases_with_click"),
                dsum("p_value", "attributed_value"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "stream_stream_interval_join",
    f"""
WITH pairs AS (
  SELECT p.user_id, p.event_id AS p_id, p.value AS p_value
  FROM events p
  JOIN events c
    ON c.user_id = p.user_id
   AND c.ts <= p.ts
   AND c.ts >= p.ts - INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTE
  WHERE p.event_type = 'purchase' AND c.event_type = 'click'
)
SELECT user_id,
       COUNT(*) AS n_attributed_pairs,
       COUNT(DISTINCT p_id) AS n_purchases_with_click,
       CAST(SUM(CAST(p_value AS DECIMAL(25,6))) AS DOUBLE)
         AS attributed_value
FROM pairs
GROUP BY 1
""",
)(stream_stream_interval_join)


def stream_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: purchases with their
    preceding same-user clicks within {STREAM_JOIN_WINDOW_MIN} minutes,
    AND a null-click row for every purchase that had none — the
    unattributed-conversion report. The outer side is the hard part of
    streaming joins: Spark can only emit the null-matched row once BOTH
    watermarks prove no matching click can still arrive, i.e. when
    join state for that purchase expires. On a drained finite stream
    that final eviction never happens by itself (availableNow runs no
    closing no-data batch), so each side delivers two far-future
    ``__flush__`` sentinel rows after the real chunks: sentinel #1
    advances the watermark, the batch processing sentinel #2 evicts and
    emits every real unmatched purchase. Sentinels carry user_id = -1
    and are dropped batch-side AFTER the drain (a stream-side filter
    would be pushed below EventTimeWatermark and eat them).

    State at scale: identical to the inner interval join — click state
    expires ``window + watermark`` behind the purchase watermark, and
    the outer emission adds no extra state, only deferred output. The
    oracle is the identical batch LEFT JOIN, so both the matched pairs
    AND the null-emission set are hash-checked."""
    workdir = tempfile.mkdtemp(prefix="smart_meter_ssouter_")
    try:
        from smart_meter_data_pipeline_spark.sources.readers import load_table

        ev = load_table(spark, sf_dir, "events")
        mx = ev.agg(F.max("ts").alias("mx")).first()["mx"]
        mid = F.lit("2024-01-16 00:00:00").cast("timestamp")

        def sentinel(days: int) -> DataFrame:
            return ev.limit(1).select(
                *[
                    F.lit(-1).cast("bigint").alias(c)
                    if c == "user_id"
                    else (
                        (F.lit(mx) + F.expr(f"INTERVAL {days} DAYS")).alias(c)
                        if c == "ts"
                        else F.col(c)
                    )
                    for c in ev.columns
                ]
            )

        for etype in ("click", "purchase"):
            typed = ev.filter(F.col("event_type") == etype)
            for i, pred in enumerate([F.col("ts") < mid, F.col("ts") >= mid]):
                typed.filter(pred).coalesce(1).write.parquet(
                    os.path.join(workdir, etype, f"chunk_{i}")
                )
            sentinel(3).coalesce(1).write.parquet(
                os.path.join(workdir, etype, "chunk_2")
            )
            sentinel(6).coalesce(1).write.parquet(
                os.path.join(workdir, etype, "chunk_3")
            )

        def side(etype: str, alias: str) -> DataFrame:
            return (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(os.path.join(workdir, etype, "*"))
                .withWatermark("ts", "1 hour")
                .select(
                    F.col("event_id").alias(f"{alias}_id"),
                    F.col("ts").alias(f"{alias}_ts"),
                    F.col("user_id").alias(f"{alias}_user"),
                    F.col("value").alias(f"{alias}_value"),
                )
            )

        clicks, purchases = side("click", "c"), side("purchase", "p")
        pairs = purchases.join(
            clicks,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (
                F.col("c_ts")
                >= F.col("p_ts") - F.expr(
                    f"INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTES"
                )
            ),
            "left_outer",
        )
        sink = f"ssouter_{uuid.uuid4().hex[:8]}"
        q = (
            pairs.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        unmatched_val = F.when(
            F.col("c_id").isNull(), F.col("p_value").cast("decimal(25,6)")
        )
        return (
            spark.table(sink)
            .filter(F.col("p_user") >= 0)  # drop flush sentinels
            .groupBy(F.col("p_user").alias("user_id"))
            .agg(
                F.count("c_id").alias("n_attributed_pairs"),
                F.countDistinct(
                    F.when(F.col("c_id").isNull(), F.col("p_id"))
                ).alias("n_unmatched_purchases"),
                F.coalesce(
                    F.sum(unmatched_val).cast("double"), F.lit(0.0)
                ).alias("unattributed_value"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "stream_outer_interval_join",
    f"""
WITH pairs AS (
  SELECT p.user_id, p.event_id AS p_id, p.value AS p_value,
         c.event_id AS c_id
  FROM events p
  LEFT JOIN events c
    ON c.event_type = 'click'
   AND c.user_id = p.user_id
   AND c.ts <= p.ts
   AND c.ts >= p.ts - INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTE
  WHERE p.event_type = 'purchase'
)
SELECT user_id,
       COUNT(c_id) AS n_attributed_pairs,
       COUNT(DISTINCT CASE WHEN c_id IS NULL THEN p_id END)
         AS n_unmatched_purchases,
       COALESCE(CAST(SUM(CASE WHEN c_id IS NULL
                              THEN CAST(p_value AS DECIMAL(25,6)) END)
                     AS DOUBLE), 0.0) AS unattributed_value
FROM pairs
GROUP BY 1
""",
)(stream_outer_interval_join)


def stream_full_outer_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream FULL OUTER interval join — completes the
    streaming join family (inner → left-outer → full-outer): every
    attributed (purchase, click) pair, PLUS a null-click row per
    unattributed purchase, PLUS a null-purchase row per click that
    attributed nothing. Both null emissions happen at state eviction,
    so BOTH sides' watermarks gate output; the same two-sentinel flush
    drains the trailing state (see :func:`stream_outer_interval_join`
    for the mechanics — this variant differs only in also emitting the
    unmatched click side). Per-user rollup counts all three
    populations; the oracle is the batch FULL JOIN under the identical
    interval predicate."""
    workdir = tempfile.mkdtemp(prefix="smart_meter_ssfull_")
    try:
        from smart_meter_data_pipeline_spark.sources.readers import load_table

        ev = load_table(spark, sf_dir, "events")
        mx = ev.agg(F.max("ts").alias("mx")).first()["mx"]
        mid = F.lit("2024-01-16 00:00:00").cast("timestamp")

        def sentinel(days: int) -> DataFrame:
            return ev.limit(1).select(
                *[
                    F.lit(-1).cast("bigint").alias(c)
                    if c == "user_id"
                    else (
                        (F.lit(mx) + F.expr(f"INTERVAL {days} DAYS")).alias(c)
                        if c == "ts"
                        else F.col(c)
                    )
                    for c in ev.columns
                ]
            )

        for etype in ("click", "purchase"):
            typed = ev.filter(F.col("event_type") == etype)
            for i, pred in enumerate([F.col("ts") < mid, F.col("ts") >= mid]):
                typed.filter(pred).coalesce(1).write.parquet(
                    os.path.join(workdir, etype, f"chunk_{i}")
                )
            sentinel(3).coalesce(1).write.parquet(
                os.path.join(workdir, etype, "chunk_2")
            )
            sentinel(6).coalesce(1).write.parquet(
                os.path.join(workdir, etype, "chunk_3")
            )

        def side(etype: str, alias: str) -> DataFrame:
            return (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(os.path.join(workdir, etype, "*"))
                .withWatermark("ts", "1 hour")
                .select(
                    F.col("event_id").alias(f"{alias}_id"),
                    F.col("ts").alias(f"{alias}_ts"),
                    F.col("user_id").alias(f"{alias}_user"),
                )
            )

        clicks, purchases = side("click", "c"), side("purchase", "p")
        pairs = purchases.join(
            clicks,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (
                F.col("c_ts")
                >= F.col("p_ts") - F.expr(
                    f"INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTES"
                )
            ),
            "full_outer",
        )
        sink = f"ssfull_{uuid.uuid4().hex[:8]}"
        q = (
            pairs.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return (
            spark.table(sink)
            # drop flush sentinels from EITHER side (a sentinel row has
            # its side's user = -1 and the other side null)
            .filter(
                (F.coalesce("p_user", F.lit(0)) >= 0)
                & (F.coalesce("c_user", F.lit(0)) >= 0)
            )
            .groupBy(
                F.coalesce("p_user", "c_user").alias("user_id")
            )
            .agg(
                F.count(
                    F.when(
                        F.col("p_id").isNotNull()
                        & F.col("c_id").isNotNull(),
                        1,
                    )
                ).alias("n_pairs"),
                F.countDistinct(
                    F.when(F.col("c_id").isNull(), F.col("p_id"))
                ).alias("n_unmatched_purchases"),
                F.countDistinct(
                    F.when(F.col("p_id").isNull(), F.col("c_id"))
                ).alias("n_unmatched_clicks"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "stream_full_outer_interval_join",
    f"""
WITH p AS (SELECT event_id, ts, user_id FROM events
           WHERE event_type = 'purchase'),
c AS (SELECT event_id, ts, user_id FROM events WHERE event_type = 'click'),
pairs AS (
  SELECT p.user_id AS p_user, p.event_id AS p_id,
         c.user_id AS c_user, c.event_id AS c_id
  FROM p FULL JOIN c
    ON c.user_id = p.user_id
   AND c.ts <= p.ts
   AND c.ts >= p.ts - INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTE
)
SELECT COALESCE(p_user, c_user) AS user_id,
       COUNT(CASE WHEN p_id IS NOT NULL AND c_id IS NOT NULL
                  THEN 1 END) AS n_pairs,
       COUNT(DISTINCT CASE WHEN c_id IS NULL THEN p_id END)
         AS n_unmatched_purchases,
       COUNT(DISTINCT CASE WHEN p_id IS NULL THEN c_id END)
         AS n_unmatched_clicks
FROM pairs
GROUP BY 1
""",
)(stream_full_outer_interval_join)


def stream_semi_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI interval join — the existence test:
    each purchase with at least one preceding same-user click within
    the window, emitted ONCE however many clicks matched (no pair
    fan-out, no click columns in the output — the shape that keeps a
    high-fan-in attribution check from exploding into pairs at scale).
    Spark emits the semi match as soon as the first matching click is
    seen; click state still expires on the same watermark bound as the
    inner join. Chunked ts-ordered delivery forces cross-batch state;
    no sentinels are needed (semi emits on match, not on eviction).
    Oracle: the batch EXISTS per purchase, rolled up per user."""
    workdir = tempfile.mkdtemp(prefix="smart_meter_sssemi_")
    try:
        from smart_meter_data_pipeline_spark.sources.readers import load_table

        ev = load_table(spark, sf_dir, "events")
        mid = F.lit("2024-01-16 00:00:00").cast("timestamp")
        for etype in ("click", "purchase"):
            typed = ev.filter(F.col("event_type") == etype)
            for i, pred in enumerate([F.col("ts") < mid, F.col("ts") >= mid]):
                typed.filter(pred).coalesce(1).write.parquet(
                    os.path.join(workdir, etype, f"chunk_{i}")
                )

        def side(etype: str, alias: str) -> DataFrame:
            return (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(os.path.join(workdir, etype, "*"))
                .withWatermark("ts", "1 hour")
                .select(
                    F.col("event_id").alias(f"{alias}_id"),
                    F.col("ts").alias(f"{alias}_ts"),
                    F.col("user_id").alias(f"{alias}_user"),
                    F.col("value").alias(f"{alias}_value"),
                )
            )

        clicks, purchases = side("click", "c"), side("purchase", "p")
        attributed = purchases.join(
            clicks,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (
                F.col("c_ts")
                >= F.col("p_ts") - F.expr(
                    f"INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTES"
                )
            ),
            "left_semi",
        )
        sink = f"sssemi_{uuid.uuid4().hex[:8]}"
        q = (
            attributed.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return (
            spark.table(sink)
            .groupBy(F.col("p_user").alias("user_id"))
            .agg(
                F.count(F.lit(1)).alias("n_attributed_purchases"),
                dsum("p_value", "attributed_value"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "stream_semi_interval_join",
    f"""
WITH attributed AS (
  SELECT p.user_id, p.value
  FROM events p
  WHERE p.event_type = 'purchase'
    AND EXISTS (
      SELECT 1 FROM events c
      WHERE c.event_type = 'click'
        AND c.user_id = p.user_id
        AND c.ts <= p.ts
        AND c.ts >= p.ts - INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTE
    )
)
SELECT user_id,
       COUNT(*) AS n_attributed_purchases,
       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE)
         AS attributed_value
FROM attributed
GROUP BY 1
""",
)(stream_semi_interval_join)


SLIDE_MIN = 15
SLIDE_WINDOW_MIN = 60


def stream_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows ({SLIDE_WINDOW_MIN} min long, sliding
    every {SLIDE_MIN} min) over the events file stream — the T9 window
    family's overlapping variant (each event lands in
    window/slide = 4 windows), drained availableNow in APPEND mode so
    the declared watermark actually evicts window state (the
    production, state-bounded shape: complete mode would retain every
    window ever seen). Append emits a window only once the watermark
    passes its end, so a drained finite stream would swallow its
    trailing windows; a single far-future ``__flush__`` sentinel event
    is delivered after the real data to push the final watermark past
    every real window, and the sentinel's own (never-emitted, filtered)
    windows are the only state left behind. TWO sentinel deliveries,
    because the watermark advances at batch END and availableNow stops
    without a closing no-data batch: sentinel #1 advances the
    watermark, the batch processing sentinel #2 emits every real
    window under it. Spark aligns slide
    boundaries to the epoch, so the oracle expands each event to its 4
    covering epoch-aligned window starts with integer bucket arithmetic
    and aggregates — overlapping-assignment semantics land in the hash,
    not just one window per event."""
    from smart_meter_data_pipeline_spark.sources.readers import load_table

    workdir = tempfile.mkdtemp(prefix="smart_meter_sliding_")
    try:
        ev = load_table(spark, sf_dir, "events")
        # Sentinel ts: far enough that watermark (sentinel − 1 h) passes
        # the end of every real window (≤ max_ts + window). 3 days ≫
        # 1 h + 60 min; scalar max() collect is metadata-sized.
        mx = ev.agg(F.max("ts").alias("mx")).first()["mx"]

        def sentinel(days: int) -> DataFrame:
            return ev.limit(1).select(
                *[
                    F.lit("__flush__").alias(c)
                    if c == "event_type"
                    else (
                        (F.lit(mx) + F.expr(f"INTERVAL {days} DAYS")).alias(c)
                        if c == "ts"
                        else F.col(c)
                    )
                    for c in ev.columns
                ]
            )

        # Time-ordered delivery: real events, then the two sentinels,
        # one file per micro-batch so the watermark only moves forward.
        ev.coalesce(1).write.parquet(os.path.join(workdir, "chunk_0"))
        sentinel(3).coalesce(1).write.parquet(os.path.join(workdir, "chunk_1"))
        sentinel(6).coalesce(1).write.parquet(os.path.join(workdir, "chunk_2"))
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(workdir, "*"))
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(
                F.window(
                    "ts", f"{SLIDE_WINDOW_MIN} minutes", f"{SLIDE_MIN} minutes"
                ).alias("w"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dsum("value", "total_value"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n_events",
                "total_value",
            )
        )
        sink = f"stream_sliding_{uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # Sentinel windows are dropped batch-side, AFTER the drain: a
        # filter inside the streaming plan gets pushed below the
        # EventTimeWatermark operator, where it would eat the sentinel
        # before it could ever advance the watermark.
        return (
            spark.table(sink)
            .filter(F.col("event_type") != "__flush__")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "stream_sliding_windows",
    f"""
WITH expanded AS (
  SELECT CAST(to_timestamp(
           CAST(floor(epoch(ts) / {SLIDE_MIN * 60}) AS BIGINT)
             * {SLIDE_MIN * 60} - k * {SLIDE_MIN * 60}) AS TIMESTAMP)
           AS window_start,
         event_type, value
  FROM events, range(0, {SLIDE_WINDOW_MIN // SLIDE_MIN}) t(k)
)
SELECT window_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
FROM expanded
GROUP BY 1, 2
""",
)(stream_sliding_windows)


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment — the canonical streaming join shape:
    the events file stream is joined PER MICRO-BATCH to the static
    customer dimension (stateless on the stream side; Spark re-resolves
    the static relation each batch, so dimension updates between
    batches are picked up — the streaming twin of the marts' fact⋈dim
    joins). The static side carries NO broadcast hint: customer scales
    with the fact (the round-7 fact-scale hint policy), so forcing it
    onto every executor is an OOM at the 100 TB design point — the
    planner may still pick broadcast per micro-batch where the dim
    actually fits. Enriched rows drain append into a
    memory sink; the compacting per-nation rollup runs batch over the
    drained table (same drain-then-aggregate protocol as the
    stream-stream join — the join is the operator under test). The
    oracle is the identical batch join + rollup, so per-batch
    re-resolution and the inner-match semantics land in the hash."""
    from smart_meter_data_pipeline_spark.sources.readers import load_table

    ev = _events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        "c_nationkey",
    )
    enriched = ev.join(cust, "user_id").select(
        "event_id", "user_id", "c_nationkey", "value"
    )
    sink = f"stream_static_{uuid.uuid4().hex[:8]}"
    q = (
        enriched.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(sink)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum("value", "total_value"),
        )
        .localCheckpoint(eager=True)
    )


register(
    "stream_static_join",
    """
SELECT c.c_nationkey,
       COUNT(*) AS n_events,
       COUNT(DISTINCT e.user_id) AS n_users,
       CAST(SUM(CAST(e.value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
""",
)(stream_static_join)


register(
    "stream_dedup_watermark",
    """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1
""",
)(stream_dedup_watermark)


register(
    "stream_ingest_daily",
    f"""WITH {_readings_cte()}
SELECT CAST(date_trunc('day', reading_timestamp) AS DATE) AS billing_date,
       COUNT(*) AS n_readings,
       COUNT(DISTINCT meter_id) AS n_meters,
       CAST(SUM(reading_consumption_milliwatts) AS BIGINT)
         AS sum_cumulative_cons_mwh,
       CAST(SUM(reading_production_milliwatts) AS BIGINT)
         AS sum_cumulative_prod_mwh
FROM readings
GROUP BY 1""",
)(stream_ingest_daily)


def stream_score_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online scoring against batch-trained statistics — the
    model-serving shape of streaming: sufficient statistics (n, Σv,
    Σv²) are trained BATCH-side on the quantized grid, broadcast into
    the stream, and every arriving event is flagged statelessly (no
    watermark, no state store — the join is to a static table, so the
    stream side never shuffles; the streaming twin of
    events_anomaly_zscore and the canonical 'score with yesterday's
    model' production pattern). Drained append; a fully drained stream
    must hash-equal the batch query, so the oracle IS the batch
    oracle (operators/extended.py:ZSCORE_ORACLE_SQL)."""
    from smart_meter_data_pipeline_spark.operators.extended import (
        with_v6,
        zscore_flags,
        zscore_stats,
    )
    from smart_meter_data_pipeline_spark.sources.readers import load_table

    stats = zscore_stats(
        with_v6(load_table(spark, sf_dir, "events"))
    ).localCheckpoint(eager=True)
    stream = with_v6(_events_stream(spark, sf_dir))
    flagged = zscore_flags(stream, stats)
    sink = f"stream_zscore_{uuid.uuid4().hex[:8]}"
    q = (
        flagged.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).localCheckpoint(eager=True)


def _zscore_oracle() -> str:
    from smart_meter_data_pipeline_spark.operators.extended import (
        ZSCORE_ORACLE_SQL,
    )

    return ZSCORE_ORACLE_SQL


register("stream_score_zscore", _zscore_oracle())(stream_score_zscore)


# ---------------------------------------------------------------------------
# Stream-static SCD2 enrichment: point-in-time dimension lookup
# ---------------------------------------------------------------------------

SCD2_ENRICH_EFFECTIVE = "2024-01-15 00:00:00"  # mid-stream so the
# validity intervals genuinely split event traffic (events span
# Jan 1-30; the dim_scd2_history date of Feb 1 would be degenerate).


def stream_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time SCD2 enrichment of the event stream — each event
    joins the dimension VERSION valid at its event time (ts ∈
    [valid_from, valid_to)), not the current row: the lookup shape
    every warehouse stream-enrichment needs once dims are historied
    (reference parity: the static dim joins of
    fact_customer_billing_daily.sql:88-96, upgraded to versioned dims).

    The history is the same three-leg zero-shuffle SCD2 build as
    ``dim_scd2_history`` with a mid-stream effective date; a changed
    customer's events land in '<seg>' before the cutover and
    '<seg>_V2' after it, so the interval semantics are visible in the
    hash. The static side broadcasts (≤2 rows per customer), the
    stream never shuffles — per micro-batch this is a broadcast hash
    join with the two range predicates evaluated post-probe, exactly
    the 100 TB plan. Drain-then-aggregate protocol as
    ``stream_static_join``."""
    from smart_meter_data_pipeline_spark.operators.extended import (
        SCD2_EPOCH,
        SCD2_RATE,
        SCD2_SALT,
    )
    from smart_meter_data_pipeline_spark.operators.meter_pipeline import _u
    from smart_meter_data_pipeline_spark.sources.readers import load_table

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    marked = cust.withColumn("u", _u(SCD2_SALT, F.col("c_custkey"), F.lit(0)))
    changed = F.col("u") < SCD2_RATE
    epoch = F.lit(SCD2_EPOCH).cast("timestamp")
    eff = F.lit(SCD2_ENRICH_EFFECTIVE).cast("timestamp")
    null_ts = F.lit(None).cast("timestamp")
    hist = (
        marked.filter(~changed)
        .select(
            "c_custkey",
            F.col("c_mktsegment").alias("segment"),
            epoch.alias("valid_from"),
            null_ts.alias("valid_to"),
        )
        .unionByName(
            marked.filter(changed).select(
                "c_custkey",
                F.col("c_mktsegment").alias("segment"),
                epoch.alias("valid_from"),
                eff.alias("valid_to"),
            )
        )
        .unionByName(
            marked.filter(changed).select(
                "c_custkey",
                F.concat("c_mktsegment", F.lit("_V2")).alias("segment"),
                eff.alias("valid_from"),
                null_ts.alias("valid_to"),
            )
        )
    )
    ev = _events_stream(spark, sf_dir)
    enriched = ev.join(
        F.broadcast(hist),
        (F.col("user_id") == F.col("c_custkey"))
        & (F.col("ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
    ).select("event_id", "user_id", "segment", "value")
    sink = f"stream_scd2_{uuid.uuid4().hex[:8]}"
    q = (
        enriched.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(sink)
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum("value", "total_value"),
        )
        .localCheckpoint(eager=True)
    )


def _scd2_enrich_oracle() -> str:
    from smart_meter_data_pipeline_spark.operators.extended import (
        SCD2_EPOCH,
        SCD2_RATE,
        SCD2_SALT,
    )
    from smart_meter_data_pipeline_spark.operators.meter_pipeline import _u_sql

    u = _u_sql(SCD2_SALT, "c_custkey", "0")
    return f"""
WITH marked AS (
  SELECT c_custkey, c_mktsegment, {u} AS u FROM customer
),
hist AS (
  SELECT c_custkey, c_mktsegment AS segment,
         TIMESTAMP '{SCD2_EPOCH}' AS valid_from,
         CAST(NULL AS TIMESTAMP) AS valid_to
  FROM marked WHERE u >= {SCD2_RATE}
  UNION ALL
  SELECT c_custkey, c_mktsegment,
         TIMESTAMP '{SCD2_EPOCH}', TIMESTAMP '{SCD2_ENRICH_EFFECTIVE}'
  FROM marked WHERE u < {SCD2_RATE}
  UNION ALL
  SELECT c_custkey, c_mktsegment || '_V2',
         TIMESTAMP '{SCD2_ENRICH_EFFECTIVE}', CAST(NULL AS TIMESTAMP)
  FROM marked WHERE u < {SCD2_RATE}
)
SELECT h.segment, COUNT(*) AS n_events,
       COUNT(DISTINCT e.user_id) AS n_users,
       CAST(SUM(CAST(e.value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
FROM events e
JOIN hist h ON e.user_id = h.c_custkey
           AND e.ts >= h.valid_from
           AND (h.valid_to IS NULL OR e.ts < h.valid_to)
GROUP BY 1
"""


register("stream_scd2_enrich", _scd2_enrich_oracle())(stream_scd2_enrich)


def stream_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``event_value_hist_quantiles``: the per-bin
    counting runs as a streaming aggregation over the events file
    stream and the quantile selection runs batch over the drained
    {hist_bins}-bin state.

    This is the sketch argument made operational: complete-mode state
    here is BOUNDED AT {hist_bins} ROWS BY CONSTRUCTION no matter how
    long the stream runs (contrast the windowed aggs, whose state
    grows with event-time span and needs watermark eviction) — exactly
    why mergeable fixed-size sketches are the streaming-quantile path
    at 100 TB. Bin bounds come from a batch min/max/count pass over
    the same table (in production: the previous corpus version's
    stats), broadcast into the stream as stateless per-row math.
    Oracle: identical to the batch query — a fully drained stream
    must hash-equal it."""
    from smart_meter_data_pipeline_spark.operators.extended import (
        HIST_BINS,
        HIST_QS,
    )
    from smart_meter_data_pipeline_spark.sources.readers import load_table

    ev_static = load_table(spark, sf_dir, "events")
    stats = ev_static.agg(
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.count(F.lit(1)).alias("n_total"),
    ).collect()[0]
    vmin, vmax, n_total = stats["vmin"], stats["vmax"], stats["n_total"]

    ev = _events_stream(spark, sf_dir)
    if vmax > vmin:
        bin_col = F.least(
            F.floor(
                (F.col("value") - F.lit(vmin))
                / (F.lit(vmax) - F.lit(vmin))
                * HIST_BINS
            ).cast("bigint"),
            F.lit(HIST_BINS - 1).cast("bigint"),
        )
    else:
        bin_col = F.lit(0).cast("bigint")
    hist = ev.select(bin_col.alias("bin")).groupBy("bin").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    sink = f"stream_hist_{uuid.uuid4().hex[:8]}"
    q = (
        hist.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")  # state = one row per occupied bin,
        # ≤ HIST_BINS rows forever — bounded by construction, so
        # complete mode is the correct shape here (nothing to evict)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from pyspark.sql import Window

    cum = spark.table(sink).select(
        "bin", F.sum("cnt").over(Window.orderBy("bin")).alias("cum")
    )
    qs = spark.range(1).select(
        F.explode(
            F.array(*[F.expr(f"CAST({s} AS DOUBLE)") for s in HIST_QS])
        ).alias("p")
    )
    return (
        cum.crossJoin(F.broadcast(qs))
        .groupBy("p")
        .agg(
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(F.col("p") * F.lit(n_total)),
                    F.col("bin"),
                )
            ).alias("bin")
        )
        .select(
            "p",
            "bin",
            (
                F.lit(vmin)
                + (F.col("bin") + 1)
                * (F.lit(vmax) - F.lit(vmin))
                / F.lit(HIST_BINS)
            ).alias("est_value"),
            F.lit(n_total).alias("n_total"),
        )
        .localCheckpoint(eager=True)
    )


def _stream_hist_oracle() -> str:
    from smart_meter_data_pipeline_spark.plans.registry import ORACLES

    return ORACLES["event_value_hist_quantiles"]


register("stream_hist_quantiles", _stream_hist_oracle())(stream_hist_quantiles)


TOPK_USERS = 10


def stream_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters: global top-{TOPK_USERS} users by event
    count via the space-saving sketch (see
    :func:`~..streaming.stateful.topk_user_counters` for the memory
    bound and the exact-regime contract). Two time-ordered deliveries
    force the counters to persist across micro-batches; the drain
    keeps each shard's final (highest-seq) snapshot and ranks
    batch-side. In the exact regime a fully drained stream
    hash-equals the batch top-k oracle."""
    from smart_meter_data_pipeline_spark.sources.readers import load_table
    from smart_meter_data_pipeline_spark.streaming.stateful import (
        topk_user_counters,
    )

    workdir = tempfile.mkdtemp(prefix="smart_meter_topk_")
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts"
        )
        mid = F.lit("2024-01-16 00:00:00").cast("timestamp")
        ev.filter(F.col("ts") < mid).coalesce(1).write.parquet(
            os.path.join(workdir, "chunk_0")
        )
        ev.filter(F.col("ts") >= mid).coalesce(1).write.parquet(
            os.path.join(workdir, "chunk_1")
        )
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(workdir, "*"))
        )
        sink = f"topk_{uuid.uuid4().hex[:8]}"
        q = (
            topk_user_counters(stream)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        from pyspark.sql import Window

        snaps = spark.table(sink)
        latest = snaps.withColumn(
            "max_seq",
            F.max("seq").over(Window.partitionBy("shard")),
        ).filter(F.col("seq") == F.col("max_seq"))
        ranked = latest.withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("n_events").desc(), F.col("user_id"))
            ),
        )
        return (
            ranked.filter(F.col("rank") <= TOPK_USERS)
            .select("rank", "user_id", "n_events")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "stream_topk_users",
    f"""
WITH counts AS (
  SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY 1
),
ranked AS (
  SELECT user_id, n_events,
         ROW_NUMBER() OVER (ORDER BY n_events DESC, user_id) AS rank
  FROM counts
)
SELECT rank, user_id, n_events FROM ranked WHERE rank <= {TOPK_USERS}
""",
)(stream_topk_users)


def stream_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_drift_report``: the before/after
    side counters run as a streaming aggregation (complete mode is
    correct here for the same reason as ``stream_hist_quantiles`` —
    state is |types|×2 rows BY CONSTRUCTION, nothing to evict), and
    the share/delta math runs batch over the drained counter table.
    In production the 'before' window is the previous corpus
    version's counts loaded from its audit table; the single-stream
    split here keeps the twin self-contained. A fully drained stream
    hash-equals the batch oracle."""
    from smart_meter_data_pipeline_spark.operators.extended import DRIFT_SPLIT

    ev = _events_stream(spark, sf_dir)
    split = F.lit(DRIFT_SPLIT).cast("timestamp")
    sided = ev.groupBy(
        "event_type", (F.col("ts") < split).alias("is_before")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    sink = f"stream_drift_{uuid.uuid4().hex[:8]}"
    q = (
        sided.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    counters = spark.table(sink)
    pivoted = counters.groupBy("event_type").agg(
        F.coalesce(
            F.sum(F.when(F.col("is_before"), F.col("cnt"))), F.lit(0)
        ).alias("n_before"),
        F.coalesce(
            F.sum(F.when(~F.col("is_before"), F.col("cnt"))), F.lit(0)
        ).alias("n_after"),
    )
    tot = pivoted.agg(
        F.sum("n_before").alias("tot_before"),
        F.sum("n_after").alias("tot_after"),
    )
    share_b = F.col("n_before").cast("double") / F.col("tot_before").cast(
        "double"
    )
    share_a = F.col("n_after").cast("double") / F.col("tot_after").cast(
        "double"
    )
    return (
        pivoted.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "n_before",
            "n_after",
            F.round(share_b, 9).alias("share_before"),
            F.round(share_a, 9).alias("share_after"),
            F.round(F.abs(share_a - share_b), 9).alias("abs_share_delta"),
        )
        .localCheckpoint(eager=True)
    )


def _stream_drift_oracle() -> str:
    from smart_meter_data_pipeline_spark.plans.registry import ORACLES

    return ORACLES["events_drift_report"]


register("stream_drift_report", _stream_drift_oracle())(stream_drift_report)


def stream_meter_sim_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python streaming source under the correctness gate:
    ``readStream.format("meter_sim")`` drains its offset-sliced
    micro-batches (deltas on the wire), and the per-meter totals must
    hash-equal the DuckDB readings CTE's final cumulative counters —
    any lost/duplicated offset range, any PRNG drift between the
    Python reader and the SQL twin, breaks the hash. sf-independent
    like ``meter_readings`` (the generator IS the dataset)."""
    from smart_meter_data_pipeline_spark.sources.meter_sim_source import (
        make_meter_sim_source,
    )

    try:
        spark.dataSource.register(make_meter_sim_source())
    except Exception:
        pass  # already registered in this session
    stream = (
        spark.readStream.format("meter_sim")
        .option("n_meters", "200")
        .option("n_ticks", "96")
        .option("ticks_per_batch", "40")  # 3 uneven offset slices
        .load()
    )
    sink = f"meter_sim_{uuid.uuid4().hex[:8]}"
    workdir = tempfile.mkdtemp(prefix="meter_sim_ckpt_")
    try:
        q = (
            stream.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(workdir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        drained = spark.table(sink)
        return (
            drained.groupBy("meter_id")
            .agg(
                F.count(F.lit(1)).alias("n_readings"),
                F.sum("reading_consumption_milliwatts")
                .cast("bigint")
                .alias("total_consumption"),
                F.sum("reading_production_milliwatts")
                .cast("bigint")
                .alias("total_production"),
                F.count(F.when(F.col("status") != "V", 1)).alias(
                    "n_nonvalid"
                ),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _meter_sim_totals_oracle() -> str:
    return f"""WITH {_readings_cte()}
SELECT meter_id, COUNT(*) AS n_readings,
       CAST(MAX(reading_consumption_milliwatts) AS BIGINT)
         AS total_consumption,
       CAST(MAX(reading_production_milliwatts) AS BIGINT)
         AS total_production,
       COUNT(CASE WHEN status <> 'V' THEN 1 END) AS n_nonvalid
FROM readings
GROUP BY 1
"""


register("stream_meter_sim_totals", _meter_sim_totals_oracle())(
    stream_meter_sim_totals
)


DQ_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DQ_VALUE_LO, DQ_VALUE_HI = 0.0, 1000.0


def stream_dq_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming data-quality monitor: the expectations runner's
    row-predicate checks (operators/expectations.py) applied to the
    live event stream — null keys, out-of-domain event types,
    out-of-range values — as ONE global conditional-sum aggregate in
    complete mode. State is bounded BY CONSTRUCTION at a single row
    (one counter per check) no matter how long the stream runs, the
    same boundedness argument as the fixed-bin histogram; this is the
    shape a production pipeline alerts on between the ingest sink and
    the marts (reference parity: the consumer's per-message validation
    counters, consumer/meter_consumer.py:55-58 + the monitor loop of
    monitor/kafka_monitor.py, fused into one declarative frame).

    The drained single-row state explodes into tidy
    (check_name, n_violations, passed) rows BATCH-side. Oracle:
    identical counts computed relationally — a fully drained stream
    must hash-equal the batch truth."""
    from smart_meter_data_pipeline_spark.operators.expectations import (
        _violation_expr,
    )

    checks = [
        {"kind": "not_null", "column": "user_id"},
        {"kind": "not_null", "column": "value"},
        {
            "kind": "accepted_values",
            "column": "event_type",
            "values": DQ_EVENT_TYPES,
        },
        {
            "kind": "in_range",
            "column": "value",
            "lo": DQ_VALUE_LO,
            "hi": DQ_VALUE_HI,
        },
    ]
    names = [
        "not_null_user_id",
        "not_null_value",
        "accepted_values_event_type",
        "in_range_value",
    ]
    ev = _events_stream(spark, sf_dir)
    agg = ev.agg(
        *[
            F.sum(_violation_expr(c).cast("long")).alias(f"v{i}")
            for i, c in enumerate(checks)
        ],
        F.count(F.lit(1)).alias("n_rows"),
    )
    sink = f"stream_dq_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")  # ONE row of counters, forever
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state = spark.table(sink)
    return state.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).alias("check_name"),
                        F.coalesce(F.col(f"v{i}"), F.lit(0))
                        .cast("bigint")
                        .alias("n_violations"),
                    )
                    for i, n in enumerate(names)
                ]
            )
        ).alias("r"),
        "n_rows",
    ).select(
        "r.check_name",
        "r.n_violations",
        (F.col("r.n_violations") == 0).alias("passed"),
        F.col("n_rows").cast("bigint").alias("n_rows_checked"),
    )


register(
    "stream_dq_monitor",
    f"""
WITH counters AS (
  SELECT
    CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS v0,
    CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS v1,
    CAST(SUM(CASE WHEN event_type IS NOT NULL
                   AND event_type NOT IN
                       ('click','error','purchase','signup','view')
                  THEN 1 ELSE 0 END) AS BIGINT) AS v2,
    CAST(SUM(CASE WHEN value IS NOT NULL
                   AND (value < {DQ_VALUE_LO} OR value > {DQ_VALUE_HI})
                  THEN 1 ELSE 0 END) AS BIGINT) AS v3,
    CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM events
)
SELECT 'not_null_user_id' AS check_name, v0 AS n_violations,
       v0 = 0 AS passed, n_rows AS n_rows_checked FROM counters
UNION ALL
SELECT 'not_null_value', v1, v1 = 0, n_rows FROM counters
UNION ALL
SELECT 'accepted_values_event_type', v2, v2 = 0, n_rows FROM counters
UNION ALL
SELECT 'in_range_value', v3, v3 = 0, n_rows FROM counters
""",
)(stream_dq_monitor)


def stream_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSUM changepoint screen as a STREAMING stateful operator:
    per event type, the running deviation sum lives in keyed state
    (ONE int64 per type) and survives micro-batch handoffs; the
    argmax-|CUSUM| changepoint falls out of the drained per-event
    feed batch-side. Same oracle as the batch twin
    (events_cusum_changepoint) — a level-shift monitor a pipeline
    runs ON the stream instead of re-scanning history.

    Exactness: type means come from a batch stats pass (production:
    the previous corpus version), quantized to the 6-digit grid and
    carried into the closure as INTEGER micro-units; each value
    quantizes to the same grid (the running-totals contract, verified
    equal to the SQL decimal cast over this corpus), so state handoff
    is bit-exact int64 arithmetic. The closure inlines everything
    (module references don't survive pickling to workers launched
    outside the repo). Two ts-split deliveries force cross-batch
    state continuation."""
    from smart_meter_data_pipeline_spark.sources.readers import load_table

    workdir = tempfile.mkdtemp(prefix="smart_meter_cusum_")
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "value"
        )
        means = (
            ev.groupBy("event_type")
            .agg(
                F.round(
                    F.sum(F.col("value").cast("decimal(25,6)")).cast(
                        "double"
                    )
                    / F.count(F.lit(1)),
                    6,
                )
                .cast("decimal(12,6)")
                .alias("mean_v"),
                F.count(F.lit(1)).alias("n_events"),
            )
        )
        mean_rows = means.collect()
        mean_map = {
            r["event_type"]: int(r["mean_v"] * 1_000_000)
            for r in mean_rows
        }

        mid = F.lit("2024-01-16 00:00:00").cast("timestamp")
        ev.filter(F.col("ts") < mid).coalesce(1).write.parquet(
            os.path.join(workdir, "chunk_0")
        )
        ev.filter(F.col("ts") >= mid).coalesce(1).write.parquet(
            os.path.join(workdir, "chunk_1")
        )
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(workdir, "*"))
        )

        out_schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("cusum_micro", T.LongType()),
            ]
        )

        def _fn(key, pdfs, state):
            import pandas as pd
            from decimal import ROUND_HALF_UP, Decimal

            quantum = Decimal("0.000001")
            pdf = pd.concat(list(pdfs), ignore_index=True)
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            base = state.get[0] if state.exists else 0
            mm = mean_map[key[0]]
            devs = pdf["value"].map(
                lambda v: int(
                    Decimal(float(v)).quantize(quantum, ROUND_HALF_UP)
                    * 1_000_000
                )
                - mm
            )
            running = devs.astype("int64").cumsum() + base
            out = pd.DataFrame(
                {
                    "event_id": pdf["event_id"].astype("int64").values,
                    "event_type": key[0],
                    "ts": pdf["ts"].values,
                    "cusum_micro": running.astype("int64").values,
                }
            )
            state.update((int(running.iloc[-1]),))
            yield out

        sink = f"stream_cusum_{uuid.uuid4().hex[:8]}"
        q = (
            stream.groupBy("event_type")
            .applyInPandasWithState(
                _fn,
                out_schema,
                T.StructType(
                    [T.StructField("cusum_micro", T.LongType())]
                ),
                "append",
                GroupStateTimeout.NoTimeout,
            )
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        feed = spark.table(sink)
        return (
            feed.join(
                F.broadcast(means.select("event_type", "n_events")),
                "event_type",
            )
            .groupBy("event_type", "n_events")
            .agg(
                F.max(
                    F.struct(
                        F.abs(F.col("cusum_micro")).alias("a"),
                        F.col("ts").alias("ts"),
                        F.col("event_id").alias("eid"),
                    )
                ).alias("peak")
            )
            .select(
                "event_type",
                F.col("n_events").cast("bigint").alias("n_events"),
                F.col("peak.ts").alias("changepoint_ts"),
                F.col("peak.eid").alias("changepoint_event_id"),
                F.col("peak.a").cast("bigint").alias("peak_cusum_micro"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _register_stream_cusum() -> None:
    from smart_meter_data_pipeline_spark.operators.events_pipeline import (
        _CUSUM_SQL,
    )

    register("stream_cusum_changepoint", _CUSUM_SQL)(
        stream_cusum_changepoint
    )


_register_stream_cusum()


def stream_motif_vcp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-sequence motif detection ON the stream: per user, the
    consecutive view→click→purchase triple counter runs as keyed
    streaming state — exactly two event-type strings (the user's last
    two events) plus nothing else, so state is O(users)·2 small
    strings no matter how long the stream runs. Batch twin / oracle:
    events_motif_vcp (the drained per-batch completions sum to the
    batch LEAD-window counts — the hash proves cross-batch boundary
    handling, since motifs SPANNING micro-batch cuts only count if the
    carried state is stitched correctly).

    Per micro-batch: sort the user's new rows by (ts, event_id),
    prepend the carried two types, count triple completions in the
    stitched sequence, emit one (user, n_new) row, store the new last
    two types. The closure inlines everything (pickled by value). Two
    ts-split file chunks force at least one cross-batch stitch."""
    from smart_meter_data_pipeline_spark.sources.readers import load_table

    workdir = tempfile.mkdtemp(prefix="smart_meter_motif_")
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type"
        )
        mid = F.lit("2024-01-16 00:00:00").cast("timestamp")
        ev.filter(F.col("ts") < mid).coalesce(1).write.parquet(
            os.path.join(workdir, "chunk_0")
        )
        ev.filter(F.col("ts") >= mid).coalesce(1).write.parquet(
            os.path.join(workdir, "chunk_1")
        )
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(workdir, "*"))
        )

        out_schema = T.StructType(
            [
                T.StructField("user_id", T.LongType()),
                T.StructField("n_new", T.LongType()),
            ]
        )
        state_schema = T.StructType(
            [
                T.StructField("t1", T.StringType()),
                T.StructField("t2", T.StringType()),
            ]
        )

        def _fn(key, pdfs, state):
            import pandas as pd

            pdf = pd.concat(list(pdfs), ignore_index=True)
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            t1, t2 = state.get if state.exists else (None, None)
            seq = ([] if t1 is None else [t1]) + (
                [] if t2 is None else [t2]
            ) + list(pdf["event_type"])
            n_new = sum(
                1
                for i in range(2, len(seq))
                if seq[i - 2] == "view"
                and seq[i - 1] == "click"
                and seq[i] == "purchase"
            )
            # No double-count across batches: a completion is counted
            # at its 'purchase' row, which lives in exactly one batch;
            # the prepended carry only supplies the two predecessors.
            if len(seq) >= 2:
                new_t1, new_t2 = seq[-2], seq[-1]
            elif len(seq) == 1:
                new_t1, new_t2 = None, seq[-1]
            else:
                new_t1, new_t2 = t1, t2
            state.update((new_t1, new_t2))
            yield pd.DataFrame(
                {"user_id": [int(key[0])], "n_new": [int(n_new)]}
            )

        sink = f"stream_motif_{uuid.uuid4().hex[:8]}"
        q = (
            stream.groupBy("user_id")
            .applyInPandasWithState(
                _fn,
                out_schema,
                state_schema,
                "append",
                GroupStateTimeout.NoTimeout,
            )
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        feed = spark.table(sink)
        return (
            feed.groupBy("user_id")
            .agg(F.sum("n_new").cast("bigint").alias("n_motifs"))
            .filter(F.col("n_motifs") > 0)
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _register_stream_motif() -> None:
    from smart_meter_data_pipeline_spark.plans.registry import ORACLES

    register("stream_motif_vcp", ORACLES["events_motif_vcp"])(
        stream_motif_vcp
    )


_register_stream_motif()


def stream_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-count sketch: the per-type HyperLogLog
    register table maintained as keyed streaming state — EXACTLY 64
    int registers per event type, forever, regardless of stream
    length or user cardinality (the bounded-state COUNT(DISTINCT)
    the complete-mode rule demands). Registers are monotone maxes, so
    the drained per-batch emissions reduce to the final table with a
    batch-side max, and the hash gate proves the streaming sketch ==
    the batch sketch (events_hll_registers) bit-for-bit — merge
    order, batch boundaries, and the Python-vs-SQL md5/rho paths all
    land in the check. Two ts-split chunks force cross-batch merges.

    The closure inlines the hash/rho arithmetic (constants and all) —
    module references do not survive pickling to workers launched
    outside the repo."""
    from smart_meter_data_pipeline_spark.sources.readers import load_table

    workdir = tempfile.mkdtemp(prefix="smart_meter_hll_")
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "ts", "event_type", "user_id"
        )
        mid = F.lit("2024-01-16 00:00:00").cast("timestamp")
        ev.filter(F.col("ts") < mid).coalesce(1).write.parquet(
            os.path.join(workdir, "chunk_0")
        )
        ev.filter(F.col("ts") >= mid).coalesce(1).write.parquet(
            os.path.join(workdir, "chunk_1")
        )
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(workdir, "*"))
        )

        out_schema = T.StructType(
            [
                T.StructField("event_type", T.StringType()),
                T.StructField("bucket", T.IntegerType()),
                T.StructField("register", T.IntegerType()),
            ]
        )
        state_schema = T.StructType(
            [T.StructField("regs", T.ArrayType(T.IntegerType()))]
        )

        def _fn(key, pdfs, state):
            import hashlib

            import pandas as pd

            regs = list(state.get[0]) if state.exists else [0] * 64
            pdf = pd.concat(list(pdfs), ignore_index=True)
            for uid in pdf["user_id"]:
                hh = hashlib.md5(str(int(uid)).encode()).hexdigest()
                bucket = (int(hh[0], 16) * 16 + int(hh[1], 16)) % 64
                rho = 33
                for i in range(8):
                    v = int(hh[2 + i], 16)
                    if v:
                        rho = i * 4 + 1 + (4 - v.bit_length())
                        break
                if rho > regs[bucket]:
                    regs[bucket] = rho
            state.update((regs,))
            yield pd.DataFrame(
                {
                    "event_type": key[0],
                    "bucket": [b for b, r in enumerate(regs) if r > 0],
                    "register": [r for r in regs if r > 0],
                }
            )

        sink = f"stream_hll_{uuid.uuid4().hex[:8]}"
        q = (
            stream.groupBy("event_type")
            .applyInPandasWithState(
                _fn,
                out_schema,
                state_schema,
                "append",
                GroupStateTimeout.NoTimeout,
            )
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        feed = spark.table(sink)
        return (
            feed.groupBy("event_type", "bucket")
            .agg(F.max("register").alias("register"))
            .select(
                "event_type",
                F.col("bucket").cast("int").alias("bucket"),
                F.col("register").cast("int").alias("register"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _register_stream_hll() -> None:
    from smart_meter_data_pipeline_spark.plans.registry import ORACLES

    register("stream_hll_registers", ORACLES["events_hll_registers"])(
        stream_hll_registers
    )


_register_stream_hll()


def stream_bot_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_bot_score``: per-user inter-arrival
    sufficient statistics (n, Σgap, Σgap², last timestamp) maintained
    as keyed streaming state — four integers per user, the mergeable
    form that turns the batch screen into a continuously-updated
    abuse monitor. Gaps BETWEEN micro-batches are computed against
    the state's last timestamp, so batch boundaries are invisible to
    the statistics; per-batch emissions carry monotone n_events, so
    the drain reduces with a max-by and the hash gate proves the
    streamed screen == the batch screen row-for-row (same oracle).
    Two ts-split chunks force the cross-batch gap path.

    The closure inlines everything (pandas only) — module references
    do not survive pickling to workers launched outside the repo."""
    from smart_meter_data_pipeline_spark.sources.readers import load_table

    workdir = tempfile.mkdtemp(prefix="smart_meter_botstream_")
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "ts", "event_id", "user_id"
        )
        mid = F.lit("2024-01-16 00:00:00").cast("timestamp")
        ev.filter(F.col("ts") < mid).coalesce(1).write.parquet(
            os.path.join(workdir, "chunk_0")
        )
        ev.filter(F.col("ts") >= mid).coalesce(1).write.parquet(
            os.path.join(workdir, "chunk_1")
        )
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(workdir, "*"))
        )

        out_schema = T.StructType(
            [
                T.StructField("user_id", T.LongType()),
                T.StructField("n_events", T.LongType()),
                T.StructField("n_gaps", T.LongType()),
                T.StructField("sum_gap_s", T.LongType()),
                T.StructField("sum_gap2", T.LongType()),
            ]
        )
        state_schema = T.StructType(
            [
                T.StructField("n", T.LongType()),
                T.StructField("sg", T.LongType()),
                T.StructField("sq", T.LongType()),
                T.StructField("last_t", T.LongType()),
            ]
        )

        def _fn(key, pdfs, state):
            import pandas as pd

            if state.exists:
                n, sg, sq, last_t = state.get
            else:
                n, sg, sq, last_t = 0, 0, 0, None
            pdf = pd.concat(list(pdfs), ignore_index=True)
            pdf = pdf.sort_values(["ts", "event_id"])
            ts_s = (pdf["ts"].astype("int64") // 10**9).tolist()
            for t in ts_s:
                if last_t is not None:
                    g = t - last_t
                    sg += g
                    sq += g * g
                n += 1
                last_t = t
            state.update((n, sg, sq, last_t))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "n_gaps": [n - 1],
                    "sum_gap_s": [sg],
                    "sum_gap2": [sq],
                }
            )

        sink = f"stream_bot_{uuid.uuid4().hex[:8]}"
        q = (
            stream.groupBy("user_id")
            .applyInPandasWithState(
                _fn,
                out_schema,
                state_schema,
                "append",
                GroupStateTimeout.NoTimeout,
            )
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        feed = spark.table(sink)
        # n_events is monotone per user, so max_by picks each user's
        # final statistics regardless of how many batches touched it.
        final = feed.groupBy("user_id").agg(
            F.expr(
                "max_by(struct(n_events, n_gaps, sum_gap_s, sum_gap2),"
                " n_events)"
            ).alias("s")
        ).select("user_id", "s.*")
        nd = F.col("n_gaps").cast("double")
        sd = F.col("sum_gap_s").cast("double")
        qd = F.col("sum_gap2").cast("double")
        cv = F.sqrt(nd * qd - sd * sd) / sd
        mean_gap = F.expr("sum_gap_s div n_gaps")
        from smart_meter_data_pipeline_spark.operators.extended import (
            BOT_CV_MAX,
            BOT_MEAN_GAP_MAX_S,
            BOT_MIN_GAPS,
        )

        return (
            final.filter(F.col("n_gaps") >= BOT_MIN_GAPS)
            .select(
                "user_id",
                F.col("n_events").cast("bigint").alias("n_events"),
                F.col("n_gaps").cast("bigint").alias("n_gaps"),
                F.col("sum_gap_s").cast("bigint").alias("sum_gap_s"),
                mean_gap.cast("bigint").alias("mean_gap_s"),
                F.when(F.col("sum_gap_s") > 0, F.round(cv, 9)).alias(
                    "gap_cv"
                ),
                (
                    (mean_gap < F.lit(BOT_MEAN_GAP_MAX_S))
                    & F.coalesce(
                        F.when(F.col("sum_gap_s") > 0, cv)
                        < F.expr(f"CAST({BOT_CV_MAX} AS DOUBLE)"),
                        F.lit(False),
                    )
                ).alias("bot_suspect"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _register_stream_bot() -> None:
    from smart_meter_data_pipeline_spark.plans.registry import ORACLES

    register("stream_bot_score", ORACLES["events_bot_score"])(
        stream_bot_score
    )


_register_stream_bot()


def stream_jsonl_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python ``DataSourceStreamWriter`` under the hash
    gate: stream the events table (two ts-split chunks → two
    micro-batches) through ``jsonl_corpus``'s streaming sink — task
    temp files, per-batch rename-publish, atomic ``_batch-<id>``
    manifests — then read back ONLY the manifested files and roll up.
    Matching the plain-SQL oracle proves the sink published every row
    exactly once across batch boundaries (and nothing from temp
    files). The replay-idempotence of commit() is pinned separately in
    tests/test_jsonl_sink_source.py."""
    from smart_meter_data_pipeline_spark.sources.jsonl_sink_source import (
        make_jsonl_corpus_sink,
        manifested_stream_files,
    )
    from smart_meter_data_pipeline_spark.sources.readers import load_table

    try:
        spark.dataSource.register(make_jsonl_corpus_sink())
    except Exception:
        pass  # already registered in this session

    workdir = tempfile.mkdtemp(prefix="smart_meter_jsonl_stream_")
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "ts", "event_id", "user_id", "event_type", "value"
        )
        mid = F.lit("2024-01-16 00:00:00").cast("timestamp")
        # chunks live under their own subdir: the source glob must not
        # match the sink/checkpoint dirs this query also creates here
        ev.filter(F.col("ts") < mid).coalesce(1).write.parquet(
            os.path.join(workdir, "chunks", "chunk_0")
        )
        ev.filter(F.col("ts") >= mid).coalesce(1).write.parquet(
            os.path.join(workdir, "chunks", "chunk_1")
        )
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(workdir, "chunks", "*"))
        )
        sink_dir = os.path.join(workdir, "sink")
        q = (
            stream.select("event_id", "user_id", "event_type", "value")
            .writeStream.format("jsonl_corpus")
            .option("path", sink_dir)
            .option(
                "checkpointLocation", os.path.join(workdir, "ckpt")
            )
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        files = manifested_stream_files(sink_dir)
        back = spark.read.schema(
            "event_id BIGINT, user_id BIGINT, event_type STRING,"
            " value DOUBLE"
        ).json(files)
        return (
            back.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(
                    F.expr(
                        "CAST(CAST(value AS DECIMAL(12,2)) * 100"
                        " AS BIGINT)"
                    )
                ).cast("bigint").alias("value_cents"),
                F.countDistinct("user_id").cast("bigint").alias("n_users"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "stream_jsonl_sink_roundtrip",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
            AS BIGINT) AS value_cents,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
""",
)(stream_jsonl_sink_roundtrip)


def stream_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_holt_forecast``: per-type Holt state
    (level, trend in centi-units, plus the PENDING day's partial sum)
    maintained as keyed streaming state. Completed days fold into the
    recurrence exactly as the batch aggregate() does; the still-open
    day rides the state as (day, partial-sum) so a micro-batch
    boundary cutting through a day is invisible — the second chunk's
    rows continue the same pending day before it folds. Emissions are
    SPECULATIVE closes (state plus the pending day folded as-is),
    tagged with a per-key emit_seq so the drain's max_by picks each
    key's final emission, by which point every day is complete — the
    hash gate then proves streamed Holt == batch Holt against the SAME
    oracle. The two chunks split at a MID-DAY cutoff specifically to
    force the cross-batch pending-day path.

    The closure inlines the fold (Python ints: // floors, matching
    the batch floor(double/2) for all magnitudes here) — module
    references do not survive pickling to workers launched outside
    the repo."""
    from smart_meter_data_pipeline_spark.sources.readers import load_table

    workdir = tempfile.mkdtemp(prefix="smart_meter_holtstream_")
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "ts", "event_id", "event_type", "value"
        )
        # mid-day cutoff: day 2024-01-16 spans both micro-batches
        mid = F.lit("2024-01-16 12:00:00").cast("timestamp")
        ev.filter(F.col("ts") < mid).coalesce(1).write.parquet(
            os.path.join(workdir, "chunk_0")
        )
        ev.filter(F.col("ts") >= mid).coalesce(1).write.parquet(
            os.path.join(workdir, "chunk_1")
        )
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(workdir, "*"))
        )

        out_schema = T.StructType(
            [
                T.StructField("event_type", T.StringType()),
                T.StructField("emit_seq", T.LongType()),
                T.StructField("n_days", T.LongType()),
                T.StructField("level_centi", T.LongType()),
                T.StructField("trend_centi", T.LongType()),
            ]
        )
        state_schema = T.StructType(
            [
                T.StructField("emit_seq", T.LongType()),
                T.StructField("n_done", T.LongType()),
                T.StructField("level", T.LongType()),
                T.StructField("trend", T.LongType()),
                T.StructField("pend_day", T.LongType()),
                T.StructField("pend_sum", T.LongType()),
            ]
        )

        def _fn(key, pdfs, state):
            import pandas as pd

            if state.exists:
                seq, n_done, level, trend, pend_day, pend_sum = state.get
            else:
                seq, n_done, level, trend = 0, 0, 0, 0
                pend_day, pend_sum = -1, 0

            def fold(nd, lv, tr, obs):
                # day fold: seed on the first day, halve after
                if nd == 0:
                    return 1, obs, 0
                l2 = (obs + lv + tr) // 2
                return nd + 1, l2, (l2 - lv + tr) // 2

            pdf = pd.concat(list(pdfs), ignore_index=True)
            pdf = pdf.sort_values(["ts", "event_id"])
            days = (pdf["ts"].astype("int64") // (86400 * 10**9)).tolist()
            centi = (
                (pdf["value"] * 100).round().astype("int64").tolist()
            )
            for d, c in zip(days, centi):
                if d != pend_day:
                    if pend_day >= 0:
                        n_done, level, trend = fold(
                            n_done, level, trend, pend_sum
                        )
                    pend_day, pend_sum = d, 0
                pend_sum += c
            seq += 1
            state.update((seq, n_done, level, trend, pend_day, pend_sum))
            # speculative close of the pending day for this emission
            e_n, e_l, e_t = fold(n_done, level, trend, pend_sum)
            yield pd.DataFrame(
                {
                    "event_type": [key[0]],
                    "emit_seq": [seq],
                    "n_days": [e_n],
                    "level_centi": [e_l],
                    "trend_centi": [e_t],
                }
            )

        sink = f"stream_holt_{uuid.uuid4().hex[:8]}"
        q = (
            stream.groupBy("event_type")
            .applyInPandasWithState(
                _fn,
                out_schema,
                state_schema,
                "append",
                GroupStateTimeout.NoTimeout,
            )
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        feed = spark.table(sink)
        final = feed.groupBy("event_type").agg(
            F.expr(
                "max_by(struct(n_days, level_centi, trend_centi),"
                " emit_seq)"
            ).alias("s")
        )
        return final.select(
            "event_type",
            F.col("s.n_days").cast("bigint").alias("n_days"),
            F.col("s.level_centi").cast("bigint").alias("level_centi"),
            F.col("s.trend_centi").cast("bigint").alias("trend_centi"),
            (F.col("s.level_centi") + F.col("s.trend_centi"))
            .cast("bigint")
            .alias("forecast_centi"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _register_stream_holt() -> None:
    from smart_meter_data_pipeline_spark.plans.registry import ORACLES

    register("stream_holt_forecast", ORACLES["events_holt_forecast"])(
        stream_holt_forecast
    )


_register_stream_holt()


def stream_hll_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_hll_sliding_distinct``: the DAILY
    HLL register tables maintained as keyed streaming state (key =
    event day, value = exactly 64 int registers — the bounded-state
    rolling-audience store; production evicts days older than
    watermark − window, here days stay within the 30-day test
    horizon), drained and composed into the trailing-7-day distinct
    estimate batch-side. The input splits into two chunks at a
    MID-DAY cutoff so one day's registers MUST merge across batches —
    the monotone-max drain (max per day × bucket over emissions) is
    what the hash gate certifies against the batch twin's oracle,
    exact WAU audit included.

    The closure inlines the md5/rho arithmetic — module references do
    not survive pickling to workers launched outside the repo."""
    from smart_meter_data_pipeline_spark.sources.readers import load_table

    workdir = tempfile.mkdtemp(prefix="smart_meter_hll_sl_")
    try:
        ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
        mid = F.lit("2024-01-16 12:00:00").cast("timestamp")
        ev.filter(F.col("ts") < mid).coalesce(1).write.parquet(
            os.path.join(workdir, "chunk_0")
        )
        ev.filter(F.col("ts") >= mid).coalesce(1).write.parquet(
            os.path.join(workdir, "chunk_1")
        )
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(workdir, "*"))
        )

        out_schema = T.StructType(
            [
                T.StructField("day", T.DateType()),
                T.StructField("bucket", T.IntegerType()),
                T.StructField("register", T.IntegerType()),
            ]
        )
        state_schema = T.StructType(
            [T.StructField("regs", T.ArrayType(T.IntegerType()))]
        )

        def _fn(key, pdfs, state):
            import hashlib

            import pandas as pd

            regs = list(state.get[0]) if state.exists else [0] * 64
            pdf = pd.concat(list(pdfs), ignore_index=True)
            for uid in pdf["user_id"]:
                hh = hashlib.md5(str(int(uid)).encode()).hexdigest()
                bucket = (int(hh[0], 16) * 16 + int(hh[1], 16)) % 64
                rho = 33
                for i in range(8):
                    v = int(hh[2 + i], 16)
                    if v:
                        rho = i * 4 + 1 + (4 - v.bit_length())
                        break
                if rho > regs[bucket]:
                    regs[bucket] = rho
            state.update((regs,))
            yield pd.DataFrame(
                {
                    "day": key[0],
                    "bucket": [b for b, r in enumerate(regs) if r > 0],
                    "register": [r for r in regs if r > 0],
                }
            )

        sink = f"stream_hll_sl_{uuid.uuid4().hex[:8]}"
        q = (
            stream.withColumn("day", F.to_date("ts"))
            .groupBy("day")
            .applyInPandasWithState(
                _fn,
                out_schema,
                state_schema,
                "append",
                GroupStateTimeout.NoTimeout,
            )
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        daily = (
            spark.table(sink)
            .groupBy("day", "bucket")
            .agg(F.max("register").alias("register"))
        )
        # batch-side sliding composition — identical shape to the
        # batch twin (operators/stats_sketch.py)
        lo, hi = "DATE'2024-01-07'", "DATE'2024-01-30'"
        win = (
            daily.select(
                F.explode(
                    F.sequence(F.col("day"), F.date_add("day", 6))
                ).alias("window_day"),
                "bucket",
                "register",
            )
            .filter(F.expr(f"window_day BETWEEN {lo} AND {hi}"))
            .groupBy("window_day", "bucket")
            .agg(F.max("register").alias("register"))
        )
        sums = win.groupBy("window_day").agg(
            F.sum(
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT),"
                    " CAST(33 - register AS INT))"
                )
            ).alias("ssum_hit"),
            F.count(F.lit(1)).alias("n_hit"),
        )
        full_expr = (
            "ssum_hit + (64 - n_hit) * shiftleft(CAST(1 AS BIGINT), 33)"
        )
        est_expr = (
            "CAST(0.709 AS DOUBLE) * 4096 * 8589934592"
            f" / CAST({full_expr} AS DOUBLE)"
        )
        exact = (
            ev.select(F.to_date("ts").alias("day"), "user_id")
            .distinct()
            .select(
                F.explode(
                    F.sequence(F.col("day"), F.date_add("day", 6))
                ).alias("window_day"),
                "user_id",
            )
            .filter(F.expr(f"window_day BETWEEN {lo} AND {hi}"))
            .groupBy("window_day")
            .agg(F.countDistinct("user_id").alias("exact_users"))
        )
        return (
            sums.join(exact, "window_day")
            .select(
                "window_day",
                F.expr(full_expr).cast("bigint").alias("ssum"),
                F.round(F.expr(est_expr), 4).alias("est_users"),
                F.col("exact_users").cast("bigint").alias("exact_users"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _register_stream_hll_sliding() -> None:
    # the batch twin's oracle registers on stats_sketch import — pull
    # it in explicitly so THIS module is import-order independent
    from smart_meter_data_pipeline_spark.operators import (  # noqa: F401
        stats_sketch as _sk,
    )
    from smart_meter_data_pipeline_spark.plans.registry import ORACLES

    register(
        "stream_hll_sliding_distinct",
        ORACLES["events_hll_sliding_distinct"],
    )(stream_hll_sliding_distinct)


_register_stream_hll_sliding()


def stream_manifest_cdc_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming FROM a manifest table (the Delta table-as-source
    feature) with checkpoint-resumed incremental reads: commit numbers
    are the offsets, so a second availableNow run against the SAME
    checkpoint delivers exactly the commits that landed since the
    first — proven here by draining after append #1, appending #2,
    draining again, and asserting run 2 delivered ONLY the delta
    before hashing the union against the full generator oracle.
    Exactly-once across restarts comes from the offset ledger being
    the immutable commit log itself."""
    from smart_meter_data_pipeline_spark.operators.meter_pipeline import (
        gen_meter_readings,
    )
    from smart_meter_data_pipeline_spark.sources.manifest import (
        ManifestTable,
    )
    from smart_meter_data_pipeline_spark.sources.manifest_cdc_source import (
        make_manifest_cdc_datasource,
    )

    spark.dataSource.register(make_manifest_cdc_datasource())
    workdir = tempfile.mkdtemp(prefix="manifest_cdc_q_")
    try:
        t = ManifestTable(os.path.join(workdir, "fact"))
        readings = gen_meter_readings(spark)
        t.idempotent_append(
            spark, readings.filter(F.col("meter_id") % 2 == 0)
        )
        ckpt = os.path.join(workdir, "ckpt")
        sink_dir = os.path.join(workdir, "sink")

        def drain() -> None:
            q = (
                spark.readStream.format("manifest_cdc")
                .option("path", t.table_dir)
                .load()
                .writeStream.format("parquet")
                .option("path", sink_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        drain()
        n1 = spark.read.parquet(sink_dir).count()
        n_even = readings.filter(F.col("meter_id") % 2 == 0).count()
        if n1 != n_even:
            raise AssertionError(f"run 1 drained {n1}, wanted {n_even}")

        t.idempotent_append(
            spark, readings.filter(F.col("meter_id") % 2 == 1)
        )
        drain()  # SAME checkpoint: resumes from the committed offset
        out = spark.read.parquet(sink_dir)
        n2 = out.count()
        n_all = readings.count()
        if n2 != n_all:
            raise AssertionError(
                f"checkpoint resume left {n2} rows in the sink, "
                f"wanted {n_all} (delta-only delivery, no replay)"
            )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _register_manifest_cdc() -> None:
    from smart_meter_data_pipeline_spark.plans.registry import ORACLES

    register(
        "stream_manifest_cdc_read", ORACLES["manifest_asof_read"]
    )(stream_manifest_cdc_read)


_register_manifest_cdc()


def stream_grid_ramp_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``meter_grid_ramp_rates``: per-zone
    hour-over-hour net-load ramps computed as KEYED STREAMING STATE
    (last seen (hour, net) per zone — the cross-batch LAG), with the
    zone×hour mart rows arriving in two chunks cut MID-DAY so one
    zone's ramp at the cut must bridge micro-batches. The drained
    per-transition ramps reduce batch-side to the same per-zone
    max-rise/max-fall report and hash against the batch twin's
    oracle. This is the grid-operator alerting path: ramp limits are
    monitored ON the stream, not recomputed from the mart after the
    fact.

    Closure rule: the per-group function touches only pandas (state
    carries the last hour as epoch micros + the last net kWh)."""
    from smart_meter_data_pipeline_spark.operators.meter_queries import (
        meter_grid_load_q,
    )

    workdir = tempfile.mkdtemp(prefix="smart_meter_ramp_")
    try:
        grid = meter_grid_load_q(spark, sf_dir).select(
            "grid_zone_id",
            "zone_name",
            "load_hour",
            F.col("total_net_consumption_kwh").alias("net_kwh"),
        )
        cut = F.lit("2024-01-01 12:00:00").cast("timestamp")
        grid.filter(F.col("load_hour") < cut).coalesce(1).write.parquet(
            os.path.join(workdir, "chunk_0")
        )
        grid.filter(F.col("load_hour") >= cut).coalesce(1).write.parquet(
            os.path.join(workdir, "chunk_1")
        )
        stream = (
            spark.readStream.schema(grid.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(workdir, "*"))
        )

        out_schema = T.StructType(
            [
                T.StructField("grid_zone_id", T.IntegerType()),
                T.StructField("zone_name", T.StringType()),
                T.StructField("load_hour", T.TimestampType()),
                T.StructField("ramp", T.DoubleType()),
            ]
        )
        state_schema = T.StructType(
            [
                T.StructField("last_us", T.LongType()),
                T.StructField("last_net", T.DoubleType()),
            ]
        )

        def _fn(key, pdfs, state):
            import pandas as pd

            pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
                "load_hour"
            )
            last_us, last_net = (
                state.get if state.exists else (None, None)
            )
            out = []
            for _, row in pdf.iterrows():
                us = int(row["load_hour"].value // 1000)
                net = float(row["net_kwh"])
                if last_us is not None:
                    out.append(
                        (
                            int(key[0]),
                            row["zone_name"],
                            row["load_hour"],
                            net - last_net,
                        )
                    )
                last_us, last_net = us, net
            state.update((last_us, last_net))
            yield pd.DataFrame(
                out,
                columns=["grid_zone_id", "zone_name", "load_hour", "ramp"],
            )

        sink = f"stream_ramp_{uuid.uuid4().hex[:8]}"
        q = (
            stream.groupBy("grid_zone_id")
            .applyInPandasWithState(
                _fn,
                out_schema,
                state_schema,
                "append",
                GroupStateTimeout.NoTimeout,
            )
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        ramps = spark.table(sink)
        return (
            ramps.groupBy("grid_zone_id", "zone_name")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_ramps"),
                F.max("ramp").alias("max_ramp_up_kwh"),
                F.max(
                    F.struct(
                        F.col("ramp").alias("r"),
                        F.col("load_hour").alias("h"),
                    )
                )["h"].alias("ramp_up_hour"),
                F.min("ramp").alias("max_ramp_down_kwh"),
                F.min(
                    F.struct(
                        F.col("ramp").alias("r"),
                        F.col("load_hour").alias("h"),
                    )
                )["h"].alias("ramp_down_hour"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _register_stream_grid_ramp() -> None:
    from smart_meter_data_pipeline_spark.operators import (  # noqa: F401
        meter_queries as _mq,
    )
    from smart_meter_data_pipeline_spark.plans.registry import ORACLES

    register(
        "stream_grid_ramp_rates", ORACLES["meter_grid_ramp_rates"]
    )(stream_grid_ramp_rates)


_register_stream_grid_ramp()


def stream_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming uniform sample via distributed bottom-k-by-hash (see
    :func:`~..streaming.stateful.bottomk_sample_state`): two
    time-ordered deliveries force the per-shard reservoirs to persist
    across micro-batches; the drain keeps each shard's final snapshot
    and merges the global bottom-k batch-side. Exactly reproducible —
    the fully drained stream hash-equals the batch ``ORDER BY
    md5(event_id) LIMIT k`` oracle, which a random-swap reservoir
    could never do."""
    from smart_meter_data_pipeline_spark.sources.readers import load_table
    from smart_meter_data_pipeline_spark.streaming.stateful import (
        SAMPLE_K,
        bottomk_sample_state,
    )

    workdir = tempfile.mkdtemp(prefix="smart_meter_bksample_")
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts"
        )
        mid = F.lit("2024-01-16 00:00:00").cast("timestamp")
        ev.filter(F.col("ts") < mid).coalesce(1).write.parquet(
            os.path.join(workdir, "chunk_0")
        )
        ev.filter(F.col("ts") >= mid).coalesce(1).write.parquet(
            os.path.join(workdir, "chunk_1")
        )
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(workdir, "*"))
        )
        sink = f"bksample_{uuid.uuid4().hex[:8]}"
        q = (
            bottomk_sample_state(stream)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        from pyspark.sql import Window

        snaps = spark.table(sink)
        latest = snaps.withColumn(
            "max_seq",
            F.max("seq").over(Window.partitionBy("shard")),
        ).filter(F.col("seq") == F.col("max_seq"))
        ranked = latest.withColumn(
            "sample_rank",
            F.row_number()
            .over(Window.orderBy("h", "event_id"))
            .cast("int"),
        )
        return (
            ranked.filter(F.col("sample_rank") <= SAMPLE_K)
            .select("sample_rank", "event_id", "user_id", "h")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _register_bottomk_sample() -> None:
    from smart_meter_data_pipeline_spark.streaming.stateful import SAMPLE_K

    register(
        "stream_bottomk_sample",
        f"""
WITH hashed AS (
  SELECT event_id, user_id, md5(CAST(event_id AS VARCHAR)) AS h
  FROM events
),
ranked AS (
  SELECT event_id, user_id, h,
         ROW_NUMBER() OVER (ORDER BY h, event_id) AS rk
  FROM hashed
)
SELECT CAST(rk AS INT) AS sample_rank, event_id, user_id, h
FROM ranked WHERE rk <= {SAMPLE_K}
""",
    )(stream_bottomk_sample)


_register_bottomk_sample()


def stream_dr_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_dr_baseline``: the (day, hour) load
    rollup runs as a streaming aggregation in complete mode — state is
    days×24 rows BY CONSTRUCTION (the calendar bounds it, the
    ``stream_hist_quantiles`` argument), nothing to evict — and the
    10-in-10 ranking/settlement math runs batch over the drained
    rollup through the SAME ``dr_settlement`` the batch operator
    uses (shared code, round-12 advice — the twins cannot drift). In
    production the stream maintains the rolling baseline table the
    settlement job reads the morning after an event day; a fully
    drained stream hash-equals the batch oracle."""
    from smart_meter_data_pipeline_spark.operators.events_pipeline import (
        dr_settlement,
    )

    ev = _events_stream(spark, sf_dir)
    daily = ev.groupBy(
        F.to_date("ts").alias("d"), F.hour("ts").alias("hr")
    ).agg(F.sum(F.col("value").cast("decimal(25,6)")).alias("load_dec"))
    sink = f"stream_drb_{uuid.uuid4().hex[:8]}"
    q = (
        daily.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rolled = spark.table(sink).select(
        "d", "hr", F.col("load_dec").cast("double").alias("load")
    )
    return dr_settlement(rolled).localCheckpoint(eager=True)


def _register_stream_dr_baseline() -> None:
    from smart_meter_data_pipeline_spark.plans.registry import ORACLES

    register("stream_dr_baseline", ORACLES["events_dr_baseline"])(
        stream_dr_baseline
    )


_register_stream_dr_baseline()


def stream_text_index_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming INVERTED-TEXT-INDEX maintenance: the documents table
    arrives as a two-chunk file stream (maxFilesPerTrigger=1, so the drain runs
    two micro-batches), each batch lands in the manifest table
    through the pk-idempotent sink and is followed by an INCREMENTAL
    ``refresh_text_index`` (only that batch's files tokenize; posting
    appends are pk-idempotent so a replay re-lands nothing; a crash
    between commit and refresh leaves the index stale, which the
    search serves correctly by reading unindexed files
    unconditionally). After the drain the index must be FRESH (zero
    unindexed files, asserted), BOTH refreshes must have indexed
    files (incrementality, asserted), and a two-token ALL search
    served through the index hash-equals the relational token filter
    — the ingestion story for a 100 TB corpus whose full-text index
    keeps up with arrival instead of being rebuilt nightly."""
    from smart_meter_data_pipeline_spark.sources.index import (
        refresh_text_index,
        text_index_search,
    )
    from smart_meter_data_pipeline_spark.sources.manifest import (
        ManifestTable,
    )
    from smart_meter_data_pipeline_spark.sources.readers import load_table

    workdir = tempfile.mkdtemp(prefix="stream_text_idx_")
    src = os.path.join(workdir, "docs_src")
    ckpt = os.path.join(workdir, "ckpt")
    try:
        docs = load_table(spark, sf_dir, "documents")
        docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
            os.path.join(src, "c1")
        )
        docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
            os.path.join(src, "c2")
        )
        t = ManifestTable(os.path.join(workdir, "docs"))
        refreshes: list[dict] = []

        def _land(batch_df, epoch_id):
            t.idempotent_append(
                spark,
                batch_df,
                pk=["doc_id"],
                cluster_by=["doc_id"],
                cluster_partitions=4,
            )
            refreshes.append(
                refresh_text_index(
                    t, spark, "text", posting_partitions=4
                )
            )

        physical = spark.read.parquet(os.path.join(src, "c1")).schema
        stream = (
            spark.readStream.schema(physical)
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(src, "*"))
        )
        q = (
            stream.writeStream.foreachBatch(_land)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        indexed_per_batch = [r["files_indexed"] for r in refreshes]
        if len(refreshes) < 2 or min(indexed_per_batch) == 0:
            raise AssertionError(
                f"refresh was not incremental per batch: {refreshes}"
            )
        out, rep = text_index_search(
            t, spark, "text", ["dup", "vector"], mode="all"
        )
        if rep["files_unindexed"] != 0:
            raise AssertionError(
                f"index stale after full drain: {rep}"
            )
        return out.select(
            "doc_id", "text", "lang", "source", "n_chars"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _register_stream_text_index() -> None:
    # the oracle is registered by operators/text.py — import it first
    # so this module loads standalone (a test importing stream_queries
    # directly must not depend on registry load order)
    from smart_meter_data_pipeline_spark.operators import (  # noqa: F401
        text,
    )
    from smart_meter_data_pipeline_spark.plans.registry import ORACLES

    register(
        "stream_text_index_maintenance",
        ORACLES["corpus_text_index_search"],
    )(stream_text_index_maintenance)


_register_stream_text_index()


def stream_catalog_restatement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming multi-table MUTATIONS (round 13): each micro-batch of
    quality CORRECTIONS (meters ≡2 mod 5 re-flagged 'C') applies a
    fact RESTATEMENT and the matching dimension update through ONE
    ``CatalogTxn`` — ``txn.upsert("fact") + txn.upsert("dim_meters")
    + commit()`` per batch (sources/catalog.py, the round-13
    beyond-appends scope). The correction feed is delivered TWICE
    (full redelivery chunk): the second application matches the
    already-corrected rows and replaces them with identical values —
    upsert idempotence is what makes at-least-once delivery safe for
    mutations, where the append sinks use anti-join dedup. In-query
    asserts: every post-seed catalog commit touched fact and
    dim_meters TOGETHER (never one alone — the drift the reference's
    per-batch Postgres txn rules out, consumer/meter_consumer.py:
    132-135); the fact row count never grew (corrections matched,
    nothing inserted); the dim flags exactly the corrected meters.
    The hash is fact ⋈ dim at the final catalog state."""
    from smart_meter_data_pipeline_spark.sources.catalog import Catalog

    workdir = tempfile.mkdtemp(prefix="smart_meter_catrestate_")
    src = os.path.join(workdir, "corrections")
    ckpt = os.path.join(workdir, "ckpt")
    os.makedirs(src)
    try:
        readings = gen_meter_readings(spark)
        n_day = readings.count()
        cat = Catalog(os.path.join(workdir, "cat"))
        dim = (
            readings.select("meter_id")
            .distinct()
            .withColumn("corrected", F.lit(0).cast("int"))
        )
        seed = cat.txn()
        seed.append(spark, "fact", readings)
        seed.append(spark, "dim_meters", dim, pk=["meter_id"])
        seed.commit()
        n_seed_commits = len(cat.numbered_snapshot())

        corrections = readings.filter(F.col("meter_id") % 5 == 2).withColumn(
            "status", F.lit("C")
        )
        for chunk in ("c1", "c1_redelivery"):
            corrections.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(src, chunk)
            )

        def apply_batch(bdf, _epoch) -> None:
            if bdf.isEmpty():
                return
            sp = bdf.sparkSession
            txn = cat.txn()
            txn.upsert(sp, "fact", bdf)
            dim_upd = (
                bdf.select("meter_id")
                .distinct()
                .withColumn("corrected", F.lit(1).cast("int"))
            )
            txn.upsert(sp, "dim_meters", dim_upd, pk=["meter_id"])
            txn.commit()

        q = (
            spark.readStream.schema(corrections.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*"))
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        numbered = cat.numbered_snapshot()
        if len(numbered) <= n_seed_commits:
            raise AssertionError("no correction batch committed")
        for _, c in numbered[n_seed_commits:]:
            touched = set(c.get("tables", {}))
            if touched != {"fact", "dim_meters"}:
                raise AssertionError(
                    f"non-atomic correction commit touched {touched}"
                )
        fact = cat.read(spark, "fact")
        if fact.count() != n_day:
            raise AssertionError(
                "correction upserts inserted instead of restating"
            )
        final = fact.join(
            cat.read(spark, "dim_meters"), "meter_id"
        ).select(
            "reading_timestamp",
            "meter_id",
            "reading_consumption_milliwatts",
            "status",
            "corrected",
        )
        return final.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _catalog_restatement_oracle() -> str:
    return f"""WITH {_readings_cte()}
SELECT reading_timestamp, meter_id, reading_consumption_milliwatts,
       CASE WHEN meter_id % 5 = 2 THEN 'C' ELSE status END AS status,
       CAST(CASE WHEN meter_id % 5 = 2 THEN 1 ELSE 0 END AS INT)
         AS corrected
FROM readings"""


register(
    "stream_catalog_restatement", _catalog_restatement_oracle()
)(stream_catalog_restatement)
