"""Structured Streaming tests: checkpointed ingest with redelivery
across micro-batches, progress listener, and stream-vs-batch parity."""

from __future__ import annotations

import pytest

import os
import time

from pyspark.sql import functions as F

from smart_meter_data_pipeline_spark.operators.meter_pipeline import (
    gen_meter_readings,
)
from smart_meter_data_pipeline_spark.streaming.ingest_stream import (
    ProgressRecorder,
    start_ingest_stream,
)
from smart_meter_data_pipeline_spark.streaming.stream_queries import (
    _wire_format,
    stream_hourly_events,
)


def _eventually(predicate, timeout: float = 20.0, interval: float = 0.2):
    """StreamingQueryListener events are delivered on the py4j callback
    thread ASYNCHRONOUSLY — ``awaitTermination`` returning does not
    guarantee the Python listener has seen the last batch's progress
    yet. Poll briefly before asserting on listener state (the r14 full
    suite caught exactly this race once in ~3 green runs)."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if predicate():
            return True
        time.sleep(interval)
    return predicate()


def test_stream_ingest_redelivery(spark, tmp_path):
    """Duplicate deliveries split across micro-batches must land
    exactly once (T1), and the listener must observe progress (T7)."""
    src = tmp_path / "msgs"
    target = str(tmp_path / "fact")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    readings = gen_meter_readings(spark, n_meters=20, n_ticks=8)
    wire = _wire_format(readings).select("value")
    wire.coalesce(2).write.mode("overwrite").text(str(src / "d1"))
    wire.coalesce(2).write.mode("overwrite").text(str(src / "d2"))

    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    try:
        q = start_ingest_stream(
            spark, str(src / "*" / "*.txt"), target, ckpt, available_now=True
        )
        q.awaitTermination()
    finally:
        spark.streams.removeListener(rec)

    fact = spark.read.parquet(target)
    assert fact.count() == 20 * 8  # duplicates dropped
    assert fact.select("reading_timestamp", "meter_id").distinct().count() == 20 * 8
    _eventually(
        lambda: sum(p["numInputRows"] for p in rec.progress) == 2 * 20 * 8
    )
    assert sum(p["numInputRows"] for p in rec.progress) == 2 * 20 * 8


def test_stream_resume_from_checkpoint(spark, tmp_path):
    """New files after a stop are picked up by a restarted query from
    the same checkpoint; already-processed files are not reprocessed
    (T8 graceful-shutdown / restart semantics)."""
    src = tmp_path / "msgs"
    target = str(tmp_path / "fact")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    r1 = gen_meter_readings(spark, n_meters=10, n_ticks=4)
    _wire_format(r1).select("value").coalesce(1).write.text(str(src / "d1"))
    q = start_ingest_stream(spark, str(src / "*" / "*.txt"), target, ckpt)
    q.awaitTermination()
    assert spark.read.parquet(target).count() == 40

    r2 = gen_meter_readings(spark, n_meters=10, n_ticks=8)  # superset: 4 new ticks each
    _wire_format(r2).select("value").coalesce(1).write.text(str(src / "d2"))
    q2 = start_ingest_stream(spark, str(src / "*" / "*.txt"), target, ckpt)
    q2.awaitTermination()
    fact = spark.read.parquet(target)
    assert fact.count() == 80
    assert fact.select("reading_timestamp", "meter_id").distinct().count() == 80


def test_stream_watermark_drops_late_rows(spark, tmp_path):
    """T4: rows arriving after the watermark passed their window are
    dropped; finalized windows contain only on-time data. Two files,
    one micro-batch each (maxFilesPerTrigger=1): file 1 advances the
    watermark to 11:00; file 2's 09:10 row is then late (its window
    closed) while its 11:40 row is accepted into open state."""
    import json

    src = tmp_path / "late"
    os.makedirs(src)

    def write_file(name, rows, mtime):
        p = src / name
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (mtime, mtime))

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_available() -> None:
        # Separate availableNow runs against the SAME checkpoint: the
        # watermark persists across restarts, so the second run starts
        # with the watermark the first run established.
        stream = spark.readStream.schema("ts timestamp, v double").json(
            str(src)
        )
        agg = (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write_file(
        "f1.json",
        [
            {"ts": "2024-01-01 10:05:00", "v": 1.0},
            {"ts": "2024-01-01 10:15:00", "v": 2.0},
            {"ts": "2024-01-01 11:30:00", "v": 3.0},
        ],
        1_000_000_000,
    )
    run_available()  # watermark after this run: 11:30 − 30min = 11:00

    write_file(
        "f2.json",
        [
            {"ts": "2024-01-01 09:10:00", "v": 100.0},  # late: window closed
            {"ts": "2024-01-01 11:40:00", "v": 4.0},  # on time: open state
        ],
        1_000_000_100,
    )
    run_available()

    out = {
        r["w"]["start"].hour: (r["n"], r["sv"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert 9 not in out  # late row's window was already closed → dropped
    assert out[10] == (2, 3.0)  # finalized with only the on-time rows
    assert 11 not in out  # still open (watermark 11:10 < 12:00), not emitted


def test_stream_hourly_matches_batch(spark, sf_dir):
    """The streaming windowed aggregation equals the batch GROUP BY."""
    streamed = stream_hourly_events(spark, sf_dir)
    from smart_meter_data_pipeline_spark.operators.common import dsum
    from smart_meter_data_pipeline_spark.sources.readers import load_table

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("load_hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
    )
    assert streamed.count() == batch.count()
    assert streamed.exceptAll(batch).count() == 0


def test_stream_quarantine_and_lag_report(spark, tmp_path):
    """Invalid messages land in the quarantine table (not silently
    dropped), per-batch observed metrics count consumed/rejected, and
    the listener derives the reference monitor's lag report (backlog /
    pct_consumed — monitor/kafka_monitor.py:117-167): drained stream ⇒
    backlog 0, 100% consumed."""
    import json

    src = tmp_path / "msgs"
    target = str(tmp_path / "fact")
    quarantine = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src / "d1")

    good = {
        "meter_id": 7,
        "reading_timestamp": "2024-01-01T00:15:00",
        "reading_consumption_milliwatts": 1000,
        "status": "V",
    }
    lines = [
        json.dumps(good),
        json.dumps(dict(good, reading_timestamp="2024-01-01T00:30:00")),
        "{broken json",
        json.dumps(dict(good, status="X")),
    ]
    with open(src / "d1" / "m.txt", "w") as f:
        f.write("\n".join(lines) + "\n")

    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    try:
        q = start_ingest_stream(
            spark,
            str(src / "*" / "*.txt"),
            target,
            ckpt,
            available_now=True,
            quarantine_target=quarantine,
        )
        q.awaitTermination()
    finally:
        spark.streams.removeListener(rec)

    assert spark.read.parquet(target).count() == 2
    qrows = spark.read.parquet(quarantine)
    assert qrows.count() == 2
    reasons = sorted(r["reject_reason"] for r in qrows.collect())
    assert reasons == ["bad_status", "malformed_json"]
    assert set(qrows.columns) >= {"reject_reason", "batch_id"}

    def _consumed() -> int:
        return sum(
            (p["observedMetrics"].get("ingest") or {}).get("consumed", 0)
            for p in rec.progress
        )

    _eventually(lambda: _consumed() >= 4)
    report = rec.lag_report()
    assert report["backlog"] == 0
    assert report["pct_consumed"] == 100.0
    assert report["sources"], "per-source detail expected"
    observed = [
        p["observedMetrics"].get("ingest")
        for p in rec.progress
        if p["observedMetrics"].get("ingest")
    ]
    assert sum(m["consumed"] for m in observed) == 4
    assert sum(m["rejected"] for m in observed) == 2


def test_stream_foreachbatch_manifest_sink_exactly_once(spark, tmp_path):
    """The object-store sink under Structured Streaming: duplicate
    deliveries split across micro-batches drain through foreachBatch →
    manifest commit log and land exactly once — the same T1 guarantee
    as the flock sink, but via put-if-absent commits (the path a
    1000-executor S3 deployment uses). The commit log must show one
    commit per non-empty batch and no orphaned data files."""
    from smart_meter_data_pipeline_spark.sources.manifest import ManifestTable

    src = tmp_path / "msgs"
    target = str(tmp_path / "fact_manifest")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    readings = gen_meter_readings(spark, n_meters=20, n_ticks=8)
    wire = _wire_format(readings).select("value")
    wire.coalesce(2).write.mode("overwrite").text(str(src / "d1"))
    wire.coalesce(2).write.mode("overwrite").text(str(src / "d2"))

    q = start_ingest_stream(
        spark, str(src / "*" / "*.txt"), target, ckpt,
        available_now=True, sink="manifest",
    )
    q.awaitTermination()

    t = ManifestTable(target)
    fact = t.read(spark)
    assert fact.count() == 20 * 8  # duplicates dropped
    assert (
        fact.select("reading_timestamp", "meter_id").distinct().count()
        == 20 * 8
    )
    commits = t.snapshot()
    assert sum(c["count"] for c in commits) == 20 * 8
    # every staged data file is referenced by a commit (no orphans in
    # the happy path)
    committed = {f for c in commits for f in c["added"]}
    on_disk = set()
    for root, _dirs, files in os.walk(t.data_dir):
        for f in files:
            if f.endswith(".parquet"):
                rel = os.path.relpath(os.path.join(root, f), t.data_dir)
                on_disk.add(rel)
    assert on_disk == committed


def _write_deliveries(src, n_files: int, n_meters: int) -> None:
    """``n_files`` delivery files, file i holding tick i of every meter
    plus one malformed and one bad-status message."""
    import json

    os.makedirs(src)
    for i in range(n_files):
        ts = f"2024-01-01T{i:02d}:15:00"
        lines = [
            json.dumps(
                {
                    "meter_id": m,
                    "reading_timestamp": ts,
                    "reading_consumption_milliwatts": 1000 * i + m,
                    "status": "V",
                }
            )
            for m in range(1, n_meters + 1)
        ]
        lines += [
            "{broken json",
            json.dumps({"meter_id": 1, "reading_timestamp": ts, "status": "X"}),
        ]
        with open(src / f"f{i}.txt", "w") as f:
            f.write("\n".join(lines) + "\n")


@pytest.mark.parametrize("sink", ["lock", "manifest"])
def test_stream_replayed_batch_lands_facts_and_quarantine_once(
    spark, tmp_path, sink
):
    """A crash after a micro-batch's writes but before its checkpoint
    commit replays that batch on restart. Replaying it must leave the
    fact table and the quarantine table as they were. The crash is
    simulated by deleting the checkpoint's last commit file."""
    from smart_meter_data_pipeline_spark.sources.manifest import ManifestTable

    src = tmp_path / "msgs"
    target = str(tmp_path / "fact")
    quarantine = str(tmp_path / "quarantine")
    ckpt = tmp_path / "ckpt"
    _write_deliveries(src, n_files=8, n_meters=10)  # 4 files per batch

    def drain_and_count():
        start_ingest_stream(
            spark,
            str(src / "*.txt"),
            target,
            str(ckpt),
            quarantine_target=quarantine,
            sink=sink,
        ).awaitTermination()
        fact = (
            ManifestTable(target).read(spark)
            if sink == "manifest"
            else spark.read.parquet(target)
        )
        reasons = {
            r["reject_reason"]: r["count"]
            for r in spark.read.parquet(quarantine)
            .groupBy("reject_reason")
            .count()
            .collect()
        }
        return fact.count(), reasons

    first = drain_and_count()
    assert first == (80, {"malformed_json": 8, "bad_status": 8})
    assert sorted(os.listdir(ckpt / "commits")) == [".0.crc", ".1.crc", "0", "1"]
    os.remove(ckpt / "commits" / "1")
    os.remove(ckpt / "commits" / ".1.crc")
    assert drain_and_count() == first
    assert os.path.exists(ckpt / "commits" / "1")  # the batch ran again


def test_stream_manifest_sink_killed_between_stage_and_publish(
    spark, tmp_path, monkeypatch
):
    """The manifest sink dies after staging its first micro-batch's
    files and before publishing their commit. The restart from the
    same checkpoint replays that micro-batch, and the table ends
    exactly right: every distinct valid reading once, each quarantine
    reason counted once per rejected message, and the orphaned stage
    never visible to a read."""
    from pyspark.errors import StreamingQueryException

    from smart_meter_data_pipeline_spark.sources import manifest

    src = tmp_path / "msgs"
    target = str(tmp_path / "fact")
    quarantine = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt")
    _write_deliveries(src, n_files=8, n_meters=10)  # 4 files per batch
    # Redeliveries: file 0 repeats its own first reading, and file i of
    # the second micro-batch repeats the first reading of file i - 4.
    firsts = [
        (src / f"f{i}.txt").read_text().splitlines()[0] for i in range(4)
    ]
    for i in (0, 4, 5, 6, 7):
        with open(src / f"f{i}.txt", "a") as f:
            f.write(firsts[i % 4] + "\n")

    def drain():
        start_ingest_stream(
            spark,
            str(src / "*.txt"),
            target,
            ckpt,
            quarantine_target=quarantine,
            sink="manifest",
        ).awaitTermination()

    real_put = manifest._put_if_absent
    calls = []

    def dies_on_first_publish(path, payload):
        calls.append(path)
        if len(calls) == 1:
            raise RuntimeError("killed between stage and publish")
        return real_put(path, payload)

    monkeypatch.setattr(manifest, "_put_if_absent", dies_on_first_publish)
    with pytest.raises(StreamingQueryException, match="killed between"):
        drain()
    t = manifest.ManifestTable(target)
    assert t.snapshot() == []
    orphans = {
        os.path.relpath(os.path.join(d, f), t.data_dir)
        for d, _, files in os.walk(t.data_dir)
        for f in files
        if f.endswith(".parquet")
    }
    assert orphans  # staged, never published
    assert not os.path.exists(quarantine)

    drain()
    got = sorted(
        tuple(r)
        for r in t.read(spark)
        .select(
            F.hour("reading_timestamp"),
            "meter_id",
            "reading_consumption_milliwatts",
        )
        .collect()
    )
    assert got == [
        (i, m, 1000 * i + m) for i in range(8) for m in range(1, 11)
    ]
    commits = t.snapshot()
    assert sum(c["count"] for c in commits) == 80
    assert not orphans & {f for c in commits for f in c["added"]}
    reasons = {
        r["reject_reason"]: r["count"]
        for r in spark.read.parquet(quarantine)
        .groupBy("reject_reason")
        .count()
        .collect()
    }
    assert reasons == {"malformed_json": 8, "bad_status": 8}


@pytest.mark.parametrize("sink", ["lock", "manifest"])
def test_stream_killed_between_fact_commit_and_quarantine_write(
    spark, tmp_path, monkeypatch, sink
):
    """The sink commits the first micro-batch's facts, then dies before
    that batch's quarantine write. The restart from the same checkpoint
    replays the batch: its facts are already there and land no second
    time, and its rejects land once."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.readwriter import DataFrameWriter

    from smart_meter_data_pipeline_spark.sources.manifest import ManifestTable

    src = tmp_path / "msgs"
    target = str(tmp_path / "fact")
    quarantine = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt")
    _write_deliveries(src, n_files=8, n_meters=10)  # 4 files per batch

    def drain():
        start_ingest_stream(
            spark,
            str(src / "*.txt"),
            target,
            ckpt,
            quarantine_target=quarantine,
            sink=sink,
        ).awaitTermination()

    def landed():
        if sink == "manifest":
            return ManifestTable(target).read(spark)
        return spark.read.parquet(target)

    real_parquet = DataFrameWriter.parquet
    kills = []

    def dies_on_first_quarantine_write(self, path, *args, **kwargs):
        if path.startswith(quarantine) and not kills:
            kills.append(path)
            raise RuntimeError("killed before the quarantine write")
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", dies_on_first_quarantine_write)
    with pytest.raises(StreamingQueryException, match="killed before"):
        drain()
    assert landed().count() == 40  # the first batch's facts committed
    assert not os.path.exists(quarantine)

    drain()
    got = sorted(
        tuple(r)
        for r in landed()
        .select(
            F.hour("reading_timestamp"),
            "meter_id",
            "reading_consumption_milliwatts",
        )
        .collect()
    )
    assert got == [
        (i, m, 1000 * i + m) for i in range(8) for m in range(1, 11)
    ]
    reasons = {
        r["reject_reason"]: r["count"]
        for r in spark.read.parquet(quarantine)
        .groupBy("reject_reason")
        .count()
        .collect()
    }
    assert reasons == {"malformed_json": 8, "bad_status": 8}
    if sink == "manifest":
        assert sum(c["count"] for c in ManifestTable(target).snapshot()) == 80


def test_stream_lock_sink_killed_mid_write(spark, tmp_path, monkeypatch):
    """The lock sink dies partway through writing the first
    micro-batch: the even meters' rows are in the table, the odd ones
    are not, and the job raises. The restart from the same checkpoint
    replays the batch; the anti-join keeps the rows already written
    and lands the rest, each reading once, its rejects once, and the
    table lock is free again."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.readwriter import DataFrameWriter

    from smart_meter_data_pipeline_spark.sources.txn import table_lock

    src = tmp_path / "msgs"
    target = str(tmp_path / "fact")
    quarantine = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt")
    _write_deliveries(src, n_files=8, n_meters=10)  # 4 files per batch

    def drain():
        start_ingest_stream(
            spark,
            str(src / "*.txt"),
            target,
            ckpt,
            quarantine_target=quarantine,
            sink="lock",
        ).awaitTermination()

    real_parquet = DataFrameWriter.parquet
    kills = []

    def dies_mid_fact_write(self, path, *args, **kwargs):
        if path == target and not kills:
            kills.append(path)
            real_parquet(
                self._df.filter(F.col("meter_id") % 2 == 0)
                .write.mode("append")
                .partitionBy("reading_date"),
                path,
            )
            raise RuntimeError("killed mid-write")
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", dies_mid_fact_write)
    with pytest.raises(StreamingQueryException, match="killed mid-write"):
        drain()
    partial = spark.read.parquet(target)
    assert partial.count() == 20  # even meters of ticks 0-3
    assert partial.filter(F.col("meter_id") % 2 == 1).count() == 0
    assert not os.path.exists(quarantine)

    drain()
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(target)
        .select(
            F.hour("reading_timestamp"),
            "meter_id",
            "reading_consumption_milliwatts",
        )
        .collect()
    )
    assert got == [
        (i, m, 1000 * i + m) for i in range(8) for m in range(1, 11)
    ]
    reasons = {
        r["reject_reason"]: r["count"]
        for r in spark.read.parquet(quarantine)
        .groupBy("reject_reason")
        .count()
        .collect()
    }
    assert reasons == {"malformed_json": 8, "bad_status": 8}
    with table_lock(target, timeout_s=1.0):
        pass


@pytest.mark.parametrize("sink", ["lock", "manifest"])
def test_stream_stamps_one_arrived_at_per_micro_batch(spark, tmp_path, sink):
    """Every valid row of a micro-batch carries the same ``arrived_at``
    and the next micro-batch carries another, as the reference stamps
    each consumed batch once (consumer/meter_consumer.py:116). Each
    drain below takes one micro-batch of four files, ticks 0-3 and
    then ticks 4-7."""
    import json

    from smart_meter_data_pipeline_spark.sources.manifest import ManifestTable

    src = tmp_path / "msgs"
    target = str(tmp_path / "fact")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    for first_tick in (0, 4):
        for i in range(first_tick, first_tick + 4):
            lines = [
                json.dumps(
                    {
                        "meter_id": m,
                        "reading_timestamp": f"2024-01-01T{i:02d}:15:00",
                        "reading_consumption_milliwatts": 1000 * i + m,
                        "status": "V",
                    }
                )
                for m in range(1, 6)
            ]
            (src / f"f{i}.txt").write_text("\n".join(lines) + "\n")
        start_ingest_stream(
            spark, str(src / "*.txt"), target, ckpt, sink=sink
        ).awaitTermination()

    fact = (
        ManifestTable(target).read(spark)
        if sink == "manifest"
        else spark.read.parquet(target)
    )
    assert fact.count() == 40
    stamps = {
        r["second"]: r["stamps"]
        for r in fact.groupBy(
            (F.hour("reading_timestamp") >= 4).alias("second")
        )
        .agg(F.collect_set("arrived_at").alias("stamps"))
        .collect()
    }
    assert len(stamps[False]) == 1
    assert len(stamps[True]) == 1
    assert stamps[False] != stamps[True]


@pytest.mark.parametrize("sink", ["lock", "manifest"])
def test_stream_conflicting_payloads_for_one_key_land_once(
    spark, tmp_path, sink
):
    """One micro-batch holds two different payloads for one
    (reading_timestamp, meter_id) key. Exactly one row lands for the
    key, carrying one of the two payloads (which one is unspecified);
    a later micro-batch redelivering either payload lands nothing. On
    the manifest sink the commits' row counts sum to the distinct
    keys."""
    import json

    from smart_meter_data_pipeline_spark.sources.manifest import ManifestTable

    src = tmp_path / "msgs"
    target = str(tmp_path / "fact")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def message(meter: int, consumption: int) -> str:
        return json.dumps(
            {
                "meter_id": meter,
                "reading_timestamp": "2024-01-01T00:15:00",
                "reading_consumption_milliwatts": consumption,
                "status": "V",
            }
        )

    payloads = (1000, 2000)  # meter 1's two payloads for one key
    lines = [message(1, payloads[0])]
    lines += [message(m, 10 * m) for m in range(2, 6)]
    lines += [message(1, payloads[1])]
    (src / "f0.txt").write_text("\n".join(lines) + "\n")

    def drain():
        start_ingest_stream(
            spark, str(src / "*.txt"), target, ckpt, sink=sink
        ).awaitTermination()
        fact = (
            ManifestTable(target).read(spark)
            if sink == "manifest"
            else spark.read.parquet(target)
        )
        keys = fact.select("reading_timestamp", "meter_id").distinct().count()
        landed = [
            r["reading_consumption_milliwatts"]
            for r in fact.filter(F.col("meter_id") == 1).collect()
        ]
        return fact.count(), keys, landed

    n_rows, n_keys, landed = drain()
    assert n_rows == n_keys == 5
    assert len(landed) == 1 and landed[0] in payloads
    for i, consumption in enumerate(payloads):
        (src / f"redelivery{i}.txt").write_text(message(1, consumption) + "\n")
        assert drain() == (5, 5, landed)
    if sink == "manifest":
        assert sum(c["count"] for c in ManifestTable(target).snapshot()) == 5


def test_stream_rejects_unknown_sink(spark, tmp_path):
    """A mistyped sink fails before any query starts, instead of
    falling through to the lock sink."""
    active = len(spark.streams.active)
    with pytest.raises(ValueError, match="'lock', 'manifest'"):
        start_ingest_stream(
            spark,
            str(tmp_path / "nope" / "*.txt"),
            str(tmp_path / "t"),
            str(tmp_path / "c"),
            sink="manifets",
        )
    assert len(spark.streams.active) == active
    assert not os.path.exists(tmp_path / "t")
    assert not os.path.exists(tmp_path / "c")
