"""Ingest-path tests per FIXTURES.md §6: malformed JSON, missing
required fields, status defaulting, duplicate redelivery."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from smart_meter_data_pipeline_spark.sources import ingest


@pytest.fixture()
def tmp_target(tmp_path):
    return str(tmp_path / "fact")


def _messages_df(spark, payloads: list[str]):
    return ingest.parse_messages(
        spark.createDataFrame([(p,) for p in payloads], "value string")
    )


GOOD = {
    "meter_id": 1,
    "reading_timestamp": "2024-01-01T00:15:00",
    "reading_consumption_milliwatts": 1000,
    "reading_production_milliwatts": None,
    "status": "V",
}


def test_malformed_json_quarantined(spark, tmp_target):
    msgs = _messages_df(spark, [json.dumps(GOOD), "{not json", ""])
    stats = ingest.ingest_batch(spark, msgs, tmp_target)
    assert stats["written"] == 1
    assert stats["quarantined"] == 2


def test_missing_required_fields(spark, tmp_target):
    no_meter = {k: v for k, v in GOOD.items() if k != "meter_id"}
    no_ts = {k: v for k, v in GOOD.items() if k != "reading_timestamp"}
    msgs = _messages_df(
        spark, [json.dumps(GOOD), json.dumps(no_meter), json.dumps(no_ts)]
    )
    classified = ingest.classify(msgs)
    reasons = sorted(
        r["reject_reason"]
        for r in classified.filter(F.col("reject_reason").isNotNull()).collect()
    )
    assert reasons == ["missing_required", "missing_required"]


def test_status_defaults_to_v(spark):
    msg = {k: v for k, v in GOOD.items() if k != "status"}
    valid, _ = ingest.split_valid(ingest.classify(_messages_df(spark, [json.dumps(msg)])))
    row = valid.first()
    assert row["status"] == "V"
    assert row["arrived_at"] is not None


def test_check_constraint_violations(spark):
    neg = dict(GOOD, reading_consumption_milliwatts=-5)
    no_readings = dict(
        GOOD, reading_consumption_milliwatts=None, reading_production_milliwatts=None
    )
    bad_status = dict(GOOD, status="X")
    msgs = _messages_df(
        spark, [json.dumps(neg), json.dumps(no_readings), json.dumps(bad_status)]
    )
    reasons = sorted(
        r["reject_reason"] for r in ingest.classify(msgs).collect()
    )
    assert reasons == ["bad_status", "negative_reading", "no_reading"]


@pytest.mark.slow
def test_redelivery_idempotent(spark, tmp_target):
    """Writing the same batch twice (and overlapping supersets) leaves
    exactly one copy of each PK — the ON CONFLICT DO NOTHING contract."""
    batch1 = [json.dumps(dict(GOOD, meter_id=i)) for i in range(1, 6)]
    batch2 = [json.dumps(dict(GOOD, meter_id=i)) for i in range(3, 9)]  # overlap 3-5
    s1 = ingest.ingest_batch(spark, _messages_df(spark, batch1), tmp_target)
    s_replay = ingest.ingest_batch(spark, _messages_df(spark, batch1), tmp_target)
    s2 = ingest.ingest_batch(spark, _messages_df(spark, batch2), tmp_target)
    assert s1["written"] == 5
    assert s_replay["written"] == 0
    assert s2["written"] == 3
    fact = spark.read.parquet(tmp_target)
    assert fact.count() == 8
    assert fact.select("reading_timestamp", "meter_id").distinct().count() == 8


def test_replayed_batch_returns_zero_and_adds_no_file(spark, tmp_target):
    """Tier-1 twin of the replay above: the same batch offered again
    writes nothing, not even an empty data file."""
    import glob

    msgs = [json.dumps(dict(GOOD, meter_id=i)) for i in range(1, 6)]
    first = ingest.ingest_batch(spark, _messages_df(spark, msgs), tmp_target)
    files = sorted(glob.glob(f"{tmp_target}/*/*.parquet"))
    replay = ingest.ingest_batch(spark, _messages_df(spark, msgs), tmp_target)
    assert first["written"] == 5
    assert replay["written"] == 0
    assert sorted(glob.glob(f"{tmp_target}/*/*.parquet")) == files
    assert spark.read.parquet(tmp_target).count() == 5


def test_in_batch_duplicates_deduped(spark, tmp_target):
    dup = [json.dumps(GOOD), json.dumps(GOOD), json.dumps(GOOD)]
    stats = ingest.ingest_batch(spark, _messages_df(spark, dup), tmp_target)
    assert stats["written"] == 1


@pytest.mark.slow
def test_concurrent_writers_no_duplicates(spark, tmp_target):
    """Two writers appending OVERLAPPING batches at the same time must
    land exactly one copy of each PK — the multi-consumer guarantee the
    reference gets from its PRIMARY KEY (consumer/meter_consumer.py:
    104-114). Without the table lock both writers pass the anti-join
    and duplicate the overlap."""
    import threading

    def batch(lo, hi):
        msgs = [json.dumps(dict(GOOD, meter_id=i)) for i in range(lo, hi)]
        valid, _ = ingest.split_valid(ingest.classify(_messages_df(spark, msgs)))
        return valid

    b1, b2 = batch(1, 101), batch(51, 151)  # overlap: meters 51-100
    barrier = threading.Barrier(2)
    written = {}

    def run(name, b):
        barrier.wait()
        written[name] = ingest.idempotent_append(spark, b, tmp_target)

    t1 = threading.Thread(target=run, args=("a", b1))
    t2 = threading.Thread(target=run, args=("b", b2))
    t1.start(); t2.start(); t1.join(); t2.join()

    fact = spark.read.parquet(tmp_target)
    assert fact.count() == 150
    assert fact.select("reading_timestamp", "meter_id").distinct().count() == 150
    assert written["a"] + written["b"] == 150


def test_two_writers_overlapping_batches_land_each_key_once(spark, tmp_target):
    """Tier-1 twin of the concurrent-writer test above, on smaller
    batches: each key lands once, and the counts the two writers
    return sum to the rows landed."""
    import threading

    def batch(lo, hi):
        msgs = [json.dumps(dict(GOOD, meter_id=i)) for i in range(lo, hi)]
        valid, _ = ingest.split_valid(ingest.classify(_messages_df(spark, msgs)))
        return valid

    batches = {"a": batch(1, 21), "b": batch(11, 31)}  # overlap: 11-20
    barrier = threading.Barrier(2)
    written = {}

    def run(name):
        barrier.wait(timeout=60)
        written[name] = ingest.idempotent_append(spark, batches[name], tmp_target)

    threads = [threading.Thread(target=run, args=(name,)) for name in batches]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()

    fact = spark.read.parquet(tmp_target)
    assert fact.count() == 30
    assert fact.select("reading_timestamp", "meter_id").distinct().count() == 30
    assert written["a"] + written["b"] == 30


def test_table_lock_timeout_and_release(tmp_path):
    """A live holder blocks a second acquirer (LockTimeout); release
    makes the lock immediately available. The lock file itself stays on
    disk — it's a kernel lock object, not presence-based state."""
    import os

    import pytest as _pytest

    from smart_meter_data_pipeline_spark.sources import txn

    table = str(tmp_path / "t")
    with txn.table_lock(table, timeout_s=2):
        with _pytest.raises(txn.LockTimeout):
            with txn.table_lock(table, timeout_s=0.3):
                pass
    # released: reacquiring is instant
    with txn.table_lock(table, timeout_s=0.3):
        assert os.path.exists(os.path.join(table, txn.LOCK_FILENAME))


def test_table_lock_long_holder_not_stolen(tmp_path):
    """A critical section of ANY length is safe while the holder is
    alive — there is no staleness heuristic for a waiter to misjudge
    (a long compact_date_partition rewrite is the real-world case).
    The waiter times out; the holder's section is undisturbed."""
    import time

    import pytest as _pytest

    from smart_meter_data_pipeline_spark.sources import txn

    table = str(tmp_path / "t")
    with txn.table_lock(table, timeout_s=2):
        time.sleep(0.4)
        with _pytest.raises(txn.LockTimeout):
            with txn.table_lock(table, timeout_s=0.3):
                pass
        # still held: a zero-ish timeout fails fast
        with _pytest.raises(txn.LockTimeout):
            with txn.table_lock(table, timeout_s=0.05, poll_s=0.01):
                pass


def test_table_lock_dead_holder_auto_released(tmp_path):
    """A holder killed with SIGKILL mid-section releases the lock
    automatically (kernel flock semantics) — the scenario the old
    mkdir+mtime protocol needed a racy break-stale heuristic for.
    A waiter acquires promptly with no break step."""
    import os
    import signal
    import subprocess
    import sys
    import time

    from smart_meter_data_pipeline_spark.sources import txn

    table = str(tmp_path / "t")
    ready = str(tmp_path / "ready")
    holder = subprocess.Popen(
        [
            sys.executable,
            "-c",
            (
                "import sys, time, pathlib;"
                f"sys.path.insert(0, {os.getcwd()!r});"
                "from smart_meter_data_pipeline_spark.sources import txn;"
                f"lk = txn.table_lock({table!r}, timeout_s=5);"
                "lk.__enter__();"
                f"pathlib.Path({ready!r}).touch();"
                "time.sleep(60)"
            ),
        ],
    )
    try:
        deadline = time.monotonic() + 20
        while not os.path.exists(ready):
            assert time.monotonic() < deadline, "holder never acquired"
            assert holder.poll() is None, "holder subprocess died early"
            time.sleep(0.02)
        # lock is genuinely held by the subprocess
        try:
            with txn.table_lock(table, timeout_s=0.2, poll_s=0.02):
                raise AssertionError("acquired while subprocess held lock")
        except txn.LockTimeout:
            pass
        holder.send_signal(signal.SIGKILL)
        holder.wait(timeout=10)
        # kernel released the dead holder's lock: acquire succeeds fast
        with txn.table_lock(table, timeout_s=5, poll_s=0.02):
            pass
    finally:
        if holder.poll() is None:
            holder.kill()
            holder.wait(timeout=10)


def test_table_lock_mutual_exclusion_stress(tmp_path):
    """Many concurrent waiters (each its own file description) enter
    one at a time — the multi-writer serialization the sink's
    anti-join/append correctness depends on."""
    import threading
    import time

    from smart_meter_data_pipeline_spark.sources import txn

    table = str(tmp_path / "t")
    inside = []
    inside_lock = threading.Lock()
    concurrency = []

    def waiter(i):
        with txn.table_lock(table, timeout_s=30, poll_s=0.005):
            with inside_lock:
                inside.append(i)
                concurrency.append(len(inside))
            time.sleep(0.01)
            with inside_lock:
                inside.remove(i)

    threads = [threading.Thread(target=waiter, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(concurrency) == 8  # every waiter eventually entered
    assert max(concurrency) == 1  # mutual exclusion held throughout


@pytest.mark.slow
def test_sink_schema_evolution(spark, tmp_target):
    """Additive schema evolution: a later batch carrying a new column
    appends cleanly; mergeSchema reads surface the union schema with
    NULLs for pre-evolution rows, and idempotency still holds on the
    PK across the schema change."""
    from pyspark.sql import functions as F

    def valid(lo, hi):
        msgs = [json.dumps(dict(GOOD, meter_id=i)) for i in range(lo, hi)]
        v, _ = ingest.split_valid(ingest.classify(_messages_df(spark, msgs)))
        return v

    assert ingest.idempotent_append(spark, valid(1, 6), tmp_target) == 5
    evolved = valid(4, 10).withColumn("firmware_version", F.lit("fw-2.1"))
    # overlap 4-5 must still dedup against the old-schema rows
    assert ingest.idempotent_append(spark, evolved, tmp_target) == 4

    merged = spark.read.option("mergeSchema", "true").parquet(tmp_target)
    assert "firmware_version" in merged.columns
    assert merged.count() == 9
    assert merged.filter(F.col("firmware_version").isNull()).count() == 5
    assert merged.select("meter_id").distinct().count() == 9
