"""Pass counts of the two ingest sinks: one micro-batch into a table
that already holds the batch's day runs a date job and one write job
(which scans the existing keys once), not a job per step."""

from __future__ import annotations

import json
import uuid

import pytest

from smart_meter_data_pipeline_spark.sources import ingest
from smart_meter_data_pipeline_spark.sources.manifest import ManifestTable

GOOD = {
    "meter_id": 1,
    "reading_timestamp": "2024-03-01T10:30:00",
    "reading_consumption_milliwatts": 1500,
    "reading_production_milliwatts": 0,
    "status": "V",
}

# Spark jobs of one append, as measured with AQE on (each query stage
# is a job of its own). A job per step ran 13 (lock) and 11 (manifest).
MAX_JOBS = {"lock": 7, "manifest": 6}


def _micro_batch(spark, lo, hi):
    """A persisted classified batch, as the stream's process_batch
    hands it to a sink."""
    msgs = [json.dumps(dict(GOOD, meter_id=i)) for i in range(lo, hi)]
    raw = spark.createDataFrame([(m,) for m in msgs], ["value"])
    return ingest.classify(ingest.parse_messages(raw)).persist()


def _jobs(spark, action):
    """(result of ``action()``, Spark jobs it ran), counted through a
    job group of its own."""
    sc = spark.sparkContext
    group = f"sink-passes-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("sink", ["lock", "manifest"])
def test_one_append_runs_a_date_job_and_one_write(spark, tmp_path, sink):
    target = str(tmp_path / "fact")
    if sink == "lock":
        def append(valid):
            return ingest.idempotent_append(spark, valid, target)
    else:
        def append(valid):
            return ManifestTable(target).idempotent_append(spark, valid)

    first = _micro_batch(spark, 1, 51)
    try:
        assert append(ingest.split_valid(first)[0]) == 50
    finally:
        first.unpersist()
    batch = _micro_batch(spark, 26, 76)  # same day, half already landed
    try:
        n, jobs = _jobs(spark, lambda: append(ingest.split_valid(batch)[0]))
    finally:
        batch.unpersist()
    assert n == 25
    assert jobs <= MAX_JOBS[sink], jobs
