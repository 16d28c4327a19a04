"""Isolated timing of the manifest CoW-upsert legs: land the simulated
day in a manifest table, restate 10% of meters (manifest_upsert_10pct
shape), then the clustered narrow restatement. Prints per-leg
seconds."""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from smart_meter_data_pipeline_spark.session import get_spark  # noqa: E402

METERS = int(os.environ.get("SPARK_GRAFT_BENCH_METERS", "20000"))


def main() -> None:
    spark = get_spark("upsert-timer")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from smart_meter_data_pipeline_spark.operators import meter_pipeline as mp
    from smart_meter_data_pipeline_spark.sources.manifest import ManifestTable
    from smart_meter_data_pipeline_spark.sources.manifest_cow import upsert
    from smart_meter_data_pipeline_spark.sources.manifest_services import (
        optimize_table,
    )

    readings = mp.gen_meter_readings(spark, n_meters=METERS, n_ticks=96)
    workdir = tempfile.mkdtemp(prefix="upsert_timer_")
    try:
        mt = ManifestTable(os.path.join(workdir, "fact_manifest"))
        mt.idempotent_append(spark, readings)
        restated = readings.filter((readings.meter_id % 10) == 3).withColumn(
            "reading_consumption_milliwatts",
            readings.reading_consumption_milliwatts + 1,
        )
        runs = []
        for _ in range(2):
            t0 = time.monotonic()
            upsert(mt, spark, restated)
            runs.append(round(time.monotonic() - t0, 3))
        print(f"manifest_upsert_10pct: {runs} best {min(runs)}", flush=True)

        mt2 = ManifestTable(os.path.join(workdir, "fact_clustered"))
        mt2.idempotent_append(spark, readings)
        optimize_table(mt2, spark, target_partitions=32, cluster_by=["meter_id"])
        narrow = readings.filter(
            (readings.meter_id >= 100) & (readings.meter_id < 700)
        ).withColumn(
            "reading_consumption_milliwatts",
            readings.reading_consumption_milliwatts + 1,
        )
        runs = []
        for _ in range(2):
            t0 = time.monotonic()
            upsert(mt2, spark, narrow)
            runs.append(round(time.monotonic() - t0, 3))
        print(f"manifest_upsert_clustered: {runs} best {min(runs)}", flush=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    main()
