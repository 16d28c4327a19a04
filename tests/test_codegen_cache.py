"""Generated code is compiled once per JVM: a small daily cycle (a
manifest-sink stream of two micro-batches, then both marts rebuilt
from the table) run a second time compiles no class it compiled the
first time. What it may still compile is one projection per
micro-batch, whose ``arrived_at`` timestamp is inlined as a literal."""

from __future__ import annotations

import json

from smart_meter_data_pipeline_spark.operators.meter_pipeline import build_all_marts
from smart_meter_data_pipeline_spark.sources.manifest import ManifestTable
from smart_meter_data_pipeline_spark.streaming.ingest_stream import (
    start_ingest_stream,
)

N_METERS = 20
N_FILES = 8  # the stream takes 4 files per micro-batch
N_BATCHES = 2


def _write_deliveries(src) -> None:
    """File i holds tick i of every meter, with cumulative counters."""
    src.mkdir()
    for i in range(N_FILES):
        lines = [
            json.dumps(
                {
                    "meter_id": m,
                    "reading_timestamp": f"2024-01-01T{i:02d}:15:00",
                    "reading_consumption_milliwatts": 1000 * (i + 1) + m,
                    "reading_production_milliwatts": (
                        500 * (i + 1) if m % 2 == 0 else None
                    ),
                    "status": "V",
                }
            )
            for m in range(1, N_METERS + 1)
        ]
        (src / f"f{i}.txt").write_text("\n".join(lines) + "\n")


def _compilations(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _cycle(spark, src, root) -> None:
    """Stream the deliveries into a fresh manifest table, then rebuild
    both marts from it and run one action on each."""
    target = str(root / "fact")
    start_ingest_stream(
        spark, str(src / "*.txt"), target, str(root / "ckpt"), sink="manifest"
    ).awaitTermination()
    billing, grid = build_all_marts(spark, ManifestTable(target).read(spark), N_METERS)
    assert billing.count() == N_METERS
    assert grid.count() > 0


def test_repeated_cycle_compiles_nothing_twice(spark, tmp_path):
    src = tmp_path / "msgs"
    _write_deliveries(src)
    _cycle(spark, src, tmp_path / "run1")
    before = _compilations(spark)
    _cycle(spark, src, tmp_path / "run2")
    compiled = _compilations(spark) - before
    assert compiled <= N_BATCHES, compiled
