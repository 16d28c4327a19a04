"""Incremental mart refresh must equal the full rebuild, touching only
the changed partitions."""

from __future__ import annotations

import pytest

import datetime as dt
import os

from pyspark.sql import functions as F

from smart_meter_data_pipeline_spark.operators.incremental import (
    refresh_marts_incremental,
)
from smart_meter_data_pipeline_spark.operators.meter_pipeline import (
    fact_customer_billing_daily,
    fact_grid_load_hourly,
    gen_dim_customers,
    gen_dim_grid_zones,
    gen_dim_meters,
    gen_dim_tariff_rates,
    gen_meter_readings,
    hourly_meter_rollup,
    stg_transform,
)


@pytest.mark.slow
def test_incremental_refresh_matches_full(spark, tmp_path):
    n_meters, days = 25, 3
    readings = gen_meter_readings(spark, n_meters=n_meters, n_ticks=96 * days)
    fact_dir = str(tmp_path / "fact")
    (
        readings.withColumn("reading_date", F.to_date("reading_timestamp"))
        .write.partitionBy("reading_date")
        .parquet(fact_dir)
    )
    dims = dict(
        dim_meters=gen_dim_meters(spark, n_meters),
        dim_customers=gen_dim_customers(spark, n_meters),
        dim_tariff_rates=gen_dim_tariff_rates(spark),
        dim_grid_zones=gen_dim_grid_zones(spark),
    )
    billing_dir = str(tmp_path / "billing")
    grid_dir = str(tmp_path / "grid")

    all_dates = sorted(
        r["d"]
        for r in readings.select(F.to_date("reading_timestamp").alias("d"))
        .distinct()
        .collect()
    )
    assert len(all_dates) == days

    # seed: build every date incrementally (day 1 has no predecessor —
    # overlap scan of a missing partition must be a no-op)
    refresh_marts_incremental(
        spark, fact_dir, billing_dir, grid_dir, all_dates, **dims
    )

    # refresh ONLY day 2: day 1 is untouched (its deltas don't depend
    # on day 2), while day 3 IS rebuilt — its first delta reads day 2's
    # last reading, so a day-2 change invalidates it (LAG boundary).
    target = all_dates[1]
    day1_part = os.path.join(billing_dir, f"billing_date={all_dates[0]}")
    day3_part = os.path.join(billing_dir, f"billing_date={all_dates[2]}")
    day1_files = sorted(os.listdir(day1_part))
    day3_files = sorted(os.listdir(day3_part))
    refresh_marts_incremental(
        spark, fact_dir, billing_dir, grid_dir, [target], **dims
    )
    assert sorted(os.listdir(day1_part)) == day1_files
    assert sorted(os.listdir(day3_part)) != day3_files

    # equality with the monolithic full rebuild
    rollup = hourly_meter_rollup(stg_transform(readings))
    full_billing = fact_customer_billing_daily(
        rollup, dims["dim_meters"], dims["dim_customers"], dims["dim_tariff_rates"]
    )
    inc_billing = spark.read.parquet(billing_dir).select(*full_billing.columns)
    assert inc_billing.count() == full_billing.count()
    assert inc_billing.exceptAll(full_billing).count() == 0
    assert full_billing.exceptAll(inc_billing).count() == 0

    full_grid = fact_grid_load_hourly(
        rollup, dims["dim_meters"], dims["dim_grid_zones"]
    )
    inc_grid = spark.read.parquet(grid_dir).select(*full_grid.columns)
    assert inc_grid.count() == full_grid.count()
    assert inc_grid.exceptAll(full_grid).count() == 0
    assert full_grid.exceptAll(inc_grid).count() == 0


@pytest.mark.slow
def test_backfill_invalidates_successor_day(spark, tmp_path):
    """A backfill that rewrites day D's facts must leave day D+1's mart
    equal to a full rebuild: D+1's first delta reads D's LAST reading,
    so refreshing only [D] has to rebuild D+1 too. (This was the
    successor-staleness bug: only predecessors were added for overlap,
    never successors.)"""
    n_meters, days = 25, 3
    readings = gen_meter_readings(spark, n_meters=n_meters, n_ticks=96 * days)
    fact_dir = str(tmp_path / "fact")
    (
        readings.withColumn("reading_date", F.to_date("reading_timestamp"))
        .write.partitionBy("reading_date")
        .parquet(fact_dir)
    )
    dims = dict(
        dim_meters=gen_dim_meters(spark, n_meters),
        dim_customers=gen_dim_customers(spark, n_meters),
        dim_tariff_rates=gen_dim_tariff_rates(spark),
        dim_grid_zones=gen_dim_grid_zones(spark),
    )
    billing_dir = str(tmp_path / "billing")
    grid_dir = str(tmp_path / "grid")
    all_dates = sorted(
        r["d"]
        for r in readings.select(F.to_date("reading_timestamp").alias("d"))
        .distinct()
        .collect()
    )
    refresh_marts_incremental(
        spark, fact_dir, billing_dir, grid_dir, all_dates, **dims
    )

    # backfill: rewrite day 2's fact partition dropping its final hours,
    # which moves day 2's LAST reading and thus day 3's first delta
    day2 = all_dates[1]
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        modified_day2 = spark.read.parquet(fact_dir).filter(
            (F.col("reading_date") == F.lit(day2))
            & (F.hour("reading_timestamp") < 20)
        )
        (
            modified_day2.write.mode("overwrite")
            .partitionBy("reading_date")
            .parquet(fact_dir)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    # refresh ONLY the backfilled date
    refresh_marts_incremental(
        spark, fact_dir, billing_dir, grid_dir, [day2], **dims
    )

    # marts must now equal a full rebuild over the post-backfill facts —
    # in particular day 3 (the successor), which the bug left stale
    post = spark.read.parquet(fact_dir).drop("reading_date")
    rollup = hourly_meter_rollup(stg_transform(post))
    full_billing = fact_customer_billing_daily(
        rollup, dims["dim_meters"], dims["dim_customers"], dims["dim_tariff_rates"]
    )
    inc_billing = spark.read.parquet(billing_dir).select(*full_billing.columns)
    assert inc_billing.exceptAll(full_billing).count() == 0
    assert full_billing.exceptAll(inc_billing).count() == 0
    day3 = all_dates[2]
    assert (
        inc_billing.filter(F.col("billing_date") == F.lit(day3)).count()
        == full_billing.filter(F.col("billing_date") == F.lit(day3)).count()
        > 0
    )

    full_grid = fact_grid_load_hourly(
        rollup, dims["dim_meters"], dims["dim_grid_zones"]
    )
    inc_grid = spark.read.parquet(grid_dir).select(*full_grid.columns)
    assert inc_grid.exceptAll(full_grid).count() == 0
    assert full_grid.exceptAll(inc_grid).count() == 0
