"""Property checks from FIXTURES.md §7 / SURVEY.md §5 over the
generated meter data and pipeline transforms."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from smart_meter_data_pipeline_spark.operators import meter_pipeline as mp


@pytest.fixture(scope="module")
def readings(spark):
    return mp.gen_meter_readings(spark).cache()


@pytest.fixture(scope="module")
def stg(spark, readings):
    return mp.stg_transform(readings).cache()


def test_pk_unique(readings):
    n = readings.count()
    assert n == mp.N_METERS * mp.N_TICKS
    assert readings.select("reading_timestamp", "meter_id").distinct().count() == n


def test_cumulative_non_decreasing(stg):
    assert stg.filter(F.col("consumption_delta_mwh") < 0).count() == 0
    assert stg.filter(F.col("production_delta_mwh") < 0).count() == 0


def test_production_null_iff_odd_meter(readings):
    bad = readings.filter(
        (F.col("meter_id") % 2 == 1)
        != F.col("reading_production_milliwatts").isNull()
    )
    assert bad.count() == 0


def test_status_distribution(readings):
    dist = {
        r["status"]: r["n"]
        for r in readings.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    n = sum(dist.values())
    assert 0.96 < dist["V"] / n < 0.99
    assert 0.005 < dist.get("E", 0) / n < 0.03
    assert 0.001 < dist.get("R", 0) / n < 0.012


def test_deltas_telescope_to_cumulative(stg):
    """Σ(deltas) per meter == last cumulative (first-reading fallback
    makes the sum telescope exactly — stg_meter_readings.sql:46-54)."""
    sums = stg.groupBy("meter_id").agg(
        F.sum("consumption_delta_mwh").alias("sum_delta"),
        F.max_by("cumulative_consumption_mwh", "reading_timestamp").alias("last_cum"),
    )
    assert sums.filter(F.col("sum_delta") != F.col("last_cum")).count() == 0


def test_inner_joins_drop_nothing(spark, stg):
    """Every fact meter_id has a dim row (ids 1..N) — the marts' inner
    joins must not drop readings (SURVEY §2.5 semantics note)."""
    dims = mp.gen_dim_meters(spark)
    n_stg_meters = stg.select("meter_id").distinct().count()
    joined = stg.join(dims, "meter_id", "inner").select("meter_id").distinct().count()
    assert joined == n_stg_meters == mp.N_METERS


def test_billing_conservation(spark, stg):
    """Mart-level invariant: total consumption across all customers ==
    total deltas in staging; net = consumption − production."""
    billing = mp.fact_customer_billing_daily(
        mp.hourly_meter_rollup(stg),
        mp.gen_dim_meters(spark),
        mp.gen_dim_customers(spark),
        mp.gen_dim_tariff_rates(spark),
    )
    b = billing.agg(
        F.sum("total_consumption_kwh").alias("cons"),
        F.sum("total_net_consumption_kwh").alias("net"),
        F.sum("total_production_kwh").alias("prod"),
    ).first()
    s = stg.agg(
        (F.sum("consumption_delta_mwh") / 1e6).alias("cons"),
        (F.sum("net_delta_mwh") / 1e6).alias("net"),
    ).first()
    assert abs(b["cons"] - s["cons"]) < 1e-6
    assert abs(b["net"] - s["net"]) < 1e-6
    assert abs((b["cons"] - b["prod"]) - b["net"]) < 1e-6


def test_grid_load_zones(spark, stg):
    """Meters reference only zones 5..20; every zone row has capacity."""
    grid = mp.fact_grid_load_hourly(
        mp.hourly_meter_rollup(stg),
        mp.gen_dim_meters(spark),
        mp.gen_dim_grid_zones(spark),
    )
    zones = [r["grid_zone_id"] for r in grid.select("grid_zone_id").distinct().collect()]
    assert min(zones) >= 5 and max(zones) <= 20
    assert grid.filter(F.col("max_capacity_megawatts") <= 0).count() == 0
    assert grid.filter(
        (F.col("data_quality_pct") < 0) | (F.col("data_quality_pct") > 100)
    ).count() == 0


def test_tariff_rate_matches_hardcode(spark):
    """§2.9: the joined rate must equal the reference's hard-coded 0.28."""
    rate = mp.gen_dim_tariff_rates(spark).first()["base_rate_per_kwh"]
    assert float(rate) == 0.28


def _exact_equal(a, b) -> None:
    assert a.columns == b.columns
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_marts_from_one_hourly_rollup(spark):
    """Both marts come from one (hour, meter) rollup: ``build_all_marts``
    equals the oracle-checked mart queries; on two days of readings with
    gaps (a missing first reading, a missing hour across midnight,
    NULL-production meters) each mart's consumption equals the register
    differences taken in Python; the rollup has one row per (hour,
    meter); and neither mart plans a distinct aggregate (or the Expand
    that several of them would need)."""
    from smart_meter_data_pipeline_spark.operators import meter_queries as mq

    readings = mp.gen_meter_readings(spark)
    billing, grid = mp.build_all_marts(spark, readings, mp.N_METERS)
    _exact_equal(billing, mq.meter_billing_q(spark, None))
    _exact_equal(grid, mq.meter_grid_load_q(spark, None))

    n_meters = 20  # zones m % 16 + 5: meters 1 and 17 share a zone
    ts, m = F.col("reading_timestamp"), F.col("meter_id")
    tick = F.expr("hour(reading_timestamp) * 4 + minute(reading_timestamp) div 15")
    # meters 7 and 14 lose their first reading; meter 2 loses 23:00-00:45
    gone = ((tick + m) % 7 == 0) | (
        (m == 2) & ts.between("2024-01-01 23:00:00", "2024-01-02 00:45:00")
    )
    readings = mp.gen_meter_readings(spark, n_meters, 2 * mp.N_TICKS).filter(~gone)
    rollup = mp.hourly_meter_rollup(mp.stg_transform(readings))
    rows = readings.select(
        "meter_id",
        ts.cast("long").alias("t"),
        F.to_date(ts).alias("day"),
        F.date_trunc("hour", ts).alias("hour"),
        F.col("reading_consumption_milliwatts").alias("cons"),
        F.col("reading_production_milliwatts").alias("prod"),
    ).collect()
    start = min(r["t"] for r in rows)
    assert min(r["t"] for r in rows if r["meter_id"] == 7) > start

    # register differences: each reading minus the meter's previous one,
    # the first reading counting from zero; NULL production stays NULL
    day_mwh, day_prod, hour_mwh, hour_n = {}, {}, {}, {}
    prev = {}
    for r in sorted(rows, key=lambda r: (r["meter_id"], r["t"])):
        mid = r["meter_id"]
        last = prev.get(mid, (0, 0 if r["prod"] is not None else None))
        prev[mid] = (r["cons"], r["prod"])
        zone = mid % 16 + 5
        d, h = (r["day"], mid), (r["hour"], zone)
        day_mwh[d] = day_mwh.get(d, 0) + r["cons"] - last[0]
        if r["prod"] is None:
            day_prod.setdefault(d, None)
        else:
            day_prod[d] = (day_prod.get(d) or 0) + r["prod"] - last[1]
        hour_mwh[h] = hour_mwh.get(h, 0) + r["cons"] - last[0]
        hour_n[h] = hour_n.get(h, 0) + 1

    billing = mp.fact_customer_billing_daily(
        rollup,
        mp.gen_dim_meters(spark, n_meters),
        mp.gen_dim_customers(spark, n_meters),
        mp.gen_dim_tariff_rates(spark),
    ).collect()
    assert {(b["billing_date"], b["customer_id"]) for b in billing} == set(day_mwh)
    for b in billing:
        d = (b["billing_date"], b["customer_id"])
        assert b["total_consumption_kwh"] == day_mwh[d] / 1000000.0, d
        p = day_prod[d]
        assert b["total_production_kwh"] == (None if p is None else p / 1000000.0)
        assert (b["has_solar"], b["meter_count"]) == (p is not None, 1), d
    assert any(p is None for p in day_prod.values())

    grid = mp.fact_grid_load_hourly(
        rollup, mp.gen_dim_meters(spark, n_meters), mp.gen_dim_grid_zones(spark)
    ).collect()
    assert {(g["load_hour"], g["grid_zone_id"]) for g in grid} == set(hour_mwh)
    for g in grid:
        h = (g["load_hour"], g["grid_zone_id"])
        assert g["total_consumption_kwh"] == hour_mwh[h] / 1000000.0, h
        assert g["total_reading_count"] == hour_n[h], h
    assert max(g["active_meter_count"] for g in grid) == 2

    assert rollup.count() == rollup.select("load_hour", "meter_id").distinct().count()
    assert rollup.agg(F.sum("reading_count")).first()[0] == len(rows)

    for mart in (mq.meter_billing_q(spark, None), mq.meter_grid_load_q(spark, None)):
        plan = mart._jdf.queryExecution().optimizedPlan().toString()
        assert "Expand" not in plan and "(distinct " not in plan, plan
