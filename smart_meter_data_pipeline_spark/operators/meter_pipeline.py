"""The smart-meter pipeline itself: generator → staging → marts.

This is the reference's analytical core rebuilt Spark-first:

- ``gen_*``: deterministic synthetic data (reference G1-G5 +
  02_populate_dimensions.sql) built from ``spark.range`` — no Kafka, no
  Python loops. Randomness comes from a *portable* integer-mix PRNG
  (two LCG rounds mod 2^31-1) that produces bit-identical doubles in
  Spark and DuckDB, so the entire pipeline is oracle-checkable
  end-to-end. ``F.rand(seed)`` would not be (engine-specific streams).
- ``stg_transform``: stg_meter_readings.sql:22-82 — per-meter LAG over
  cumulative counters → interval deltas, first-reading COALESCE
  fallback, mWh→kWh conversion, quality flags.
- ``fact_customer_billing_daily`` / ``fact_grid_load_hourly``: the two
  marts (fact_customer_billing_daily.sql, fact_grid_load_hourly.sql)
  over one (hour, meter) rollup of staging, ``hourly_meter_rollup``.

The DuckDB twins of the generators and staging, and the registered
queries that check the pipeline against them, live in
``operators.meter_queries``; this module imports no query registry.

Numeric-parity design: energy is generated and aggregated as INTEGER
milliwatt-hours (mirroring the reference's deliberate INTEGER columns,
01_create_schema.sql:78-79) through every rollup level; the single
``/ 1e6`` happens in the final projection. Integer sums are exact and
order-insensitive, so results are deterministic under any shuffle
layout — and hash-identical to the DuckDB oracle. At 100 TB this is
also the fast path: integer partial aggregation map-side, one double
division per output row.

Scale notes: the LAG window and the (hour, meter) rollup both
hash-partition by meter_id, so Catalyst reuses one exchange; both marts
read that rollup (a quarter of staging's rows at 15-minute readings);
tiny dims (grid zones, tariff rate) are broadcast explicitly while the
1M-row dims are left to AQE (broadcast while they fit, shuffle-join beyond);
the generator is a single ``range`` with ``div``/``%`` decomposition —
no cross join, embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

GEN_START = "2024-01-01 00:00:00"
N_METERS = 200  # fixed size for the oracle-checked queries
N_TICKS = 96  # one day at 15-minute cadence

# ---------------------------------------------------------------------------
# Portable PRNG: h2(h1(m, t, salt)) with MINSTD-style rounds. All
# intermediates < 2^52, so the arithmetic is exact in BIGINT on both
# engines (no overflow under Spark ANSI mode).
# ---------------------------------------------------------------------------

_M31 = 2147483647


def _u(salt: int, m, t):
    """Pseudo-uniform double in [0,1) from (meter, tick, salt) — Spark side."""
    h1 = (m * F.lit(2654435761) + t * F.lit(40503) + F.lit(salt * 97)) % F.lit(_M31)
    h2 = (h1 * F.lit(48271)) % F.lit(_M31)
    return h2.cast("double") / F.lit(float(_M31))


def _u_sql(salt: int, m: str, t: str) -> str:
    """The DuckDB twin of :func:`_u` (same expression, SQL text)."""
    return (
        f"(CAST((((({m}) * 2654435761 + ({t}) * 40503 + {salt * 97}) % {_M31})"
        f" * 48271) % {_M31} AS DOUBLE) / {_M31}.0)"
    )


# ---------------------------------------------------------------------------
# Generators (reference: producer/meter_simulator.py:149-252 semantics,
# 02_populate_dimensions.sql dims)
# ---------------------------------------------------------------------------


def gen_meter_readings(
    spark: SparkSession, n_meters: int = N_METERS, n_ticks: int = N_TICKS
) -> DataFrame:
    """Deterministic raw_meter_readings (reference G1-G5).

    One ``spark.range(n_meters*n_ticks)`` decomposed with div/% — no
    cross join, scales linearly to any meter count. Emitted values are
    CUMULATIVE integer milliwatt-hours per meter
    (producer/meter_simulator.py:198-203, :243-250); production is NULL
    for odd meters (no solar, :206-207), status sampled ≈98/1.5/0.5
    V/E/R (:70-81).

    The cumulative counters are 32-bit INTEGER to mirror the reference
    schema (01_create_schema.sql:78-79), which caps the simulated span:
    worst-case peak draw is 5000 W × 1.2 jitter × 250 mWh/tick =
    1.5e6 mWh/tick, so INT_MAX overflows silently after ~1431 ticks
    (~15 days). Guarded here rather than widened, because the INTEGER
    width is itself part of reference parity.
    """
    max_safe_ticks = (2**31 - 1) // 1_500_000
    if n_ticks > max_safe_ticks:
        raise ValueError(
            f"n_ticks={n_ticks} can overflow the reference's INTEGER "
            f"cumulative counters (max safe: {max_safe_ticks}); widen "
            "the schema to BIGINT (and the oracle CTE) for longer spans"
        )
    grid = spark.range(0, n_meters * n_ticks).select(
        (F.expr(f"id div {n_ticks}") + 1).alias("meter_id"),
        (F.col("id") % n_ticks).alias("tick"),
    )
    m, t = F.col("meter_id"), F.col("tick")
    hour = F.expr("(tick div 4) % 24")

    peak = ((hour >= 6) & (hour < 9)) | ((hour >= 17) & (hour < 22))
    night = (hour >= 22) | (hour < 6)
    base_w = (
        F.when(peak, F.lit(2000.0) + _u(1, m, t) * 3000.0)
        .when(night, F.lit(500.0) + _u(1, m, t) * 1000.0)
        .otherwise(F.lit(1000.0) + _u(1, m, t) * 2000.0)
    )
    jit = F.lit(0.8) + _u(2, m, t) * 0.4
    # W × 1000 (→mW) × 0.25h (15 min) = × 250 → integer mWh per interval
    cons_delta = F.floor((base_w * jit) * F.lit(250.0)).cast("bigint")

    daylight = (hour >= 6) & (hour < 18)
    sol_fac = F.lit(1.0) - F.abs(hour - 12) / F.lit(6.0)
    sol_peak_w = F.lit(3000.0) + _u(3, m, t) * 3000.0
    sol_jit = F.lit(0.8) + _u(4, m, t) * 0.4
    prod_delta = F.when(
        m % 2 == 0,
        F.when(
            daylight,
            F.floor(((sol_peak_w * sol_fac) * sol_jit) * F.lit(250.0)).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint")),
    )  # odd meters → NULL

    r = _u(5, m, t) * 100.0
    status = (
        F.when(r < 98.0, "V").when(r < 99.5, "E").otherwise("R")
    )

    w = Window.partitionBy("meter_id").orderBy("tick")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    return (
        grid.select(
            "meter_id",
            "tick",
            cons_delta.alias("cons_delta"),
            prod_delta.alias("prod_delta"),
            status.alias("status"),
        )
        .select(
            F.expr(
                f"timestampadd(MINUTE, CAST(tick*15 AS INT), timestamp'{GEN_START}')"
            ).alias("reading_timestamp"),
            F.col("meter_id").cast("int").alias("meter_id"),
            F.sum("cons_delta").over(cum).cast("int").alias(
                "reading_consumption_milliwatts"
            ),
            F.sum("prod_delta").over(cum).cast("int").alias(
                "reading_production_milliwatts"
            ),
            "status",
        )
    )


def gen_dim_meters(spark: SparkSession, n_meters: int = N_METERS) -> DataFrame:
    """dim_meters (02_populate_dimensions.sql:66-91): 1:1 with
    customers, 50% solar (even ids), ~200 meters/gateway, zones 5..20."""
    id_ = F.col("id")
    ids = id_.cast("string")
    return spark.range(1, n_meters + 1).select(
        id_.cast("int").alias("meter_id"),
        F.concat(F.lit("MTR-"), F.lpad(ids, 10, "0")).alias("meter_idn"),
        id_.cast("int").alias("customer_id"),
        F.concat(F.lit("MELO-"), F.lpad(ids, 10, "0")).alias("melo"),
        (F.lit(10000000) + id_).cast("int").alias("malo_cons"),
        F.when(id_ % 2 == 0, (F.lit(20000000) + id_).cast("int")).alias("malo_prod"),
        F.concat(
            F.lit("GW-"), F.lpad(((id_ % 5000) + 1).cast("string"), 6, "0")
        ).alias("gateway_idn"),
        ((id_ % 16) + 5).cast("int").alias("grid_zone_id"),
    )


def gen_dim_customers(spark: SparkSession, n_meters: int = N_METERS) -> DataFrame:
    """dim_customers (02_populate_dimensions.sql:48-58)."""
    id_ = F.col("id")
    return spark.range(1, n_meters + 1).select(
        id_.cast("int").alias("customer_id"),
        F.concat(F.lit("Customer-"), F.lpad(id_.cast("string"), 7, "0")).alias(
            "customer_name"
        ),
        F.when(id_ % 200 == 0, "inactive")
        .when(id_ % 500 == 0, "suspended")
        .otherwise("active")
        .alias("account_status"),
    )


# The exact 20 zones from 02_populate_dimensions.sql:12-41.
GRID_ZONES = [
    (1, "Downtown Core", "Central", "urban", 500),
    (2, "North Business District", "Central", "urban", 450),
    (3, "South Commercial Hub", "Central", "urban", 480),
    (4, "East Financial District", "East", "urban", 420),
    (5, "North Residential Area", "North", "suburban", 300),
    (6, "Northeast Suburbs", "North", "suburban", 280),
    (7, "Northwest Suburbs", "North", "suburban", 290),
    (8, "South Residential Area", "South", "suburban", 320),
    (9, "Southeast Suburbs", "South", "suburban", 310),
    (10, "Southwest Suburbs", "South", "suburban", 300),
    (11, "West Residential Area", "West", "suburban", 340),
    (12, "East Residential Area", "East", "suburban", 330),
    (13, "North Rural District", "North", "rural", 150),
    (14, "South Rural District", "South", "rural", 140),
    (15, "East Rural District", "East", "rural", 160),
    (16, "West Rural District", "West", "rural", 155),
    (17, "Industrial Park North", "North", "urban", 600),
    (18, "Industrial Park South", "South", "urban", 580),
    (19, "Port Industrial Zone", "East", "urban", 550),
    (20, "Airport Industrial Zone", "West", "urban", 520),
]


def gen_dim_grid_zones(spark: SparkSession) -> DataFrame:
    df = spark.createDataFrame(
        GRID_ZONES,
        "grid_zone_id int, zone_name string, region string, zone_type string,"
        " max_capacity_megawatts int",
    )
    return df


def gen_dim_tariff_rates(spark: SparkSession) -> DataFrame:
    """dim_tariff_rates (01_create_schema.sql:10-18): one row, 0.2800.

    The reference defines this dim but hard-codes 0.28 in the mart
    (fact_customer_billing_daily.sql:88-96, the §2.9 gap); we join it
    properly — output still matches 0.28."""
    return spark.sql(
        "SELECT CAST(1 AS INT) AS tariff_id,"
        " CAST(0.2800 AS DECIMAL(6,4)) AS base_rate_per_kwh"
    )


# ---------------------------------------------------------------------------
# Staging transform (stg_meter_readings.sql)
# ---------------------------------------------------------------------------


def stg_transform(readings: DataFrame) -> DataFrame:
    """stg_meter_readings: cumulative counters → interval deltas.

    The semantic heart of the pipeline (stg_meter_readings.sql:22-82):
    LAG per meter ordered by reading_timestamp, delta vs previous,
    first-reading fallback to the cumulative itself (stg:46-54),
    mWh→kWh conversion (stg:56-65), net consumption (stg:67-74),
    status flags and has_solar (stg:76-82). NULL production stays NULL
    (never coerced to 0) — the NULL-vs-0 distinction is load-bearing.

    Integer deltas (``*_delta_mwh``) are kept alongside the kWh doubles
    so downstream marts can aggregate exactly.
    """
    w = Window.partitionBy("meter_id").orderBy("reading_timestamp")
    # Both LAGs in ONE projection → a single Window operator (one
    # shuffle + one sort). Chaining them through withColumn leaves
    # Catalyst with four Window/Exchange/Sort stages over the same
    # partitioning — measurably 4× the shuffle work of this form.
    lagged = readings.select(
        "reading_timestamp",
        "meter_id",
        F.col("reading_consumption_milliwatts").alias("cumulative_consumption_mwh"),
        F.col("reading_production_milliwatts").alias("cumulative_production_mwh"),
        "status",
        F.lag("reading_consumption_milliwatts").over(w).alias("_lag_cons"),
        F.lag("reading_production_milliwatts").over(w).alias("_lag_prod"),
    )
    cum_c = F.col("cumulative_consumption_mwh")
    cum_p = F.col("cumulative_production_mwh")
    cons_delta = F.coalesce(cum_c - F.col("_lag_cons"), cum_c)
    prod_delta = F.coalesce(cum_p - F.col("_lag_prod"), cum_p)
    net_mwh = cons_delta - F.coalesce(prod_delta, F.lit(0))
    return lagged.select(
        "reading_timestamp",
        "meter_id",
        "cumulative_consumption_mwh",
        "cumulative_production_mwh",
        "status",
        cons_delta.alias("consumption_delta_mwh"),
        prod_delta.alias("production_delta_mwh"),
        net_mwh.alias("net_delta_mwh"),
        (cons_delta.cast("double") / 1000000.0).alias("consumption_kwh"),
        (prod_delta.cast("double") / 1000000.0).alias("production_kwh"),
        (net_mwh.cast("double") / 1000000.0).alias("net_consumption_kwh"),
        (F.col("status") == "V").alias("is_valid"),
        (F.col("status") == "E").alias("is_estimated"),
        (F.col("status") == "R").alias("is_error"),
        cum_p.isNotNull().alias("has_solar"),
    )


# ---------------------------------------------------------------------------
# Marts
# ---------------------------------------------------------------------------


def hourly_meter_rollup(stg: DataFrame) -> DataFrame:
    """The one (hour, meter) aggregation of staging, carrying every
    input either mart reads: integer mWh sums, reading and quality-flag
    counts, and whether the meter has solar."""
    return stg.groupBy(
        F.date_trunc("hour", "reading_timestamp").alias("load_hour"), "meter_id"
    ).agg(
        F.sum("consumption_delta_mwh").alias("cons_mwh"),
        F.sum("production_delta_mwh").alias("prod_mwh"),
        F.sum("net_delta_mwh").alias("net_mwh"),
        F.count(F.lit(1)).alias("reading_count"),
        F.count_if("is_valid").alias("valid_reading_count"),
        F.count_if("is_estimated").alias("estimated_reading_count"),
        F.count_if("is_error").alias("error_reading_count"),
        F.max("has_solar").alias("has_solar"),
    )


def fact_customer_billing_daily(
    rollup: DataFrame,
    dim_meters: DataFrame,
    dim_customers: DataFrame,
    dim_tariff_rates: DataFrame,
) -> DataFrame:
    """fact_customer_billing_daily.sql:25-114, DataFrame-first.

    :func:`hourly_meter_rollup` → (day, meter) re-agg → dims → (day,
    customer) re-agg → rate application + quality pct. The rate
    comes from dim_tariff_rates via a broadcast cross join (the
    principled version of the reference's hard-coded 0.28 — §2.9).
    Energy aggregates as integer mWh through every level; kWh appears
    only in the final projection.
    """
    daily_meter = rollup.groupBy(
        F.to_date("load_hour").alias("billing_date"), "meter_id"
    ).agg(
        F.sum("cons_mwh").alias("cons_mwh"),
        F.sum("prod_mwh").alias("prod_mwh"),
        F.sum("net_mwh").alias("net_mwh"),
        F.sum("reading_count").alias("reading_count"),
        F.sum("valid_reading_count").alias("valid_reading_count"),
        F.sum("estimated_reading_count").alias("estimated_reading_count"),
        F.sum("error_reading_count").alias("error_reading_count"),
        F.max("has_solar").alias("has_solar"),
    )
    rate = dim_tariff_rates.select(
        F.col("base_rate_per_kwh").cast("double").alias("rate")
    )
    # dim_meters/dim_customers are 1M rows at reference scale — small
    # enough to broadcast TODAY, but a static hint would OOM instead of
    # demoting at 100× meters. Leave strategy choice to AQE (which
    # broadcasts when the built side fits, else shuffle-joins); only
    # genuinely-tiny dims (grid zones: 20 rows, tariff rate: 1 row)
    # keep an explicit broadcast.
    cust_level = (
        daily_meter.join(
            dim_meters.select("meter_id", "customer_id"),
            "meter_id",
            "inner",
        )
        .join(
            dim_customers.select("customer_id", "customer_name"),
            "customer_id",
            "inner",
        )
        .groupBy("billing_date", "customer_id", "customer_name")
        .agg(
            F.sum("cons_mwh").alias("cons_mwh"),
            F.sum("prod_mwh").alias("prod_mwh"),
            F.sum("net_mwh").alias("net_mwh"),
            # (day, meter) rows are unique after the 1:1 join: count == distinct
            F.count("meter_id").alias("meter_count"),
            F.sum("reading_count").alias("total_reading_count"),
            F.sum("valid_reading_count").alias("valid_reading_count"),
            F.sum("estimated_reading_count").alias("estimated_reading_count"),
            F.sum("error_reading_count").alias("error_reading_count"),
            F.max("has_solar").alias("has_solar"),
        )
        .crossJoin(F.broadcast(rate))
    )
    kwh = lambda c: (F.col(c).cast("double") / 1000000.0)  # noqa: E731
    return cust_level.select(
        "billing_date",
        "customer_id",
        "customer_name",
        kwh("cons_mwh").alias("total_consumption_kwh"),
        kwh("prod_mwh").alias("total_production_kwh"),
        kwh("net_mwh").alias("total_net_consumption_kwh"),
        (kwh("cons_mwh") * F.col("rate")).alias("consumption_charge"),
        (kwh("prod_mwh") * F.col("rate")).alias("production_credit"),
        (kwh("net_mwh") * F.col("rate")).alias("net_charge"),
        "meter_count",
        "total_reading_count",
        "valid_reading_count",
        "estimated_reading_count",
        "error_reading_count",
        "has_solar",
        F.when(
            F.col("total_reading_count") > 0,
            F.col("valid_reading_count").cast("double")
            / F.col("total_reading_count").cast("double")
            * 100.0,
        )
        .otherwise(0.0)
        .alias("data_quality_pct"),
    )


def fact_grid_load_hourly(
    rollup: DataFrame, dim_meters: DataFrame, dim_grid_zones: DataFrame
) -> DataFrame:
    """fact_grid_load_hourly.sql:25-119, DataFrame-first.

    :func:`hourly_meter_rollup` → dims → (hour, zone) re-agg with capacity
    utilization and peak/critical flags (grid:85-104, guarded on
    capacity > 0)."""
    # dim_meters: no static broadcast hint (1M rows at reference scale;
    # AQE decides — see fact_customer_billing_daily). dim_grid_zones is
    # 20 rows: always broadcast.
    zone_level = (
        rollup.join(
            dim_meters.select("meter_id", "grid_zone_id"),
            "meter_id",
            "inner",
        )
        .join(F.broadcast(dim_grid_zones), "grid_zone_id", "inner")
        .groupBy(
            "load_hour",
            "grid_zone_id",
            "zone_name",
            "zone_type",
            "max_capacity_megawatts",
        )
        .agg(
            F.sum("cons_mwh").alias("cons_mwh"),
            F.sum("prod_mwh").alias("prod_mwh"),
            F.sum("net_mwh").alias("net_mwh"),
            # (hour, meter) rows are unique after the 1:1 join: count == distinct
            F.count("meter_id").alias("active_meter_count"),
            F.sum("reading_count").alias("total_reading_count"),
            F.sum("valid_reading_count").alias("valid_reading_count"),
        )
    )
    net_kwh = F.col("net_mwh").cast("double") / 1000000.0
    util = (net_kwh / 1000.0) / F.col("max_capacity_megawatts")
    cap_ok = F.col("max_capacity_megawatts") > 0
    return zone_level.select(
        "load_hour",
        "grid_zone_id",
        "zone_name",
        "zone_type",
        "max_capacity_megawatts",
        (F.col("cons_mwh").cast("double") / 1000000.0).alias("total_consumption_kwh"),
        (F.col("prod_mwh").cast("double") / 1000000.0).alias("total_production_kwh"),
        net_kwh.alias("total_net_consumption_kwh"),
        (net_kwh / 1000.0).alias("total_net_consumption_mwh"),
        F.when(cap_ok, util * 100.0).otherwise(0.0).alias("capacity_utilization_pct"),
        (cap_ok & (util > 0.8)).alias("is_peak_load"),
        (cap_ok & (util > 0.95)).alias("is_critical_load"),
        "active_meter_count",
        "total_reading_count",
        "valid_reading_count",
        F.when(
            F.col("total_reading_count") > 0,
            F.col("valid_reading_count").cast("double")
            / F.col("total_reading_count").cast("double")
            * 100.0,
        )
        .otherwise(0.0)
        .alias("data_quality_pct"),
    )


def build_all_marts(
    spark: SparkSession, readings: DataFrame, n_meters: int
) -> tuple[DataFrame, DataFrame]:
    """Rebuild both marts from raw readings sharing ONE rollup.

    The reference recomputes and re-aggregates the staging view per
    mart (dbt view materialization, README.md:137); here the (hour,
    meter) rollup is persisted across both builds, so the LAG shuffle
    and the per-reading aggregation run once and each mart reads a
    quarter of staging's rows (15-minute readings). At warehouse scale
    the same role is played by materializing the rollup to storage.

    Returns (billing, grid_load) — both eagerly materialized via the
    shared persisted rollup; callers still own writing them out.
    """
    # The rollup holds only what the marts read: no projection needed.
    rollup = hourly_meter_rollup(stg_transform(readings)).persist()
    try:
        dims = gen_dim_meters(spark, n_meters)
        billing = fact_customer_billing_daily(
            rollup,
            dims,
            gen_dim_customers(spark, n_meters),
            gen_dim_tariff_rates(spark),
        ).localCheckpoint(eager=True)
        grid = fact_grid_load_hourly(
            rollup, dims, gen_dim_grid_zones(spark)
        ).localCheckpoint(eager=True)
        return billing, grid
    finally:
        rollup.unpersist()
