"""SQL-view surface: every dbt model as a temp view, so both the
DataFrame API and ``spark.sql()`` answer the same queries (the
reference's dbt project exposes exactly this dual surface — compiled
SQL views/tables over sources, stg_meter_readings.sql:1-5,
dbt_project.yml:24-32).

``create_meter_views`` mirrors the dbt DAG: sources (raw readings +
dims) → ``stg_meter_readings`` (view = recompute-per-query, S8) →
``fact_customer_billing_daily`` / ``fact_grid_load_hourly``. Marts are
registered as views over the same builders the DataFrame path uses,
fed the same ``hourly_meter_rollup`` of staging, so there is one
definition of the semantics; materializing them as tables
(S9) is the caller's ``spark.table(name).write.saveAsTable(...)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from smart_meter_data_pipeline_spark.operators.meter_pipeline import (
    fact_customer_billing_daily,
    fact_grid_load_hourly,
    gen_dim_customers,
    gen_dim_grid_zones,
    gen_dim_meters,
    gen_dim_tariff_rates,
    hourly_meter_rollup,
    stg_transform,
)


def create_meter_views(
    spark: SparkSession, readings: DataFrame, n_meters: int
) -> None:
    """Register the full model DAG as temp views over ``readings``."""
    dim_meters = gen_dim_meters(spark, n_meters)
    dim_customers = gen_dim_customers(spark, n_meters)
    dim_zones = gen_dim_grid_zones(spark)
    dim_rates = gen_dim_tariff_rates(spark)

    readings.createOrReplaceTempView("raw_meter_readings")
    dim_meters.createOrReplaceTempView("dim_meters")
    dim_customers.createOrReplaceTempView("dim_customers")
    dim_zones.createOrReplaceTempView("dim_grid_zones")
    dim_rates.createOrReplaceTempView("dim_tariff_rates")

    stg = stg_transform(readings)
    stg.createOrReplaceTempView("stg_meter_readings")

    rollup = hourly_meter_rollup(stg)
    fact_customer_billing_daily(
        rollup, dim_meters, dim_customers, dim_rates
    ).createOrReplaceTempView("fact_customer_billing_daily")
    fact_grid_load_hourly(rollup, dim_meters, dim_zones).createOrReplaceTempView(
        "fact_grid_load_hourly"
    )
