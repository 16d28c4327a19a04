"""The SQL-view surface must answer identically to the DataFrame API
(the dbt dual-surface parity), and scans must stay pruned/pushed."""

from __future__ import annotations

from smart_meter_data_pipeline_spark.operators.meter_pipeline import (
    fact_customer_billing_daily,
    gen_dim_customers,
    gen_dim_meters,
    gen_dim_tariff_rates,
    gen_meter_readings,
    hourly_meter_rollup,
    stg_transform,
)
from smart_meter_data_pipeline_spark.plans.views import create_meter_views


def test_sql_views_equal_dataframe_api(spark):
    readings = gen_meter_readings(spark, n_meters=40, n_ticks=12)
    create_meter_views(spark, readings, n_meters=40)

    sql_stg = spark.sql(
        "SELECT meter_id, reading_timestamp, consumption_delta_mwh "
        "FROM stg_meter_readings"
    )
    df_stg = stg_transform(readings).select(
        "meter_id", "reading_timestamp", "consumption_delta_mwh"
    )
    assert sql_stg.exceptAll(df_stg).count() == 0
    assert df_stg.exceptAll(sql_stg).count() == 0

    sql_mart = spark.sql(
        "SELECT billing_date, customer_id, total_consumption_kwh, net_charge "
        "FROM fact_customer_billing_daily"
    )
    df_mart = fact_customer_billing_daily(
        hourly_meter_rollup(stg_transform(readings)),
        gen_dim_meters(spark, 40),
        gen_dim_customers(spark, 40),
        gen_dim_tariff_rates(spark),
    ).select("billing_date", "customer_id", "total_consumption_kwh", "net_charge")
    assert sql_mart.exceptAll(df_mart).count() == 0
    assert df_mart.exceptAll(sql_mart).count() == 0

    # ad-hoc SQL over a mart view (the reference's psql consumption
    # path, README.md:58-59)
    top = spark.sql(
        "SELECT customer_id, net_charge FROM fact_customer_billing_daily "
        "ORDER BY net_charge DESC LIMIT 10"
    )
    assert top.count() == 10


def test_parquet_scan_prunes_and_pushes(spark, sf_dir):
    """Filter + projection must reach the parquet scan: ReadSchema
    carries only referenced columns and PushedFilters the predicate."""
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = lineitem.filter("l_shipdate <= DATE '1998-09-02'").select(
        "l_returnflag", "l_linestatus", "l_quantity"
    )
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_extendedprice" not in read_schema  # unreferenced → pruned
    for col in ("l_returnflag", "l_linestatus", "l_quantity", "l_shipdate"):
        assert col in read_schema
