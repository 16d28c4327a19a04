"""Registered queries over the smart-meter pipeline, with their DuckDB
oracles.

``operators.meter_pipeline`` holds the pipeline itself (generators,
staging, marts); this module checks it. It holds the DuckDB twins of
the generator, dims and staging (``_readings_cte``, ``_stg_cte``, the
``_dim_*_sql`` CTEs) and the queries built on them: the stg/mart
queries, the dbt-style quality checks, and the manifest-table and
catalog round trips that exercise the storage layer on meter readings.
All queries run at the fixed ``N_METERS`` x ``N_TICKS`` size: they
verify semantics, not scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from smart_meter_data_pipeline_spark.operators.meter_pipeline import (
    GEN_START,
    GRID_ZONES,
    N_METERS,
    N_TICKS,
    _u_sql,
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
from smart_meter_data_pipeline_spark.plans.registry import register
from smart_meter_data_pipeline_spark.sources.manifest import (
    PK,
    ManifestTable,
    compact_log,
)
from smart_meter_data_pipeline_spark.sources.manifest_cow import (
    delete_keys,
    delete_where,
    upsert,
    upsert_if_newer,
    upsert_partial,
)
from smart_meter_data_pipeline_spark.sources.manifest_services import (
    alter_drop_column,
    optimize_table,
    shallow_clone,
    vacuum_unreferenced,
)
from smart_meter_data_pipeline_spark.sources.manifest_skipping import (
    read_where,
    skipping_report,
)
from smart_meter_data_pipeline_spark.sources.manifest_timetravel import (
    change_feed,
    consistent_snapshot,
    read_as_of,
    restore_version,
    version_asof,
)

# ---------------------------------------------------------------------------
# DuckDB twins of the generators and staging
# ---------------------------------------------------------------------------


def _readings_cte(n_meters: int = N_METERS, n_ticks: int = N_TICKS) -> str:
    """DuckDB CTE generating the identical readings table."""
    u1 = _u_sql(1, "meter_id", "tick")
    u2 = _u_sql(2, "meter_id", "tick")
    u3 = _u_sql(3, "meter_id", "tick")
    u4 = _u_sql(4, "meter_id", "tick")
    u5 = _u_sql(5, "meter_id", "tick")
    return f"""
grid AS (
  SELECT i // {n_ticks} + 1 AS meter_id, i % {n_ticks} AS tick,
         ((i % {n_ticks}) // 4) % 24 AS hour
  FROM range(0, {n_meters * n_ticks}) t(i)
),
deltas AS (
  SELECT meter_id, tick,
    CAST(FLOOR((
      (CASE
         WHEN (hour >= 6 AND hour < 9) OR (hour >= 17 AND hour < 22)
           THEN 2000.0 + {u1} * 3000.0
         WHEN hour >= 22 OR hour < 6
           THEN 500.0 + {u1} * 1000.0
         ELSE 1000.0 + {u1} * 2000.0 END)
      * (0.8 + {u2} * 0.4)) * 250.0) AS BIGINT) AS cons_delta,
    CASE WHEN meter_id % 2 = 0 THEN
      CASE WHEN hour >= 6 AND hour < 18 THEN
        CAST(FLOOR((((3000.0 + {u3} * 3000.0)
                     * (1.0 - ABS(hour - 12) / 6.0))
                    * (0.8 + {u4} * 0.4)) * 250.0) AS BIGINT)
      ELSE 0 END
    ELSE NULL END AS prod_delta,
    CASE WHEN {u5} * 100.0 < 98.0 THEN 'V'
         WHEN {u5} * 100.0 < 99.5 THEN 'E'
         ELSE 'R' END AS status
  FROM grid
),
readings AS (
  SELECT TIMESTAMP '{GEN_START}' + to_minutes(CAST(tick * 15 AS BIGINT))
           AS reading_timestamp,
         CAST(meter_id AS INT) AS meter_id,
         CAST(SUM(cons_delta) OVER (PARTITION BY meter_id ORDER BY tick
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
           AS reading_consumption_milliwatts,
         CAST(SUM(prod_delta) OVER (PARTITION BY meter_id ORDER BY tick
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
           AS reading_production_milliwatts,
         status
  FROM deltas
)"""


def _dim_meters_sql(n_meters: int = N_METERS) -> str:
    return f"""
SELECT CAST(id AS INT) AS meter_id,
       'MTR-' || lpad(CAST(id AS VARCHAR), 10, '0') AS meter_idn,
       CAST(id AS INT) AS customer_id,
       'MELO-' || lpad(CAST(id AS VARCHAR), 10, '0') AS melo,
       CAST(10000000 + id AS INT) AS malo_cons,
       CASE WHEN id % 2 = 0 THEN CAST(20000000 + id AS INT) END AS malo_prod,
       'GW-' || lpad(CAST((id % 5000) + 1 AS VARCHAR), 6, '0') AS gateway_idn,
       CAST((id % 16) + 5 AS INT) AS grid_zone_id
FROM range(1, {n_meters + 1}) t(id)"""


def _dim_customers_sql(n_meters: int = N_METERS) -> str:
    return f"""
SELECT CAST(id AS INT) AS customer_id,
       'Customer-' || lpad(CAST(id AS VARCHAR), 7, '0') AS customer_name,
       CASE WHEN id % 200 = 0 THEN 'inactive'
            WHEN id % 500 = 0 THEN 'suspended'
            ELSE 'active' END AS account_status
FROM range(1, {n_meters + 1}) t(id)"""


def _grid_zones_sql() -> str:
    rows = ",\n    ".join(
        f"({i}, '{n}', '{r}', '{t}', {c})" for i, n, r, t, c in GRID_ZONES
    )
    return f"""
SELECT CAST(grid_zone_id AS INT) AS grid_zone_id, zone_name, region, zone_type,
       CAST(max_capacity_megawatts AS INT) AS max_capacity_megawatts
FROM (VALUES
    {rows}
) AS z(grid_zone_id, zone_name, region, zone_type, max_capacity_megawatts)"""


_STG_SELECT = """
  SELECT reading_timestamp, meter_id,
         reading_consumption_milliwatts AS cumulative_consumption_mwh,
         reading_production_milliwatts AS cumulative_production_mwh,
         status,
         COALESCE(reading_consumption_milliwatts
                  - LAG(reading_consumption_milliwatts) OVER w,
                  reading_consumption_milliwatts) AS consumption_delta_mwh,
         COALESCE(reading_production_milliwatts
                  - LAG(reading_production_milliwatts) OVER w,
                  reading_production_milliwatts) AS production_delta_mwh,
         COALESCE(reading_consumption_milliwatts
                  - LAG(reading_consumption_milliwatts) OVER w,
                  reading_consumption_milliwatts)
           - COALESCE(COALESCE(reading_production_milliwatts
                  - LAG(reading_production_milliwatts) OVER w,
                  reading_production_milliwatts), 0) AS net_delta_mwh,
         status = 'V' AS is_valid,
         status = 'E' AS is_estimated,
         status = 'R' AS is_error,
         reading_production_milliwatts IS NOT NULL AS has_solar
  FROM readings
  WINDOW w AS (PARTITION BY meter_id ORDER BY reading_timestamp)
"""


def _stg_cte(n_meters: int = N_METERS, n_ticks: int = N_TICKS) -> str:
    return f"""WITH {_readings_cte(n_meters, n_ticks)},
stg AS (
  SELECT *,
         CAST(consumption_delta_mwh AS DOUBLE) / 1000000.0 AS consumption_kwh,
         CAST(production_delta_mwh AS DOUBLE) / 1000000.0 AS production_kwh,
         CAST(net_delta_mwh AS DOUBLE) / 1000000.0 AS net_consumption_kwh
  FROM ({_STG_SELECT})
)"""


# ---------------------------------------------------------------------------
# Registered oracle-checked queries
# ---------------------------------------------------------------------------


def meter_readings_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gen_meter_readings(spark)


register(
    "meter_readings",
    f"""WITH {_readings_cte()}
SELECT * FROM readings""",
)(meter_readings_q)


def meter_stg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stg_transform(gen_meter_readings(spark))


register(
    "meter_stg",
    f"""{_stg_cte()}
SELECT reading_timestamp, meter_id, cumulative_consumption_mwh,
       cumulative_production_mwh, status, consumption_delta_mwh,
       production_delta_mwh, net_delta_mwh, consumption_kwh, production_kwh,
       net_consumption_kwh, is_valid, is_estimated, is_error, has_solar
FROM stg""",
)(meter_stg_q)


def meter_billing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fact_customer_billing_daily(
        hourly_meter_rollup(stg_transform(gen_meter_readings(spark))),
        gen_dim_meters(spark),
        gen_dim_customers(spark),
        gen_dim_tariff_rates(spark),
    )


_BILLING_SQL = f"""{_stg_cte()},
dim_meters AS ({_dim_meters_sql()}),
dim_customers AS ({_dim_customers_sql()}),
daily_meter AS (
  SELECT CAST(date_trunc('day', reading_timestamp) AS DATE) AS billing_date,
         meter_id,
         SUM(consumption_delta_mwh) AS cons_mwh,
         SUM(production_delta_mwh) AS prod_mwh,
         SUM(net_delta_mwh) AS net_mwh,
         COUNT(*) AS reading_count,
         CAST(SUM(CASE WHEN is_valid THEN 1 ELSE 0 END) AS BIGINT) AS valid_reading_count,
         CAST(SUM(CASE WHEN is_estimated THEN 1 ELSE 0 END) AS BIGINT) AS estimated_reading_count,
         CAST(SUM(CASE WHEN is_error THEN 1 ELSE 0 END) AS BIGINT) AS error_reading_count,
         CAST(MAX(CASE WHEN has_solar THEN 1 ELSE 0 END) AS BOOLEAN) AS has_solar
  FROM stg GROUP BY 1, 2
),
cust AS (
  SELECT billing_date, m.customer_id, c.customer_name,
         CAST(SUM(cons_mwh) AS BIGINT) AS cons_mwh,
         CAST(SUM(prod_mwh) AS BIGINT) AS prod_mwh,
         CAST(SUM(net_mwh) AS BIGINT) AS net_mwh,
         COUNT(DISTINCT d.meter_id) AS meter_count,
         CAST(SUM(reading_count) AS BIGINT) AS total_reading_count,
         CAST(SUM(valid_reading_count) AS BIGINT) AS valid_reading_count,
         CAST(SUM(estimated_reading_count) AS BIGINT) AS estimated_reading_count,
         CAST(SUM(error_reading_count) AS BIGINT) AS error_reading_count,
         CAST(MAX(CASE WHEN has_solar THEN 1 ELSE 0 END) AS BOOLEAN) AS has_solar
  FROM daily_meter d
  INNER JOIN dim_meters m ON d.meter_id = m.meter_id
  INNER JOIN dim_customers c ON m.customer_id = c.customer_id
  GROUP BY 1, 2, 3
)
SELECT billing_date, customer_id, customer_name,
       CAST(cons_mwh AS DOUBLE) / 1000000.0 AS total_consumption_kwh,
       CAST(prod_mwh AS DOUBLE) / 1000000.0 AS total_production_kwh,
       CAST(net_mwh AS DOUBLE) / 1000000.0 AS total_net_consumption_kwh,
       CAST(cons_mwh AS DOUBLE) / 1000000.0
         * CAST(CAST(0.2800 AS DECIMAL(6,4)) AS DOUBLE) AS consumption_charge,
       CAST(prod_mwh AS DOUBLE) / 1000000.0
         * CAST(CAST(0.2800 AS DECIMAL(6,4)) AS DOUBLE) AS production_credit,
       CAST(net_mwh AS DOUBLE) / 1000000.0
         * CAST(CAST(0.2800 AS DECIMAL(6,4)) AS DOUBLE) AS net_charge,
       meter_count, total_reading_count, valid_reading_count,
       estimated_reading_count, error_reading_count, has_solar,
       CASE WHEN total_reading_count > 0
            THEN CAST(valid_reading_count AS DOUBLE)
                 / CAST(total_reading_count AS DOUBLE) * 100.0
            ELSE 0.0 END AS data_quality_pct
FROM cust"""

register("meter_billing_daily", _BILLING_SQL)(meter_billing_q)


def meter_grid_load_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fact_grid_load_hourly(
        hourly_meter_rollup(stg_transform(gen_meter_readings(spark))),
        gen_dim_meters(spark),
        gen_dim_grid_zones(spark),
    )


_GRID_LOAD_SQL = f"""{_stg_cte()},
dim_meters AS ({_dim_meters_sql()}),
dim_grid_zones AS ({_grid_zones_sql()}),
hourly_meter AS (
  SELECT date_trunc('hour', reading_timestamp) AS load_hour, meter_id,
         SUM(consumption_delta_mwh) AS cons_mwh,
         SUM(production_delta_mwh) AS prod_mwh,
         SUM(net_delta_mwh) AS net_mwh,
         COUNT(*) AS reading_count,
         CAST(SUM(CASE WHEN is_valid THEN 1 ELSE 0 END) AS BIGINT) AS valid_reading_count
  FROM stg GROUP BY 1, 2
),
zone AS (
  SELECT load_hour, m.grid_zone_id, gz.zone_name, gz.zone_type,
         gz.max_capacity_megawatts,
         CAST(SUM(cons_mwh) AS BIGINT) AS cons_mwh,
         CAST(SUM(prod_mwh) AS BIGINT) AS prod_mwh,
         CAST(SUM(net_mwh) AS BIGINT) AS net_mwh,
         COUNT(DISTINCT h.meter_id) AS active_meter_count,
         CAST(SUM(reading_count) AS BIGINT) AS total_reading_count,
         CAST(SUM(valid_reading_count) AS BIGINT) AS valid_reading_count
  FROM hourly_meter h
  INNER JOIN dim_meters m ON h.meter_id = m.meter_id
  INNER JOIN dim_grid_zones gz ON m.grid_zone_id = gz.grid_zone_id
  GROUP BY 1, 2, 3, 4, 5
)
SELECT load_hour, grid_zone_id, zone_name, zone_type, max_capacity_megawatts,
       CAST(cons_mwh AS DOUBLE) / 1000000.0 AS total_consumption_kwh,
       CAST(prod_mwh AS DOUBLE) / 1000000.0 AS total_production_kwh,
       CAST(net_mwh AS DOUBLE) / 1000000.0 AS total_net_consumption_kwh,
       CAST(net_mwh AS DOUBLE) / 1000000.0 / 1000.0 AS total_net_consumption_mwh,
       CASE WHEN max_capacity_megawatts > 0
            THEN CAST(net_mwh AS DOUBLE) / 1000000.0 / 1000.0
                 / max_capacity_megawatts * 100.0
            ELSE 0.0 END AS capacity_utilization_pct,
       max_capacity_megawatts > 0 AND
         CAST(net_mwh AS DOUBLE) / 1000000.0 / 1000.0 / max_capacity_megawatts
           > 0.8 AS is_peak_load,
       max_capacity_megawatts > 0 AND
         CAST(net_mwh AS DOUBLE) / 1000000.0 / 1000.0 / max_capacity_megawatts
           > 0.95 AS is_critical_load,
       active_meter_count, total_reading_count, valid_reading_count,
       CASE WHEN total_reading_count > 0
            THEN CAST(valid_reading_count AS DOUBLE)
                 / CAST(total_reading_count AS DOUBLE) * 100.0
            ELSE 0.0 END AS data_quality_pct
FROM zone"""

register("meter_grid_load_hourly", _GRID_LOAD_SQL)(meter_grid_load_q)


def meter_dims_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension generation (S10 + P13/P14): dims joined into one
    verification row-set — meter ⋈ customer ⋈ zone."""
    m = gen_dim_meters(spark)
    c = gen_dim_customers(spark)
    z = gen_dim_grid_zones(spark)
    return (
        m.join(c, "customer_id", "inner")
        .join(F.broadcast(z), "grid_zone_id", "inner")
        .select(
            "meter_id",
            "meter_idn",
            "melo",
            "malo_cons",
            "malo_prod",
            "gateway_idn",
            "customer_id",
            "customer_name",
            "account_status",
            "grid_zone_id",
            "zone_name",
            "zone_type",
            "max_capacity_megawatts",
        )
    )


register(
    "meter_dims",
    f"""WITH dim_meters AS ({_dim_meters_sql()}),
dim_customers AS ({_dim_customers_sql()}),
dim_grid_zones AS ({_grid_zones_sql()})
SELECT meter_id, meter_idn, melo, malo_cons, malo_prod, gateway_idn,
       c.customer_id, customer_name, account_status,
       z.grid_zone_id, zone_name, zone_type, max_capacity_megawatts
FROM dim_meters m
INNER JOIN dim_customers c ON m.customer_id = c.customer_id
INNER JOIN dim_grid_zones z ON m.grid_zone_id = z.grid_zone_id""",
)(meter_dims_q)


def meter_quality_checks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dbt data tests (sources.yml: not_null, unique,
    accepted_values) plus the schema CHECK constraints
    (01_create_schema.sql:84-93) as one assertion query — every
    violation count must be 0."""
    r = gen_meter_readings(spark)
    checks = [
        (
            "not_null_required",
            F.sum(
                F.when(
                    F.col("reading_timestamp").isNull() | F.col("meter_id").isNull(), 1
                ).otherwise(0)
            ),
        ),
        (
            "accepted_status",
            F.sum(F.when(~F.col("status").isin("V", "E", "R"), 1).otherwise(0)),
        ),
        (
            "non_negative",
            F.sum(
                F.when(
                    (F.col("reading_consumption_milliwatts") < 0)
                    | (F.col("reading_production_milliwatts") < 0),
                    1,
                ).otherwise(0)
            ),
        ),
        (
            "at_least_one_reading",
            F.sum(
                F.when(
                    F.col("reading_consumption_milliwatts").isNull()
                    & F.col("reading_production_milliwatts").isNull(),
                    1,
                ).otherwise(0)
            ),
        ),
        (
            "unique_pk",
            F.count(F.lit(1))
            - F.countDistinct("reading_timestamp", "meter_id"),
        ),
    ]
    agg = r.agg(*[expr.cast("bigint").alias(name) for name, expr in checks])
    stack = ", ".join(f"'{name}', {name}" for name, _ in checks)
    return agg.selectExpr(
        f"stack({len(checks)}, {stack}) AS (check_name, n_violations)"
    )


register(
    "meter_quality_checks",
    f"""WITH {_readings_cte()},
agg AS (
  SELECT
    CAST(SUM(CASE WHEN reading_timestamp IS NULL OR meter_id IS NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS not_null_required,
    CAST(SUM(CASE WHEN status NOT IN ('V','E','R') THEN 1 ELSE 0 END) AS BIGINT)
      AS accepted_status,
    CAST(SUM(CASE WHEN reading_consumption_milliwatts < 0
                    OR reading_production_milliwatts < 0
             THEN 1 ELSE 0 END) AS BIGINT) AS non_negative,
    CAST(SUM(CASE WHEN reading_consumption_milliwatts IS NULL
                   AND reading_production_milliwatts IS NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS at_least_one_reading,
    COUNT(*) - COUNT(DISTINCT (reading_timestamp, meter_id)) AS unique_pk
  FROM readings
)
SELECT check_name, n_violations FROM (
  SELECT 'not_null_required' AS check_name, not_null_required AS n_violations FROM agg
  UNION ALL SELECT 'accepted_status', accepted_status FROM agg
  UNION ALL SELECT 'non_negative', non_negative FROM agg
  UNION ALL SELECT 'at_least_one_reading', at_least_one_reading FROM agg
  UNION ALL SELECT 'unique_pk', unique_pk FROM agg
)""",
)(meter_quality_checks_q)


def meter_sim_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python batch DataSource under the hash gate: the
    SAME oracle as ``meter_readings``, reached through a completely
    different execution path — registered source, partition-parallel
    Python generation with local cumulative sums (no window Exchange),
    filter-pushdown machinery engaged (same proof pattern as
    ``events_salted_rollup``: different physical plan, identical
    relation)."""
    from smart_meter_data_pipeline_spark.sources.meter_sim_source import (
        make_meter_sim_source,
    )

    try:
        spark.dataSource.register(make_meter_sim_source())
    except Exception:
        pass  # already registered in this session
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    return (
        spark.read.format("meter_sim")
        .option("n_meters", str(N_METERS))
        .option("n_ticks", str(N_TICKS))
        .load()
    )


def _register_meter_sim_scan() -> None:
    from smart_meter_data_pipeline_spark.plans.registry import ORACLES

    register("meter_sim_source_scan", ORACLES["meter_readings"])(
        meter_sim_source_scan
    )


_register_meter_sim_scan()


def manifest_cow_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end proof of the manifest table's copy-on-write engine,
    shaped as an oracle-checkable query: build a table from the
    deterministic generator, UPSERT a restatement (meters ≡3 mod 7 at
    +10007 milliwatts, carrying a NEW ``correction_source`` column —
    schema evolution through the MERGE path), DELETE meters ≡5 mod
    11, then read the final state. The DuckDB twin computes the same
    end state relationally, so the oracle hash-checks the whole
    append → upsert → delete → evolved-read lifecycle, not just unit
    behavior (sources/manifest.py; reference parity: the PK sink of
    consumer/meter_consumer.py:104-114 extended to MERGE/DELETE).

    The table lives in a throwaway tmpdir; the result is eagerly
    localCheckpoint'ed so the dir can be removed before return."""
    import os
    import shutil
    import tempfile


    workdir = tempfile.mkdtemp(prefix="manifest_cow_q_")
    try:
        t = ManifestTable(os.path.join(workdir, "fact"))
        readings = gen_meter_readings(spark)
        t.idempotent_append(spark, readings)
        restated = (
            readings.filter(F.col("meter_id") % 7 == 3)
            .withColumn(
                "reading_consumption_milliwatts",
                F.col("reading_consumption_milliwatts") + F.lit(10007),
            )
            .withColumn("correction_source", F.lit("restated"))
        )
        upsert(t, spark, restated)
        doomed = readings.filter(F.col("meter_id") % 11 == 5).select(
            "reading_timestamp", "meter_id"
        )
        delete_keys(t, spark, doomed)
        final = t.read(spark).select(
            "reading_timestamp",
            "meter_id",
            "reading_consumption_milliwatts",
            "reading_production_milliwatts",
            "status",
            "correction_source",
        )
        return final.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "manifest_cow_roundtrip",
    f"""WITH {_readings_cte()}
SELECT reading_timestamp, meter_id,
       CAST(CASE WHEN meter_id % 7 = 3
                 THEN reading_consumption_milliwatts + 10007
                 ELSE reading_consumption_milliwatts END AS INT)
           AS reading_consumption_milliwatts,
       reading_production_milliwatts, status,
       CASE WHEN meter_id % 7 = 3 THEN 'restated' ELSE NULL END
           AS correction_source
FROM readings
WHERE meter_id % 11 <> 5""",
)(manifest_cow_roundtrip)


def manifest_upsert_partial_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Partial-column MERGE under the oracle gate: land the generator
    day, then ``upsert_partial`` a batch carrying ONLY (pk, status) —
    meters ≡2 mod 9 restated to status 'P' (their consumption /
    production must CARRY FORWARD from the current image) plus one
    genuinely new key (NULL in every unspecified column). One hash
    over the final table proves restatement, carry-forward, and
    new-key insertion at once (sources/manifest_cow.py upsert_partial —
    the ``UPDATE SET col = source.col`` half of Delta MERGE the plain
    wholesale upsert rejects)."""
    import os
    import shutil
    import tempfile


    workdir = tempfile.mkdtemp(prefix="manifest_up_part_q_")
    try:
        t = ManifestTable(os.path.join(workdir, "fact"))
        readings = gen_meter_readings(spark)
        t.idempotent_append(spark, readings)
        partial = (
            readings.filter(F.col("meter_id") % 9 == 2)
            .select("reading_timestamp", "meter_id")
            .withColumn("status", F.lit("P"))
        )
        new_key = spark.range(1).select(
            F.lit("2024-01-02 00:00:00")
            .cast("timestamp")
            .alias("reading_timestamp"),
            F.lit(777).cast("int").alias("meter_id"),
            F.lit("N").alias("status"),
        )
        res = upsert_partial(t, spark, partial.unionByName(new_key))
        n_restated = sum(
            1 for m_ in range(1, N_METERS + 1) if m_ % 9 == 2
        )
        if res != {"updated": n_restated * N_TICKS, "inserted": 1}:
            raise AssertionError(
                f"upsert_partial counters off: {res} "
                f"(wanted updated={n_restated * N_TICKS}, inserted=1)"
            )
        return t.read(spark).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "manifest_upsert_partial_roundtrip",
    f"""WITH {_readings_cte()}
SELECT reading_timestamp, meter_id, reading_consumption_milliwatts,
       reading_production_milliwatts,
       CASE WHEN meter_id % 9 = 2 THEN 'P' ELSE status END AS status
FROM readings
UNION ALL
SELECT TIMESTAMP '2024-01-02 00:00:00', CAST(777 AS INT),
       CAST(NULL AS INT), CAST(NULL AS INT), 'N'""",
)(manifest_upsert_partial_roundtrip)


def manifest_upsert_if_newer_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ordering-guarded MERGE under the oracle gate: a LATEST-STATE
    table (one row per meter — the final generator tick, pk =
    meter_id alone, version = reading_timestamp) fed a deliberately
    out-of-order batch: meters ≡0 mod 4 arrive NEWER (+1 day, +111
    mWh — must update), ≡1 mod 4 arrive STALE (−1 day — must be
    dropped, never regressing the row), ≡2 mod 4 arrive as exact
    ties (+222 mWh — update, idempotent-replay semantics), plus one
    new meter. One hash over the final state covers
    stale / newer / tie / new at once (sources/manifest.py
    upsert_if_newer — the CDC consumer's late-feed guard). The
    timestamp-free pk also exercises the round-11 date-prune
    soundness rule (a moved row's OLD file must still be found)."""
    import os
    import shutil
    import tempfile


    workdir = tempfile.mkdtemp(prefix="manifest_if_newer_q_")
    try:
        t = ManifestTable(os.path.join(workdir, "latest"))
        readings = gen_meter_readings(spark)
        last_ts = f"timestampadd(MINUTE, {(N_TICKS - 1) * 15}, timestamp'{GEN_START}')"
        latest = readings.filter(
            F.col("reading_timestamp") == F.expr(last_ts)
        )
        pk = ["meter_id"]
        t.idempotent_append(spark, latest, pk=pk)
        m = F.col("meter_id")
        cons = F.col("reading_consumption_milliwatts")
        newer = (
            latest.filter(m % 4 == 0)
            .withColumn(
                "reading_timestamp",
                F.expr("timestampadd(DAY, 1, reading_timestamp)"),
            )
            .withColumn(
                "reading_consumption_milliwatts",
                (cons + F.lit(111)).cast("int"),
            )
        )
        stale = latest.filter(m % 4 == 1).withColumn(
            "reading_timestamp",
            F.expr("timestampadd(DAY, -1, reading_timestamp)"),
        )
        tie = latest.filter(m % 4 == 2).withColumn(
            "reading_consumption_milliwatts",
            (cons + F.lit(222)).cast("int"),
        )
        new_row = spark.range(1).select(
            F.lit("2024-01-03 00:00:00")
            .cast("timestamp")
            .alias("reading_timestamp"),
            F.lit(900).cast("int").alias("meter_id"),
            F.lit(12345).cast("int").alias(
                "reading_consumption_milliwatts"
            ),
            F.lit(None).cast("int").alias(
                "reading_production_milliwatts"
            ),
            F.lit("V").alias("status"),
        )
        batch = (
            newer.unionByName(stale)
            .unionByName(tie)
            .unionByName(new_row)
        )
        res = upsert_if_newer(
            t, spark, batch, "reading_timestamp", pk=pk
        )
        if res != {"updated": 100, "inserted": 1, "skipped_stale": 50}:
            raise AssertionError(
                f"upsert_if_newer counters off: {res}"
            )
        return t.read(spark).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "manifest_upsert_if_newer_roundtrip",
    f"""WITH {_readings_cte()},
latest AS (
  SELECT * FROM readings
  WHERE reading_timestamp =
        TIMESTAMP '{GEN_START}' + to_minutes({(N_TICKS - 1) * 15})
)
SELECT CASE WHEN meter_id % 4 = 0
            THEN reading_timestamp + INTERVAL 1 DAY
            ELSE reading_timestamp END AS reading_timestamp,
       meter_id,
       CAST(CASE WHEN meter_id % 4 = 0
                 THEN reading_consumption_milliwatts + 111
                 WHEN meter_id % 4 = 2
                 THEN reading_consumption_milliwatts + 222
                 ELSE reading_consumption_milliwatts END AS INT)
           AS reading_consumption_milliwatts,
       reading_production_milliwatts, status
FROM latest
UNION ALL
SELECT TIMESTAMP '2024-01-03 00:00:00', CAST(900 AS INT),
       CAST(12345 AS INT), CAST(NULL AS INT), 'V'""",
)(manifest_upsert_if_newer_roundtrip)


def catalog_multi_table_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-level MULTI-TABLE transaction under the oracle gate
    (sources/catalog.py — the Nessie model: one put-if-absent catalog
    commit embeds every touched table's commit payload, and readers
    resolve state through the catalog chain only). The reference gets
    fact+dim atomicity for free from Postgres transactions
    (consumer/meter_consumer.py's txn-per-batch); this is that
    guarantee rebuilt for an object store, where no table-local
    protocol can provide it. Scenario: txn1 lands the generator day
    AND its meters dimension atomically; a CRASHED txn stages a
    second day plus dim changes and dies before its catalog commit
    (asserted invisible in BOTH tables — the atomic-failure half);
    txn2 lands a next-day fact subset AND new dim rows together. The
    hash is over fact ⋈ dim at the final catalog state, so per-table
    contents, cross-table consistency, and the crashed txn's
    invisibility all sit under one oracle; catalog version-0 reads
    are asserted to show the txn1 state of both tables (pinned-
    version cross-table consistency)."""
    import os
    import shutil
    import tempfile

    from smart_meter_data_pipeline_spark.sources.catalog import Catalog

    workdir = tempfile.mkdtemp(prefix="catalog_txn_q_")
    try:
        cat = Catalog(os.path.join(workdir, "cat"))
        readings = gen_meter_readings(spark)
        dim = (
            readings.select("meter_id")
            .distinct()
            .withColumn("is_solar", F.col("meter_id") % 2 == 0)
            .withColumn("zone", (F.col("meter_id") % 10).cast("int"))
        )
        t1 = cat.txn()
        t1.append(spark, "fact", readings)
        t1.append(spark, "dim_meters", dim, pk=["meter_id"])
        t1.commit()
        n_fact0 = cat.read(spark, "fact").count()
        n_dim0 = cat.read(spark, "dim_meters").count()
        next_day = readings.filter(F.col("meter_id") % 3 == 0).withColumn(
            "reading_timestamp",
            F.expr("timestampadd(DAY, 1, reading_timestamp)"),
        ).withColumn(
            "reading_consumption_milliwatts",
            (F.col("reading_consumption_milliwatts") + F.lit(101)).cast(
                "int"
            ),
        )
        new_dims = dim.withColumn(
            "meter_id", (F.col("meter_id") + 1000).cast("int")
        )
        crashed = cat.txn()
        crashed.append(spark, "fact", next_day)
        crashed.append(spark, "dim_meters", new_dims, pk=["meter_id"])
        # ...and dies before commit. Both tables must be untouched:
        if (
            cat.read(spark, "fact").count() != n_fact0
            or cat.read(spark, "dim_meters").count() != n_dim0
        ):
            raise AssertionError("crashed txn leaked into a table")
        t2 = cat.txn()
        t2.append(spark, "fact", next_day)
        t2.append(spark, "dim_meters", new_dims, pk=["meter_id"])
        t2.commit()
        # pinned-version cross-table consistency: catalog v0 shows
        # BOTH tables as of txn1
        if (
            cat.read(spark, "fact", version=0).count() != n_fact0
            or cat.read(spark, "dim_meters", version=0).count() != n_dim0
        ):
            raise AssertionError("catalog version pinning broken")
        if cat.read(spark, "dim_meters").count() != 2 * n_dim0:
            raise AssertionError("txn2 dim rows missing")
        final = (
            cat.read(spark, "fact")
            .join(cat.read(spark, "dim_meters"), "meter_id")
            .select(
                "reading_timestamp",
                "meter_id",
                "reading_consumption_milliwatts",
                "is_solar",
                "zone",
            )
        )
        return final.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "catalog_multi_table_txn",
    f"""WITH {_readings_cte()},
dim AS (
  SELECT DISTINCT meter_id, meter_id % 2 = 0 AS is_solar,
         CAST(meter_id % 10 AS INT) AS zone
  FROM readings
),
fact AS (
  SELECT reading_timestamp, meter_id, reading_consumption_milliwatts
  FROM readings
  UNION ALL
  SELECT reading_timestamp + INTERVAL 1 DAY, meter_id,
         CAST(reading_consumption_milliwatts + 101 AS INT)
  FROM readings
  WHERE meter_id % 3 = 0
)
SELECT f.reading_timestamp, f.meter_id,
       f.reading_consumption_milliwatts, d.is_solar, d.zone
FROM fact f JOIN dim d USING (meter_id)""",
)(catalog_multi_table_txn)


def manifest_optimize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE under the oracle gate: land the generator day as many
    small commits (micro-batch ingest shape), bin-pack the files with
    :func:`~.manifest_services.optimize_table`, and return the packed table —
    against the PLAIN generator oracle, so any row the rewrite lost,
    duplicated, or altered breaks the hash. Also asserts the file
    count actually shrank (a no-op "optimize" would still hash
    correctly — the plan property is checked in-query)."""
    import os
    import shutil
    import tempfile


    workdir = tempfile.mkdtemp(prefix="manifest_opt_q_")
    try:
        t = ManifestTable(os.path.join(workdir, "fact"))
        readings = gen_meter_readings(spark)
        # 8 micro-batches → dozens of small part files
        for k in range(8):
            t.idempotent_append(
                spark, readings.filter(F.col("meter_id") % 8 == k)
            )
        n_before = len(t._files(t.snapshot()))
        res = optimize_table(t, spark, small_file_bytes=32 << 20)
        n_after = len(t._files(t.snapshot()))
        if not (res["files_rewritten"] == n_before and n_after < n_before):
            raise AssertionError(
                f"optimize did not shrink the file set: "
                f"{n_before} -> {n_after} ({res})"
            )
        return t.read(spark).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "manifest_optimize_roundtrip",
    f"""WITH {_readings_cte()}
SELECT * FROM readings""",
)(manifest_optimize_roundtrip)


def manifest_restore_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE under the oracle gate: land the generator day (v0),
    UPSERT a restatement (v1), DELETE a meter slice (v2), then
    RESTORE TO VERSION 0 and read — against the PLAIN generator
    oracle, so the rollback must byte-exactly undo both mutations
    (any survivor-rewrite row the restore failed to re-reference, or
    mutation row it failed to drop, breaks the hash). Also asserts
    in-query that the restore moved file references both ways and
    that v2 still time-travels to the post-delete state (history
    preserved — sources/manifest.py restore_version)."""
    import os
    import shutil
    import tempfile


    workdir = tempfile.mkdtemp(prefix="manifest_restore_q_")
    try:
        t = ManifestTable(os.path.join(workdir, "fact"))
        readings = gen_meter_readings(spark)
        t.idempotent_append(spark, readings)
        restated = readings.filter(F.col("meter_id") % 7 == 3).withColumn(
            "reading_consumption_milliwatts",
            F.col("reading_consumption_milliwatts") + F.lit(10007),
        )
        upsert(t, spark, restated)
        doomed = readings.filter(F.col("meter_id") % 11 == 5).select(
            "reading_timestamp", "meter_id"
        )
        delete_keys(t, spark, doomed)
        res = restore_version(t, 0)
        if not (res["files_readded"] > 0 and res["files_removed"] > 0):
            raise AssertionError(f"restore moved no references: {res}")
        n_v2 = read_as_of(t, spark, version=2).count()
        n_expected_v2 = readings.filter(
            F.col("meter_id") % 11 != 5
        ).count()
        if n_v2 != n_expected_v2:
            raise AssertionError(
                f"history lost: v2 has {n_v2} rows, expected "
                f"{n_expected_v2}"
            )
        return t.read(spark).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "manifest_restore_roundtrip",
    f"""WITH {_readings_cte()}
SELECT * FROM readings""",
)(manifest_restore_roundtrip)


def manifest_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDF under the oracle gate: land the generator day
    (v0), UPSERT a restatement (meters ≡3 mod 7 at +10007, v1), DELETE
    meters ≡5 mod 11 (v2), then read ``change_feed(0, 2)``. The oracle
    derives the exact expected feed relationally: update pre/post
    image pairs for restated-and-surviving meters, deletes carrying
    the ORIGINAL image for removed meters (including ones restated
    first — the net feed reports v0→v2), and NO rows for
    copy-on-write survivors. Exercises the snapshot-difference CDF
    (sources/manifest.py change_feed) end-to-end."""
    import os
    import shutil
    import tempfile


    workdir = tempfile.mkdtemp(prefix="manifest_cdf_q_")
    try:
        t = ManifestTable(os.path.join(workdir, "fact"))
        readings = gen_meter_readings(spark)
        t.idempotent_append(spark, readings)
        restated = readings.filter(F.col("meter_id") % 7 == 3).withColumn(
            "reading_consumption_milliwatts",
            F.col("reading_consumption_milliwatts") + F.lit(10007),
        )
        upsert(t, spark, restated)
        doomed = readings.filter(F.col("meter_id") % 11 == 5).select(
            "reading_timestamp", "meter_id"
        )
        delete_keys(t, spark, doomed)
        feed = change_feed(t, spark, 0, 2).select(
            "reading_timestamp",
            "meter_id",
            "reading_consumption_milliwatts",
            "reading_production_milliwatts",
            "status",
            "_change_type",
        )
        return feed.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "manifest_change_feed",
    f"""WITH {_readings_cte()}
SELECT reading_timestamp, meter_id,
       reading_consumption_milliwatts,
       reading_production_milliwatts, status,
       'update_preimage' AS _change_type
FROM readings WHERE meter_id % 7 = 3 AND meter_id % 11 <> 5
UNION ALL
SELECT reading_timestamp, meter_id,
       CAST(reading_consumption_milliwatts + 10007 AS INT),
       reading_production_milliwatts, status,
       'update_postimage'
FROM readings WHERE meter_id % 7 = 3 AND meter_id % 11 <> 5
UNION ALL
SELECT reading_timestamp, meter_id,
       reading_consumption_milliwatts,
       reading_production_milliwatts, status,
       'delete'
FROM readings WHERE meter_id % 11 = 5""",
)(manifest_change_feed)


def manifest_ivm_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance driven by the row-level change
    feed — the capstone use of ``change_feed``: a per-meter
    consumption rollup is materialized at v0, the table is then
    upserted (meters ≡3 mod 7 at +10007) and deleted from (meters ≡5
    mod 11), and the rollup is MAINTAINED by applying signed deltas
    from the feed (+post-images and inserts, −pre-images and deletes)
    — never re-reading the unchanged rows. The oracle recomputes the
    final rollup from scratch relationally, so the hash proves
    base ⊕ deltas ≡ full recompute exactly.

    This is the Δ-relation form of IVM for distributive aggregates
    (SUM/COUNT): cost ∝ |changes| (the feed reads only the snapshot
    file difference) + |affected groups|, the property that keeps a
    100 TB mart maintainable per commit instead of rebuilt per day.
    All-integer arithmetic (milliwatt sums in int64)."""
    import os
    import shutil
    import tempfile


    workdir = tempfile.mkdtemp(prefix="manifest_ivm_q_")
    try:
        t = ManifestTable(os.path.join(workdir, "fact"))
        readings = gen_meter_readings(spark)
        t.idempotent_append(spark, readings)
        base = (
            t.read(spark)
            .groupBy("meter_id")
            .agg(
                F.sum("reading_consumption_milliwatts").alias("total_mw"),
                F.count(F.lit(1)).alias("n_readings"),
            )
            .localCheckpoint(eager=True)
        )
        restated = readings.filter(F.col("meter_id") % 7 == 3).withColumn(
            "reading_consumption_milliwatts",
            F.col("reading_consumption_milliwatts") + F.lit(10007),
        )
        upsert(t, spark, restated)
        doomed = readings.filter(F.col("meter_id") % 11 == 5).select(
            "reading_timestamp", "meter_id"
        )
        delete_keys(t, spark, doomed)

        feed = change_feed(t, spark, 0, 2)
        sign = F.when(
            F.col("_change_type").isin("insert", "update_postimage"), 1
        ).otherwise(-1)
        delta = (
            feed.withColumn("w", sign)
            .groupBy("meter_id")
            .agg(
                F.sum(
                    F.col("w") * F.col("reading_consumption_milliwatts")
                ).alias("d_total"),
                F.sum("w").alias("d_count"),
            )
        )
        maintained = (
            base.join(delta, "meter_id", "full_outer")
            .select(
                "meter_id",
                (
                    F.coalesce(F.col("total_mw"), F.lit(0))
                    + F.coalesce(F.col("d_total"), F.lit(0))
                ).alias("total_mw"),
                (
                    F.coalesce(F.col("n_readings"), F.lit(0))
                    + F.coalesce(F.col("d_count"), F.lit(0))
                ).alias("n_readings"),
            )
            .filter(F.col("n_readings") > 0)
            .select(
                "meter_id",
                F.col("total_mw").cast("bigint").alias("total_mw"),
                F.col("n_readings").cast("bigint").alias("n_readings"),
            )
        )
        return maintained.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "manifest_ivm_rollup",
    f"""WITH {_readings_cte()}
SELECT meter_id,
       CAST(SUM(CASE WHEN meter_id % 7 = 3
                     THEN reading_consumption_milliwatts + 10007
                     ELSE reading_consumption_milliwatts END)
            AS BIGINT) AS total_mw,
       CAST(COUNT(*) AS BIGINT) AS n_readings
FROM readings
WHERE meter_id % 11 <> 5
GROUP BY meter_id""",
)(manifest_ivm_rollup)


def manifest_asof_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP AS OF under the oracle gate: land the generator day
    as TWO commits (even meters at v0, odd meters at v1), then

    - read ``asof`` v0's recorded ``committed_at`` and assert it
      resolves to v0 and sees exactly the even-meter rows,
    - assert an ``asof`` BEFORE the first commit raises (Delta's
      `timestampAsOf` error contract),
    - return the ``asof`` "now" read — against the PLAIN generator
      oracle, so timestamp resolution that picked the wrong version
      (or a read that dropped/duplicated rows) breaks the hash.

    Timestamp resolution is metadata-only (one commit-log listing, no
    data IO), same as read_as_of(version=) —
    sources/manifest_timetravel.py version_asof."""
    import os
    import shutil
    import tempfile
    import time as _time


    workdir = tempfile.mkdtemp(prefix="manifest_asof_q_")
    try:
        t = ManifestTable(os.path.join(workdir, "fact"))
        readings = gen_meter_readings(spark)
        t.idempotent_append(
            spark, readings.filter(F.col("meter_id") % 2 == 0)
        )
        t.idempotent_append(
            spark, readings.filter(F.col("meter_id") % 2 == 1)
        )
        ts0 = t.snapshot()[0]["committed_at"]
        if version_asof(t, ts0) != 0:
            raise AssertionError(
                f"asof(ts0) resolved to {version_asof(t, ts0)}, not 0"
            )
        n_v0 = read_as_of(t, spark, asof=ts0).count()
        n_even = readings.filter(F.col("meter_id") % 2 == 0).count()
        if n_v0 != n_even:
            raise AssertionError(
                f"asof v0 read {n_v0} rows, expected {n_even}"
            )
        try:
            version_asof(t, ts0 - 3600.0)
        except ValueError:
            pass
        else:
            raise AssertionError("pre-first-commit asof did not raise")
        return read_as_of(t, spark, asof=_time.time()).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "manifest_asof_read",
    f"""WITH {_readings_cte()}
SELECT * FROM readings""",
)(manifest_asof_read)


def _append_as_two_files(table, spark: SparkSession, df: DataFrame) -> None:
    """Land ``df`` in two appends (even and odd meters). OPTIMIZE packs
    only two or more small files, and one append of a day stages one
    file."""
    for parity in (0, 1):
        table.idempotent_append(
            spark, df.filter(F.col("meter_id") % 2 == parity)
        )


def manifest_skipping_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-path zone-map data skipping under the oracle gate: land
    the generator day, OPTIMIZE ZORDER on the PK so per-file
    (meter_id, reading_timestamp) ranges are narrow, then
    ``read_where(where={meter: range, ts: range})`` — a 2-D slice read that

    - asserts the zone maps actually SKIPPED files
      (``skipping_report``: files_read < files_live),
    - asserts the pruned read equals the unpruned
      ``read().filter(...)`` row-for-row in count (skipping is an IO
      optimization, never the correctness filter — files are
      immutable, so ANY stats column is sound on the read path,
      unlike mutation pruning's pk-only rule),
    - exercises an open-ended bound (``(150, None)``) the same way,
    - returns the sliced read against the plain filtered generator
      oracle, so a skip that hides a matching row (or a filter that
      leaks one) breaks the hash.

    This is the scan half of the clustering story the mutation bench
    already proves: OPTIMIZE (ZORDER) narrows per-file stats exactly
    so point/range reads open O(matching) files at 100 TB instead of
    all of them (Delta/Iceberg data-skipping semantics)."""
    import datetime as _dt
    import os
    import shutil
    import tempfile


    workdir = tempfile.mkdtemp(prefix="manifest_skip_q_")
    try:
        pk = ["meter_id", "reading_timestamp"]
        t = ManifestTable(
            os.path.join(workdir, "fact"), stats_columns=pk
        )
        readings = gen_meter_readings(spark)
        _append_as_two_files(t, spark, readings)
        optimize_table(
            t, spark, target_partitions=16, cluster_by=pk, zorder=True
        )
        lo_ts = _dt.datetime(2024, 1, 1, 10, 0, 0)
        hi_ts = _dt.datetime(2024, 1, 1, 13, 45, 0)
        where = {"meter_id": (40, 90), "reading_timestamp": (lo_ts, hi_ts)}
        rep = skipping_report(t, where)
        if not (0 < rep["files_read"] < rep["files_live"]):
            raise AssertionError(f"zone maps skipped nothing: {rep}")
        n_pruned = read_where(t, spark, where=where).count()
        n_plain = (
            t.read(spark)
            .filter(F.col("meter_id").between(40, 90))
            .filter(F.col("reading_timestamp").between(lo_ts, hi_ts))
            .count()
        )
        if n_pruned != n_plain:
            raise AssertionError(
                f"pruned read {n_pruned} rows != filtered {n_plain}"
            )
        open_where = {"meter_id": (150, None)}
        n_open = read_where(t, spark, where=open_where).count()
        n_open_plain = t.read(spark).filter("meter_id >= 150").count()
        if n_open != n_open_plain:
            raise AssertionError(
                f"open-ended read {n_open} != {n_open_plain}"
            )
        return read_where(t, spark, where=where).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "manifest_skipping_read",
    f"""WITH {_readings_cte()}
SELECT * FROM readings
WHERE meter_id BETWEEN 40 AND 90
  AND reading_timestamp BETWEEN TIMESTAMP '2024-01-01 10:00:00'
                            AND TIMESTAMP '2024-01-01 13:45:00'""",
)(manifest_skipping_read)


_PLAN_CASE = (
    "CASE meter_id % 4 WHEN 0 THEN 'basic' WHEN 1 THEN 'timeofuse' "
    "WHEN 2 THEN 'solar_net' ELSE 'prepaid' END"
)


def manifest_dict_skipping_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Read-path DICTIONARY data skipping under the oracle gate — the
    string complement of ``manifest_skipping_read``'s zone maps: land
    the generator day with a derived ``tariff_plan`` STRING column
    (meter_id % 4 → four plans), appended one plan per batch so each
    file's recorded distinct-value dictionary is a single plan, then
    ``read_where(where_in={tariff_plan: ['timeofuse']})`` — a categorical
    point lookup that

    - asserts the dictionaries actually SKIPPED files
      (``skipping_report``: files_read < files_live — zone maps and
      Blooms are numeric-only, so only the dictionary index can skip
      here),
    - asserts the pruned read equals the unpruned
      ``read().filter(...)`` in count (skipping is an IO
      optimization, never the correctness filter),
    - returns the pruned read against the plain filtered generator
      oracle, so a skip that hides a matching row breaks the hash.

    At 100 TB this is the fleet/source/region slice read: a
    low-cardinality string partition-ish column without physical
    partitioning — the commit log's per-file dictionaries open
    O(matching) files from metadata alone (Delta/Iceberg categorical
    data-skipping semantics; sources/manifest.py _file_blooms list
    encoding)."""
    import os
    import shutil
    import tempfile


    workdir = tempfile.mkdtemp(prefix="manifest_dict_q_")
    try:
        t = ManifestTable(
            os.path.join(workdir, "fact"),
            dict_columns=["tariff_plan"],
        )
        readings = gen_meter_readings(spark).withColumn(
            "tariff_plan", F.expr(_PLAN_CASE)
        )
        for plan in ("basic", "timeofuse", "solar_net", "prepaid"):
            t.idempotent_append(
                spark, readings.filter(F.col("tariff_plan") == plan)
            )
        rep = skipping_report(t, where_in={"tariff_plan": ["timeofuse"]})
        if not (0 < rep["files_read"] < rep["files_live"]):
            raise AssertionError(f"dictionaries skipped nothing: {rep}")
        pruned = read_where(t, spark, where_in={"tariff_plan": ["timeofuse"]})
        n_plain = (
            t.read(spark)
            .filter(F.col("tariff_plan") == "timeofuse")
            .count()
        )
        if pruned.count() != n_plain:
            raise AssertionError(
                f"pruned read {pruned.count()} rows != filtered {n_plain}"
            )
        return pruned.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "manifest_dict_skipping_read",
    f"""WITH {_readings_cte()}
SELECT *, {_PLAN_CASE} AS tariff_plan
FROM readings
WHERE meter_id % 4 = 1""",
)(manifest_dict_skipping_read)


def manifest_bloom_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom point-lookup reads under the oracle gate — the
    needle-in-haystack case zone maps CANNOT handle: the generator day
    lands as 8 HASH-SHARDED commits (``meter_id % 8``), so every
    file's meter [min, max] spans nearly the whole ID space (range
    stats prune nothing) while file MEMBERSHIPS are disjoint (the
    per-file Bloom index prunes surgically). Asserts

    - zone maps alone keep ALL files for the point set {5, 14}
      (ranges overlap — the honest negative control),
    - blooms keep exactly the two shards holding meters 5 (5 % 8) and
      14 (6 % 8),
    - the bloom-pruned read equals the unpruned IN-filter read,

    then returns the point lookup against the filtered generator
    oracle. With zone maps (manifest_skipping_read) this completes
    the Delta/Iceberg data-skipping pair: ranges for clustered
    layouts, blooms for point lookups on unclustered ones."""
    import os
    import shutil
    import tempfile


    workdir = tempfile.mkdtemp(prefix="manifest_bloom_q_")
    try:
        t = ManifestTable(
            os.path.join(workdir, "fact"),
            stats_columns=["meter_id"],
            bloom_columns=["meter_id"],
        )
        readings = gen_meter_readings(spark)
        for shard in range(8):
            t.idempotent_append(
                spark,
                readings.filter(
                    F.col("meter_id") % 8 == shard
                ).repartition(1),
            )
        lookup = [5, 14]
        # negative control: hash-sharded ranges overlap, stats keep all
        rep_stats = skipping_report(
            t,
            where={"meter_id": (min(lookup), max(lookup))}
        )
        if rep_stats["files_skipped"] != 0:
            raise AssertionError(
                f"hash shards should defeat zone maps: {rep_stats}"
            )
        rep = skipping_report(t, where_in={"meter_id": lookup})
        if rep["files_read"] != 2:
            raise AssertionError(f"bloom kept {rep} files, wanted 2")
        n_pruned = read_where(t, spark, where_in={"meter_id": lookup}).count()
        n_plain = (
            t.read(spark).filter(F.col("meter_id").isin(lookup)).count()
        )
        if n_pruned != n_plain:
            raise AssertionError(f"{n_pruned} != {n_plain}")
        return read_where(
            t, spark, where_in={"meter_id": lookup}
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "manifest_bloom_read",
    f"""WITH {_readings_cte()}
SELECT * FROM readings WHERE meter_id IN (5, 14)""",
)(manifest_bloom_read)


def manifest_retention_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range retention DELETE under the oracle gate: the generator day
    lands as hourly-clustered files (OPTIMIZE on reading_timestamp),
    then ``delete_where(ts <= 05:59)`` sweeps the first six hours —
    asserting the sweep DROPPED whole files by metadata alone
    (files_dropped >= 1) and rewrote at most one straddler (the
    time-clustered-retention price: O(straddling files), zero bytes
    moved for the rest), then returns the surviving table against the
    filtered generator oracle — a drop that swept a row it shouldn't
    have (or a straddler rewrite that lost one) breaks the hash."""
    import datetime as _dt
    import os
    import shutil
    import tempfile


    workdir = tempfile.mkdtemp(prefix="manifest_ret_q_")
    try:
        t = ManifestTable(os.path.join(workdir, "fact"))
        _append_as_two_files(t, spark, gen_meter_readings(spark))
        optimize_table(
            t,
            spark,
            target_partitions=24,
            cluster_by=["reading_timestamp"],
        )
        res = delete_where(
            t,
            spark,
            "reading_timestamp",
            hi=_dt.datetime(2024, 1, 1, 5, 59, 59),
        )
        if res["files_dropped"] < 1:
            raise AssertionError(
                f"retention sweep dropped no whole files: {res}"
            )
        if res["files_rewritten"] > 2:
            raise AssertionError(
                f"time-clustered sweep rewrote too much: {res}"
            )
        expected_deleted = 200 * 24  # 6h of 15-min ticks x 200 meters
        if res["rows_deleted"] != expected_deleted:
            raise AssertionError(
                f"deleted {res['rows_deleted']} rows, "
                f"wanted {expected_deleted}"
            )
        return t.read(spark).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "manifest_retention_delete",
    f"""WITH {_readings_cte()}
SELECT * FROM readings
WHERE reading_timestamp > TIMESTAMP '2024-01-01 05:59:59'""",
)(manifest_retention_delete)


def manifest_drop_column_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE DROP COLUMN under the oracle gate: land the
    generator day, drop the solar-production column by a metadata-only
    marker commit (bytes stay in the files; zero rewrite), assert the
    pre-drop version still time-travels WITH the column, then return
    the post-drop read against the generator oracle minus that column
    — a drop that leaked the column (or disturbed any other value)
    breaks the schema/hash check."""
    import os
    import shutil
    import tempfile


    workdir = tempfile.mkdtemp(prefix="manifest_dropcol_q_")
    try:
        t = ManifestTable(os.path.join(workdir, "fact"))
        t.idempotent_append(spark, gen_meter_readings(spark))
        files_before = sorted(t._files(t.snapshot()))
        alter_drop_column(t, "reading_production_milliwatts")
        if sorted(t._files(t.snapshot())) != files_before:
            raise AssertionError("drop-column moved data files")
        pre = read_as_of(t, spark, version=0)
        if "reading_production_milliwatts" not in pre.columns:
            raise AssertionError("time travel lost the dropped column")
        return t.read(spark).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "manifest_drop_column_read",
    f"""WITH {_readings_cte()}
SELECT reading_timestamp, meter_id, reading_consumption_milliwatts,
       status
FROM readings""",
)(manifest_drop_column_read)


def meter_load_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load factor per meter — the power-industry utilization KPI
    (average load / peak load; a factor near 1 is a flat, efficient
    profile, near 0 a peaky one that drives capacity cost): computed
    over the staged interval deltas as
    lf_micro = (1e6·Σdelta) div (n·max_delta), all int64. Grid
    planners rank retrofit/tariff candidates by exactly this table.

    Scale shape: rides the staged deltas (one LAG pass, shared with
    meter_stg); one per-meter rollup of three integers. Reference
    parity: extends fact_grid_load_hourly.sql's utilization framing
    (grid:85-104) from zone-hour to per-meter lifetime."""
    stg = stg_transform(gen_meter_readings(spark))
    per = stg.filter(F.col("consumption_delta_mwh").isNotNull()).groupBy(
        "meter_id"
    ).agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("consumption_delta_mwh").alias("sum_delta"),
        F.max("consumption_delta_mwh").alias("peak_delta"),
    )
    return per.select(
        "meter_id",
        F.col("n_intervals").cast("bigint").alias("n_intervals"),
        F.col("peak_delta").cast("bigint").alias("peak_delta_mwh"),
        F.expr(
            "CASE WHEN peak_delta > 0"
            " THEN CAST((1000000 * sum_delta) div (n_intervals * peak_delta)"
            " AS BIGINT) ELSE NULL END"
        ).alias("load_factor_micro"),
    )


register(
    "meter_load_factor",
    f"""{_stg_cte()}
SELECT meter_id,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(MAX(consumption_delta_mwh) AS BIGINT) AS peak_delta_mwh,
       CASE WHEN MAX(consumption_delta_mwh) > 0
            THEN CAST((1000000 * SUM(consumption_delta_mwh))
                      // (COUNT(*) * MAX(consumption_delta_mwh)) AS BIGINT)
            END AS load_factor_micro
FROM stg
WHERE consumption_delta_mwh IS NOT NULL
GROUP BY meter_id""",
)(meter_load_factor)


def meter_diversity_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """System diversity factor — Σ(individual meter peaks) over the
    coincident system peak (one row; always ≥ 1e6 in micro-units):
    the grid-sizing KPI that quantifies how much installed capacity
    non-coincident demand saves (meter_load_factor profiles each
    meter; this is the fleet-level complement, and the
    nation_peak_coincidence inverse at meter grain).

    Scale shape: two rollups off the shared staged deltas — per-meter
    max (keyed by meter) and per-tick system total (keyed by
    timestamp) → 1-row aggregates; integer division in micro."""
    stg = stg_transform(gen_meter_readings(spark)).filter(
        F.col("consumption_delta_mwh").isNotNull()
    )
    ind = stg.groupBy("meter_id").agg(
        F.max("consumption_delta_mwh").alias("peak")
    )
    sum_peaks = ind.agg(F.sum("peak").alias("sum_ind_peaks"))
    sys_peak = (
        stg.groupBy("reading_timestamp")
        .agg(F.sum("consumption_delta_mwh").alias("tot"))
        .agg(F.max("tot").alias("system_peak"))
    )
    return sum_peaks.crossJoin(F.broadcast(sys_peak)).select(
        F.col("sum_ind_peaks").cast("bigint").alias("sum_ind_peaks_mwh"),
        F.col("system_peak").cast("bigint").alias("system_peak_mwh"),
        F.expr(
            "CAST((1000000 * sum_ind_peaks) div system_peak AS BIGINT)"
        ).alias("diversity_factor_micro"),
    )


register(
    "meter_diversity_factor",
    f"""{_stg_cte()},
ind AS (
  SELECT meter_id, MAX(consumption_delta_mwh) AS peak
  FROM stg WHERE consumption_delta_mwh IS NOT NULL
  GROUP BY 1
),
sp AS (SELECT SUM(peak) AS sum_ind_peaks FROM ind),
sys AS (
  SELECT MAX(tot) AS system_peak FROM (
    SELECT reading_timestamp, SUM(consumption_delta_mwh) AS tot
    FROM stg WHERE consumption_delta_mwh IS NOT NULL
    GROUP BY 1
  )
)
SELECT CAST(sp.sum_ind_peaks AS BIGINT) AS sum_ind_peaks_mwh,
       CAST(sys.system_peak AS BIGINT) AS system_peak_mwh,
       CAST((1000000 * sp.sum_ind_peaks) // sys.system_peak AS BIGINT)
         AS diversity_factor_micro
FROM sp, sys""",
)(meter_diversity_factor)


def manifest_clone_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE under the oracle gate: land the generator day as
    two commits, zero-copy clone the table, then

    - assert the clone was created WITHOUT copying a single data file
      (its data dir is empty right after the clone),
    - delete the even meters FROM THE CLONE (copy-on-write) and
      assert the SOURCE still reads the full day — divergence is
      isolated,
    - assert the clone reads exactly the odd meters,

    and return the clone's read — against the generator oracle
    filtered to odd meters, so the hash certifies the entire
    clone→mutate→read path end-to-end (sources/manifest.py
    shallow_clone; Delta SHALLOW CLONE semantics)."""
    import os
    import shutil
    import tempfile


    workdir = tempfile.mkdtemp(prefix="manifest_clone_q_")
    try:
        src = ManifestTable(os.path.join(workdir, "src"))
        readings = gen_meter_readings(spark)
        src.idempotent_append(
            spark, readings.filter(F.col("meter_id") % 2 == 0)
        )
        src.idempotent_append(
            spark, readings.filter(F.col("meter_id") % 2 == 1)
        )
        clone = shallow_clone(src, os.path.join(workdir, "clone"))
        if any(files for _, _, files in os.walk(clone.data_dir)):
            raise AssertionError("shallow clone copied data files")
        doomed = (
            clone.read(spark)
            .filter(F.col("meter_id") % 2 == 0)
            .select(*PK)
        )
        delete_keys(clone, spark, doomed)
        n_total = readings.count()
        if src.read(spark).count() != n_total:
            raise AssertionError("clone mutation leaked into the source")
        return (
            clone.read(spark)
            .select(*readings.columns)
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "manifest_clone_roundtrip",
    f"""WITH {_readings_cte()}
SELECT * FROM readings WHERE meter_id % 2 = 1""",
)(manifest_clone_roundtrip)


# ---------------------------------------------------------------------------
# Peak shaving analysis
# ---------------------------------------------------------------------------

PEAK_FRACTION_PCT = 5  # top 5% of hours by system load are "peak"


def meter_peak_shaving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-shaving potential of the simulated day — the
    demand-response KPI a utility sizes batteries/curtailment
    programs with: system load per hour, the top {PEAK_FRACTION_PCT}%
    hours flagged as peak (rank-based, so the threshold is the
    SMALLEST peak hour's integer load — no percentile interpolation,
    all math stays int64), and per-hour shave_milliwatts = how much
    each peak hour exceeds that threshold's floor. Σshave is the
    energy a shaving program must absorb to flatten the system to the
    threshold (reference domain parity: the grid-load mart's
    capacity-utilization flags, fact_grid_load_hourly.sql, taken from
    monitoring to PLANNING).

    Scale shape: one generator pass → hourly system rollup (map-side
    combined, 24 rows/day) — ranking and the threshold scalar live on
    that rollup, never the readings (the pareto-on-rollups
    contract)."""
    readings = gen_meter_readings(spark)
    hourly = (
        readings.groupBy(
            F.date_trunc("hour", "reading_timestamp").alias("hour_ts")
        )
        .agg(
            F.sum(
                F.col("reading_consumption_milliwatts").cast("bigint")
            ).alias("load_milliwatts")
        )
    )
    from pyspark.sql import Window

    n_hours = hourly.agg(F.count(F.lit(1)).alias("n_hours"))
    w = Window.orderBy(
        F.col("load_milliwatts").desc(), F.col("hour_ts")
    )
    ranked = hourly.withColumn("rk", F.row_number().over(w)).crossJoin(
        F.broadcast(n_hours)
    )
    # ceil(n·pct/100) via integer arithmetic (non-negative operands)
    k = F.expr(f"CAST((n_hours * {PEAK_FRACTION_PCT} + 99) div 100 AS INT)")
    flagged = ranked.withColumn("is_peak", F.col("rk") <= k)
    thr = flagged.filter(F.col("is_peak")).agg(
        F.min("load_milliwatts").alias("thr")
    )
    return (
        flagged.crossJoin(F.broadcast(thr))
        .select(
            "hour_ts",
            F.col("load_milliwatts").cast("bigint").alias("load_milliwatts"),
            "is_peak",
            F.col("thr").cast("bigint").alias("threshold_milliwatts"),
            F.when(
                F.col("is_peak"),
                F.col("load_milliwatts") - F.col("thr"),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("shave_milliwatts"),
        )
    )


register(
    "meter_peak_shaving",
    f"""WITH {_readings_cte()},
hourly AS (
  SELECT date_trunc('hour', reading_timestamp) AS hour_ts,
         CAST(SUM(CAST(reading_consumption_milliwatts AS BIGINT))
              AS BIGINT) AS load_milliwatts
  FROM readings GROUP BY 1
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY load_milliwatts DESC, hour_ts)
              AS rk,
         COUNT(*) OVER () AS n_hours
  FROM hourly
),
flagged AS (
  SELECT *, rk <= CAST((n_hours * {PEAK_FRACTION_PCT} + 99) // 100
                       AS INT) AS is_peak
  FROM ranked
),
thr AS (
  SELECT MIN(load_milliwatts) AS thr FROM flagged WHERE is_peak
)
SELECT hour_ts,
       CAST(load_milliwatts AS BIGINT) AS load_milliwatts,
       is_peak,
       CAST(thr AS BIGINT) AS threshold_milliwatts,
       CAST(CASE WHEN is_peak THEN load_milliwatts - thr ELSE 0 END
            AS BIGINT) AS shave_milliwatts
FROM flagged CROSS JOIN thr
""",
)(meter_peak_shaving)


def manifest_zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER under the oracle gate: land the generator day
    as micro-batches, rewrite with the bit-interleaved two-column
    clustering (sources/manifest.py `_zorder_column`), and return the
    packed table against the PLAIN generator oracle — the layout
    transform must be row-invisible. In-query asserts the Z-property
    itself: EVERY clustered column's mean per-file stats range is
    under 60% of its full span (lexicographic clustering leaves the
    second column's at ~100%), and the file count shrank."""
    import os
    import shutil
    import tempfile


    cols = ["meter_id", "reading_consumption_milliwatts"]
    workdir = tempfile.mkdtemp(prefix="manifest_zorder_q_")
    try:
        t = ManifestTable(
            os.path.join(workdir, "fact"), stats_columns=cols
        )
        readings = gen_meter_readings(spark)
        for k in range(8):
            t.idempotent_append(
                spark, readings.filter(F.col("meter_id") % 8 == k)
            )
        n_before = len(t._files(t.snapshot()))
        res = optimize_table(
            t,
            spark,
            small_file_bytes=32 << 20,
            target_partitions=16,
            cluster_by=cols,
            zorder=True,
        )
        n_after = len(t._files(t.snapshot()))
        if not (res["files_rewritten"] == n_before and n_after <= 16):
            raise AssertionError(
                f"zorder optimize did not repack: {n_before} -> "
                f"{n_after} ({res})"
            )
        stats = t.snapshot()[-1]["stats"]
        for c in cols:
            widths = [
                s[c][1] - s[c][0] for s in stats.values() if c in s
            ]
            if not widths:
                raise AssertionError(f"no stats recorded for {c}")
            lo = min(s[c][0] for s in stats.values() if c in s)
            hi = max(s[c][1] for s in stats.values() if c in s)
            span = max(1, hi - lo)
            mean_w = sum(widths) / len(widths)
            if mean_w > 0.6 * span:
                raise AssertionError(
                    f"z-order left {c} wide: mean width {mean_w} of "
                    f"span {span}"
                )
        return t.read(spark).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "manifest_zorder_roundtrip",
    f"""WITH {_readings_cte()}
SELECT * FROM readings""",
)(manifest_zorder_roundtrip)


def manifest_hilbert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE with the 2-D HILBERT curve under the oracle gate
    (sources/manifest.py `_hilbert_column` — the jump-free locality
    upgrade over Z-order; Databricks liquid clustering's curve): land
    the generator day as micro-batches, rewrite range-partitioned on
    the Hilbert key over (meter_id, consumption), then serve a 2-D
    range SLICE through the zone-map read path. In-query asserts:
    the repack landed, BOTH clustered columns' mean per-file stats
    range is under 60% of full span (the curve property), and the
    slice's metadata-only skipping_report drops at least half the
    files — tight bounding boxes are the entire point of the curve.
    The oracle is the plain filtered generator, so pruned ≡ filter
    exactness is hash-checked on the Hilbert layout."""
    import os
    import shutil
    import tempfile


    cols = ["meter_id", "reading_consumption_milliwatts"]
    slice_pred = {
        "meter_id": (60, 120),
        "reading_consumption_milliwatts": (20_000_000, 60_000_000),
    }
    workdir = tempfile.mkdtemp(prefix="manifest_hilbert_q_")
    try:
        t = ManifestTable(
            os.path.join(workdir, "fact"), stats_columns=cols
        )
        readings = gen_meter_readings(spark)
        for k in range(8):
            t.idempotent_append(
                spark, readings.filter(F.col("meter_id") % 8 == k)
            )
        n_before = len(t._files(t.snapshot()))
        res = optimize_table(
            t,
            spark,
            small_file_bytes=32 << 20,
            target_partitions=16,
            cluster_by=cols,
            hilbert=True,
        )
        n_after = len(t._files(t.snapshot()))
        if not (res["files_rewritten"] == n_before and n_after <= 16):
            raise AssertionError(
                f"hilbert optimize did not repack: {n_before} -> "
                f"{n_after} ({res})"
            )
        stats = t.snapshot()[-1]["stats"]
        for c in cols:
            widths = [
                s[c][1] - s[c][0] for s in stats.values() if c in s
            ]
            if not widths:
                raise AssertionError(f"no stats recorded for {c}")
            lo = min(s[c][0] for s in stats.values() if c in s)
            hi = max(s[c][1] for s in stats.values() if c in s)
            span = max(1, hi - lo)
            mean_w = sum(widths) / len(widths)
            if mean_w > 0.6 * span:
                raise AssertionError(
                    f"hilbert left {c} wide: mean width {mean_w} of "
                    f"span {span}"
                )
        rep = skipping_report(t, where=slice_pred)
        if rep["files_read"] > rep["files_live"] // 2:
            raise AssertionError(
                f"hilbert layout skipped too little on the 2-D "
                f"slice: {rep}"
            )
        return read_where(t, spark, where=slice_pred).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "manifest_hilbert_roundtrip",
    f"""WITH {_readings_cte()}
SELECT * FROM readings
WHERE meter_id BETWEEN 60 AND 120
  AND reading_consumption_milliwatts
      BETWEEN 20000000 AND 60000000""",
)(manifest_hilbert_roundtrip)


def manifest_ivm_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view — the two-table delta
    identity next to ``manifest_ivm_rollup``'s single-table aggregate
    case: a (fact ⋈ dim → per-zone rollup) view is materialized at
    v0, then BOTH base tables change (a fact restatement and a dim
    zone-move), and the view is maintained by

        V_new = V_old ⊕ (ΔA ⋈ B_old) ⊕ (A_new ⋈ ΔB)

    with signed change feeds (insert/post-image = +1, delete/
    pre-image = −1) — the classical delta-join decomposition. The
    oracle recomputes the final view from scratch, so the hash proves
    the maintained view ≡ full recompute exactly.

    Cost shape at 100 TB: ΔA joins only the dim (broadcast); the
    A_new ⋈ ΔB leg reads the fact SEMI-JOINED to the changed dim
    keys — with the dim's changed keys bounded, stats/bloom skipping
    prunes that scan to the affected files; nothing rescans the
    unchanged fact for the unchanged dim rows. All-integer milliwatt
    arithmetic."""
    import os
    import shutil
    import tempfile


    workdir = tempfile.mkdtemp(prefix="manifest_ivmjoin_q_")
    dim_pk = ["meter_id"]
    try:
        a = ManifestTable(os.path.join(workdir, "fact"))
        readings = gen_meter_readings(spark)
        a.idempotent_append(spark, readings)

        b = ManifestTable(os.path.join(workdir, "dim"))
        dim = readings.select("meter_id").distinct().select(
            F.lit("2024-01-01T00:00:00").cast("timestamp").alias(
                "reading_timestamp"
            ),
            "meter_id",
            (F.col("meter_id") % 5).cast("bigint").alias("zone"),
        )
        b.idempotent_append(spark, dim, pk=dim_pk)

        view0 = (
            a.read(spark)
            .join(b.read(spark).select("meter_id", "zone"), "meter_id")
            .groupBy("zone")
            .agg(
                F.sum("reading_consumption_milliwatts").alias("total_mw"),
                F.count(F.lit(1)).alias("n_readings"),
            )
            .localCheckpoint(eager=True)
        )

        restated = readings.filter(F.col("meter_id") % 7 == 3).withColumn(
            "reading_consumption_milliwatts",
            F.col("reading_consumption_milliwatts") + F.lit(10007),
        )
        upsert(a, spark, restated)                      # ΔA
        moved = dim.filter(F.col("meter_id") % 9 == 2).withColumn(
            "zone", F.col("zone") + F.lit(100)
        )
        upsert(b, spark, moved, pk=dim_pk)              # ΔB

        sign = F.when(
            F.col("_change_type").isin("insert", "update_postimage"), 1
        ).otherwise(-1)
        # leg 1: ΔA ⋈ B_old (the dim BEFORE its change)
        da = change_feed(a, spark, 0, 1).withColumn("w", sign)
        b_old = read_as_of(b, spark, version=0).select("meter_id", "zone")
        leg1 = (
            da.join(F.broadcast(b_old), "meter_id")
            .groupBy("zone")
            .agg(
                F.sum(
                    F.col("w") * F.col("reading_consumption_milliwatts")
                ).alias("d_total"),
                F.sum("w").alias("d_count"),
            )
        )
        # leg 2: A_new ⋈ ΔB (fact AFTER its change, changed dim rows)
        db = change_feed(b, spark, 0, 1, pk=dim_pk).withColumn("w", sign)
        a_new = a.read(spark).select(
            "meter_id", "reading_consumption_milliwatts"
        )
        leg2 = (
            a_new.join(
                F.broadcast(db.select("meter_id", "zone", "w")),
                "meter_id",
            )
            .groupBy("zone")
            .agg(
                F.sum(
                    F.col("w") * F.col("reading_consumption_milliwatts")
                ).alias("d_total"),
                F.sum("w").alias("d_count"),
            )
        )
        delta = leg1.unionByName(leg2).groupBy("zone").agg(
            F.sum("d_total").alias("d_total"),
            F.sum("d_count").alias("d_count"),
        )
        maintained = (
            view0.join(delta, "zone", "full_outer")
            .select(
                "zone",
                (
                    F.coalesce(F.col("total_mw"), F.lit(0))
                    + F.coalesce(F.col("d_total"), F.lit(0))
                ).alias("total_mw"),
                (
                    F.coalesce(F.col("n_readings"), F.lit(0))
                    + F.coalesce(F.col("d_count"), F.lit(0))
                ).alias("n_readings"),
            )
            .filter(F.col("n_readings") > 0)
            .select(
                F.col("zone").cast("bigint").alias("zone"),
                F.col("total_mw").cast("bigint").alias("total_mw"),
                F.col("n_readings").cast("bigint").alias("n_readings"),
            )
        )
        return maintained.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "manifest_ivm_join",
    f"""WITH {_readings_cte()}
SELECT CAST(CASE WHEN meter_id % 9 = 2 THEN meter_id % 5 + 100
            ELSE meter_id % 5 END AS BIGINT) AS zone,
       CAST(SUM(CASE WHEN meter_id % 7 = 3
                     THEN reading_consumption_milliwatts + 10007
                     ELSE reading_consumption_milliwatts END)
            AS BIGINT) AS total_mw,
       CAST(COUNT(*) AS BIGINT) AS n_readings
FROM readings
GROUP BY 1""",
)(manifest_ivm_join)


def meter_grid_ramp_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone ramp rates off the hourly grid mart — the KPI grid
    operators actually dispatch on (how fast can net load SWING, not
    just how high does it peak: ramping capability is what scarce
    peaker/storage capacity is priced against). Per zone: the steepest
    hour-over-hour net-load rise and fall with the hour each occurred.

    Determinism: the mart's net kWh is an exact integer mWh sum
    divided by the same power-of-ten literal in both engines, so the
    hourly diffs are bit-identical doubles; the argmax hour rides a
    struct max/min ((ramp, hour) lexicographic — rise ties break to
    the LATER hour, fall ties to the EARLIER), so both engines pick
    the same exemplar.

    Scale shape: composes the audited mart (one extra LAG window
    partitioned by zone over the zone×hour frame — bounded by
    calendar × |zones|, never fact-sized) and a per-zone rollup.
    Reference parity: extends fact_meter_grid_load_hourly's peak
    framing (models/marts/fact_meter_grid_load_hourly.sql) from
    levels to derivatives."""
    from pyspark.sql import Window

    grid = meter_grid_load_q(spark, sf_dir).select(
        "grid_zone_id",
        "zone_name",
        "load_hour",
        F.col("total_net_consumption_kwh").alias("net_kwh"),
    )
    w = Window.partitionBy("grid_zone_id").orderBy("load_hour")
    ramps = grid.withColumn(
        "ramp", F.col("net_kwh") - F.lag("net_kwh").over(w)
    ).filter(F.col("ramp").isNotNull())
    return ramps.groupBy("grid_zone_id", "zone_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ramps"),
        F.max("ramp").alias("max_ramp_up_kwh"),
        F.max(
            F.struct(
                F.col("ramp").alias("r"), F.col("load_hour").alias("h")
            )
        )["h"].alias("ramp_up_hour"),
        F.min("ramp").alias("max_ramp_down_kwh"),
        F.min(
            F.struct(
                F.col("ramp").alias("r"), F.col("load_hour").alias("h")
            )
        )["h"].alias("ramp_down_hour"),
    )


def _grid_ramp_oracle() -> str:
    return f"""
WITH base AS ({_GRID_LOAD_SQL}),
ramps AS (
  SELECT grid_zone_id, zone_name, load_hour,
         total_net_consumption_kwh - lag(total_net_consumption_kwh)
           OVER (PARTITION BY grid_zone_id ORDER BY load_hour) AS ramp
  FROM base
)
SELECT grid_zone_id, zone_name,
       CAST(COUNT(*) AS BIGINT) AS n_ramps,
       MAX(ramp) AS max_ramp_up_kwh,
       (MAX({{'r': ramp, 'h': load_hour}})).h AS ramp_up_hour,
       MIN(ramp) AS max_ramp_down_kwh,
       (MIN({{'r': ramp, 'h': load_hour}})).h AS ramp_down_hour
FROM ramps
WHERE ramp IS NOT NULL
GROUP BY 1, 2
"""


register("meter_grid_ramp_rates", _grid_ramp_oracle())(
    meter_grid_ramp_rates
)


def manifest_consistent_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table consistent read under the oracle gate: a fact and a
    dimension table commit INDEPENDENTLY (fact even-meter rows, dim
    half the meters; then fact odd rows, dim the rest), and the report
    joins them AS OF the instant between the two waves —
    ``consistent_snapshot`` resolves BOTH logs to that timestamp, so
    the join sees a state that actually coexisted (fact wave 1 × dim
    wave 1) and asserts the anti-state (rows that would leak from
    mixing wave-2 data) is absent; the returned join hashes against
    the oracle restricted to wave 1. 'Latest of each' is exactly the
    mix this prevents at 100 TB, where nightly jobs read dozens of
    independently-committing tables."""
    import os
    import shutil
    import tempfile
    import time as _time


    workdir = tempfile.mkdtemp(prefix="manifest_consis_q_")
    try:
        fact = ManifestTable(os.path.join(workdir, "fact"))
        dim = ManifestTable(os.path.join(workdir, "dim"))
        readings = gen_meter_readings(spark)
        meters = gen_dim_meters(spark)
        fact.idempotent_append(
            spark, readings.filter(F.col("meter_id") % 2 == 0)
        )
        dim.idempotent_append(
            spark,
            meters.filter(F.col("meter_id") <= N_METERS // 2),
            pk=["meter_id"],
        )
        ts_mid = _time.time()
        _time.sleep(0.05)
        fact.idempotent_append(
            spark, readings.filter(F.col("meter_id") % 2 == 1)
        )
        dim.idempotent_append(
            spark,
            meters.filter(F.col("meter_id") > N_METERS // 2),
            pk=["meter_id"],
        )
        snap = consistent_snapshot(
            {"fact": fact, "dim": dim}, spark, ts_mid
        )
        joined = snap["fact"].join(
            snap["dim"].select("meter_id", "grid_zone_id"), "meter_id"
        )
        # anti-state guard: nothing from wave 2 leaks into the report
        n_leak = joined.filter(
            (F.col("meter_id") % 2 == 1)
            | (F.col("meter_id") > N_METERS // 2)
        ).count()
        if n_leak:
            raise AssertionError(
                f"consistent snapshot leaked {n_leak} wave-2 rows"
            )
        return joined.select(
            "reading_timestamp",
            "meter_id",
            "reading_consumption_milliwatts",
            "status",
            "grid_zone_id",
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "manifest_consistent_snapshot",
    f"""WITH {_readings_cte()}
SELECT reading_timestamp, r.meter_id, reading_consumption_milliwatts,
       status,
       CAST((r.meter_id % 16) + 5 AS INT) AS grid_zone_id
FROM readings r
WHERE r.meter_id % 2 = 0 AND r.meter_id <= {N_METERS // 2}""",
)(manifest_consistent_snapshot)


# ---------------------------------------------------------------------------
# Time-of-use billing with demand charges
# ---------------------------------------------------------------------------

# Integer TOU rates in NANO-currency per mWh (420 n$/mWh = 0.42 $/kWh):
# the flat 0.28 the reference hard-codes (01_create_schema.sql tariff
# seed) becomes the shoulder rate, bracketed by a peak and an off-peak
# band — the standard utility TOU ladder. Demand is charged at
# 8000 n$/mWh-per-hour = $8 per kW of the billing-period maximum
# hourly draw. All-integer so every charge is exact until one final
# division to currency.
TOU_PEAK_NANO = 420  # 17:00-22:00
TOU_SHOULDER_NANO = 280  # 07:00-17:00
TOU_OFFPEAK_NANO = 150  # nights
TOU_DEMAND_NANO = 8000  # per mWh of max hourly draw ($8/kW)


def meter_tou_billing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-of-use billing with a demand charge — the tariff structure
    the reference's flat-rate ``fact_customer_billing_daily`` is the
    degenerate case of (reference parity: the 0.28 rate join at
    fact_customer_billing_daily.sql:88-96 generalized to a 3-band TOU
    ladder + a capacity price signal). Per meter over the generator
    day: energy by TOU band (peak/shoulder/off-peak kWh), the banded
    energy charge, the billing demand (max hourly draw, kW) and its
    demand charge — the two lines every commercial-tariff bill carries.

    Exactness: interval deltas are integer mWh; band rates are integer
    nano-currency per mWh, so the energy charge accumulates as an
    exact BIGINT and demand as an exact integer max; each output
    converts with ONE final division (deterministic double op).

    Scale shape: stg's LAG window shuffles once on meter_id; the
    hourly rollup and the per-meter rollup both reuse that
    partitioning (two-level hash agg, map-side partials; no global
    window, no dim join on the fact side)."""
    stg = stg_transform(gen_meter_readings(spark))
    hr = F.hour("reading_timestamp")
    rate = (
        F.when((hr >= 17) & (hr < 22), F.lit(TOU_PEAK_NANO))
        .when((hr >= 7) & (hr < 17), F.lit(TOU_SHOULDER_NANO))
        .otherwise(F.lit(TOU_OFFPEAK_NANO))
    )
    hourly = (
        stg.select(
            "meter_id",
            hr.alias("hr"),
            rate.alias("rate_nano"),
            "consumption_delta_mwh",
        )
        .groupBy("meter_id", "hr", "rate_nano")
        .agg(F.sum("consumption_delta_mwh").alias("h_mwh"))
    )
    band = F.col("rate_nano")
    per_meter = hourly.groupBy("meter_id").agg(
        F.sum(F.when(band == TOU_PEAK_NANO, F.col("h_mwh"))).alias(
            "_peak_mwh"
        ),
        F.sum(
            F.when(band == TOU_SHOULDER_NANO, F.col("h_mwh"))
        ).alias("_shoulder_mwh"),
        F.sum(F.when(band == TOU_OFFPEAK_NANO, F.col("h_mwh"))).alias(
            "_off_mwh"
        ),
        F.sum(F.col("h_mwh") * F.col("rate_nano")).alias("_energy_nano"),
        F.max("h_mwh").alias("_max_h_mwh"),
    )
    return per_meter.select(
        "meter_id",
        (F.col("_peak_mwh").cast("double") / 1000000.0).alias("peak_kwh"),
        (F.col("_shoulder_mwh").cast("double") / 1000000.0).alias(
            "shoulder_kwh"
        ),
        (F.col("_off_mwh").cast("double") / 1000000.0).alias(
            "offpeak_kwh"
        ),
        (F.col("_max_h_mwh").cast("double") / 1000000.0).alias(
            "billing_demand_kw"
        ),
        (F.col("_energy_nano").cast("double") / 1000000000.0).alias(
            "energy_charge"
        ),
        (
            (F.col("_max_h_mwh") * TOU_DEMAND_NANO).cast("double")
            / 1000000000.0
        ).alias("demand_charge"),
        (
            (
                F.col("_energy_nano")
                + F.col("_max_h_mwh") * TOU_DEMAND_NANO
            ).cast("double")
            / 1000000000.0
        ).alias("total_charge"),
    )


register(
    "meter_tou_billing",
    f"""{_stg_cte()},
hourly AS (
  SELECT meter_id, EXTRACT(hour FROM reading_timestamp) AS hr,
         CASE WHEN EXTRACT(hour FROM reading_timestamp) BETWEEN 17 AND 21
              THEN {TOU_PEAK_NANO}
              WHEN EXTRACT(hour FROM reading_timestamp) BETWEEN 7 AND 16
              THEN {TOU_SHOULDER_NANO}
              ELSE {TOU_OFFPEAK_NANO} END AS rate_nano,
         CAST(SUM(consumption_delta_mwh) AS BIGINT) AS h_mwh
  FROM stg GROUP BY 1, 2, 3
),
per_meter AS (
  SELECT meter_id,
         CAST(SUM(CASE WHEN rate_nano = {TOU_PEAK_NANO}
                       THEN h_mwh END) AS BIGINT) AS peak_mwh,
         CAST(SUM(CASE WHEN rate_nano = {TOU_SHOULDER_NANO}
                       THEN h_mwh END) AS BIGINT) AS shoulder_mwh,
         CAST(SUM(CASE WHEN rate_nano = {TOU_OFFPEAK_NANO}
                       THEN h_mwh END) AS BIGINT) AS off_mwh,
         CAST(SUM(h_mwh * rate_nano) AS BIGINT) AS energy_nano,
         CAST(MAX(h_mwh) AS BIGINT) AS max_h_mwh
  FROM hourly GROUP BY 1
)
SELECT meter_id,
       CAST(peak_mwh AS DOUBLE) / 1000000.0 AS peak_kwh,
       CAST(shoulder_mwh AS DOUBLE) / 1000000.0 AS shoulder_kwh,
       CAST(off_mwh AS DOUBLE) / 1000000.0 AS offpeak_kwh,
       CAST(max_h_mwh AS DOUBLE) / 1000000.0 AS billing_demand_kw,
       CAST(energy_nano AS DOUBLE) / 1000000000.0 AS energy_charge,
       CAST(max_h_mwh * {TOU_DEMAND_NANO} AS DOUBLE) / 1000000000.0
         AS demand_charge,
       CAST(energy_nano + max_h_mwh * {TOU_DEMAND_NANO} AS DOUBLE)
         / 1000000000.0 AS total_charge
FROM per_meter
""",
)(meter_tou_billing)


def manifest_vacuum_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The delete → compact → VACUUM reclamation lifecycle under the
    oracle gate — the one table-format maintenance flow that
    physically destroys bytes, so it is exactly where a bug turns
    into data loss: land the generator day, CoW-upsert a restatement
    (originals leave the live set but stay REFERENCED as history),
    prove vacuum sweeps nothing while history still names them,
    compact the log (netting the removals out), dry-run the sweep,
    run it for real, and assert dry-run/actual agree and the swept
    files are gone from disk. The post-vacuum read is hash-checked
    against the restatement oracle — reclamation must never change
    visible contents (sources/manifest.py vacuum_unreferenced;
    Delta VACUUM semantics)."""
    import os
    import shutil
    import tempfile


    workdir = tempfile.mkdtemp(prefix="manifest_vacuum_q_")
    try:
        t = ManifestTable(os.path.join(workdir, "fact"))
        readings = gen_meter_readings(spark)
        t.idempotent_append(spark, readings)
        restated = readings.filter(F.col("meter_id") % 7 == 3).withColumn(
            "reading_consumption_milliwatts",
            F.col("reading_consumption_milliwatts") + F.lit(10007),
        )
        upsert(t, spark, restated)
        if vacuum_unreferenced(t, ttl_s=0.0, dry_run=True):
            raise AssertionError(
                "vacuum would sweep files still referenced by history"
            )
        compact_log(t, keep_last=0)
        dry = vacuum_unreferenced(t, ttl_s=0.0, dry_run=True)
        if not dry:
            raise AssertionError(
                "compaction netted nothing — no reclaimable files"
            )
        n = vacuum_unreferenced(t, ttl_s=0.0)
        if n != len(dry):
            raise AssertionError(
                f"dry-run promised {len(dry)} files, sweep removed {n}"
            )
        still_there = [
            r
            for r in dry
            if os.path.exists(os.path.join(t.data_dir, r))
        ]
        if still_there:
            raise AssertionError(
                f"swept files still on disk: {still_there[:3]}"
            )
        return t.read(spark).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "manifest_vacuum_roundtrip",
    f"""WITH {_readings_cte()}
SELECT reading_timestamp, meter_id,
       CAST(CASE WHEN meter_id % 7 = 3
                 THEN reading_consumption_milliwatts + 10007
                 ELSE reading_consumption_milliwatts END AS INT)
           AS reading_consumption_milliwatts,
       reading_production_milliwatts, status
FROM readings""",
)(manifest_vacuum_roundtrip)


ROLLOVER_MODULUS = 2**24  # register width of the simulated meter


def meter_rollover_correction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Counter ROLLOVER correction — the VEE (validate-estimate-edit)
    step real AMI pipelines run before any delta math: a physical
    meter register is a fixed-width counter that wraps to zero at its
    modulus, and a naive LAG delta across the wrap goes hugely
    negative, corrupting every downstream rollup. Simulated here by
    wrapping the generator's cumulative counters at 2^24 (the max
    interval draw ~1.5e6 mWh is far below the modulus, so a wrap is
    unambiguous — the width condition real registers satisfy), then
    corrected per interval with delta = (wrapped_delta + M) % M.

    The proof is the HASH: the corrected deltas must equal the true
    (unwrapped) stg deltas row-for-row — the oracle never sees the
    wrapped counters. Wraps actually occurring is asserted in-query
    (a correction that never fires is vacuous evidence).

    Scale shape: identical to stg — one meter-partitioned LAG window,
    all integer arithmetic."""
    readings = gen_meter_readings(spark)
    m = ROLLOVER_MODULUS
    wrapped = readings.select(
        "reading_timestamp",
        "meter_id",
        (F.col("reading_consumption_milliwatts") % m).alias("w"),
    )
    win = Window.partitionBy("meter_id").orderBy("reading_timestamp")
    deltas = wrapped.select(
        "reading_timestamp",
        "meter_id",
        F.coalesce(
            F.col("w") - F.lag("w").over(win), F.col("w")
        ).alias("raw_delta"),
    )
    n_wraps = deltas.filter(F.col("raw_delta") < 0).count()
    if n_wraps == 0:
        raise AssertionError(
            "no rollovers occurred — the correction is untested"
        )
    return deltas.select(
        "reading_timestamp",
        "meter_id",
        ((F.col("raw_delta") + m) % m)
        .cast("bigint")
        .alias("consumption_delta_mwh"),
    )


register(
    "meter_rollover_correction",
    f"""{_stg_cte()}
SELECT reading_timestamp, meter_id,
       CAST(consumption_delta_mwh AS BIGINT) AS consumption_delta_mwh
FROM stg""",
)(meter_rollover_correction)


def manifest_cdc_replica_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CDC REPLICATION closed end-to-end: a follower table that sees
    ONLY the leader's row-level change feed must converge to the
    leader, or the feed is lossy — the completeness guarantee every
    downstream replica, cache, and search index build rests on.
    Scenario = ``manifest_cow_roundtrip``'s exactly (append →
    evolving restatement MERGE → delete), replayed version by
    version: inserts/update-postimages upsert into the follower,
    deletes delete by pk, pre-images are ignored (they exist for
    consumers that need the old value, not for state convergence).
    The hash runs over the FOLLOWER's final read against the
    leader-state oracle, so a single dropped / duplicated / misordered
    change row breaks it. Schema evolution rides the feed (the
    restatement adds ``correction_source``; the follower learns the
    column from the feed's evolved schema, never from the leader's
    log)."""
    import os
    import shutil
    import tempfile


    workdir = tempfile.mkdtemp(prefix="manifest_cdc_replica_q_")
    try:
        leader = ManifestTable(os.path.join(workdir, "leader"))
        readings = gen_meter_readings(spark)
        leader.idempotent_append(spark, readings)
        restated = (
            readings.filter(F.col("meter_id") % 7 == 3)
            .withColumn(
                "reading_consumption_milliwatts",
                F.col("reading_consumption_milliwatts") + F.lit(10007),
            )
            .withColumn("correction_source", F.lit("restated"))
        )
        upsert(leader, spark, restated)
        doomed = readings.filter(F.col("meter_id") % 11 == 5).select(
            "reading_timestamp", "meter_id"
        )
        delete_keys(leader, spark, doomed)

        follower = ManifestTable(os.path.join(workdir, "follower"))
        n_versions = len(leader.snapshot())
        for v in range(n_versions):
            feed = change_feed(leader, spark, v - 1, v)
            if feed is None:
                continue
            feed = feed.localCheckpoint(eager=True)
            upserts = feed.filter(
                F.col("_change_type").isin("insert", "update_postimage")
            ).drop("_change_type")
            if upserts.limit(1).count():
                if follower.read(spark) is None:
                    follower.idempotent_append(spark, upserts)
                else:
                    upsert(follower, spark, upserts)
            deletes = feed.filter(
                F.col("_change_type") == "delete"
            ).select("reading_timestamp", "meter_id")
            if deletes.limit(1).count():
                delete_keys(follower, spark, deletes)
        final = follower.read(spark).select(
            "reading_timestamp",
            "meter_id",
            "reading_consumption_milliwatts",
            "reading_production_milliwatts",
            "status",
            "correction_source",
        )
        return final.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _register_cdc_replica() -> None:
    from smart_meter_data_pipeline_spark.plans.registry import ORACLES

    register(
        "manifest_cdc_replica_roundtrip",
        ORACLES["manifest_cow_roundtrip"],
    )(manifest_cdc_replica_roundtrip)


_register_cdc_replica()


def manifest_index_point_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact SECONDARY INDEX under the oracle gate (sources/index.py
    — the Hyperspace shape: index an EXISTING table post-hoc, no
    rewrite, no write-time opt-in): the generator day gains a derived
    high-cardinality STRING ``account_code`` (200 distinct — past the
    dictionary's per-file budget on unclustered layouts, non-integer
    so the Bloom can't hash it, unordered so zone maps can't bound
    it), gets meter-clustered by OPTIMIZE, then a posting index is
    built and a two-account point read is served through it:

    - asserts the index actually skipped (files_read < files_live),
    - asserts the index skipped ON ITSELF (round 12): postings are
      range-clustered by value at refresh and the posting table
      records string min/max per file, so the lookup opens a strict
      subset of POSTING files too — without this, every "indexed"
      probe of a million-file table would full-scan a posting table
      that is itself ~10⁹ rows,
    - appends a SECOND day WITHOUT refreshing and hash-checks the
      stale-index read over BOTH days — unindexed files are read
      unconditionally, so refresh lag can never lose rows (the
      soundness rule every index here follows),
    - refreshes and asserts the skip returns.

    The reference gets this from its Postgres PK index for free
    (01_create_schema.sql); this is the immutable-parquet rebuild."""
    import os
    import shutil
    import tempfile

    from smart_meter_data_pipeline_spark.sources.index import (
        index_point_read,
        refresh_index,
    )

    workdir = tempfile.mkdtemp(prefix="manifest_idx_q_")
    try:
        t = ManifestTable(os.path.join(workdir, "fact"))
        acct = F.concat(
            F.lit("AC"), F.lpad(F.col("meter_id").cast("string"), 5, "0")
        )
        day1 = gen_meter_readings(spark).withColumn("account_code", acct)
        _append_as_two_files(t, spark, day1)
        optimize_table(
            t, spark, target_partitions=16, cluster_by=["meter_id"]
        )
        refresh_index(t, spark, "account_code", posting_partitions=8)
        probe = ["AC00017", "AC00091"]
        _, rep = index_point_read(t, spark, "account_code", probe)
        if not (0 < rep["files_read"] < rep["files_live"]):
            raise AssertionError(f"index skipped nothing: {rep}")
        if not (
            0
            < rep["posting_files_read"]
            < rep["posting_files_live"]
        ):
            raise AssertionError(
                f"posting table skipped nothing on itself: {rep}"
            )
        day2 = day1.withColumn(
            "reading_timestamp",
            F.expr("timestampadd(DAY, 1, reading_timestamp)"),
        )
        t.idempotent_append(spark, day2)
        stale_df, stale_rep = index_point_read(
            t, spark, "account_code", probe
        )
        if stale_rep["files_unindexed"] == 0:
            raise AssertionError(
                f"staleness case not exercised: {stale_rep}"
            )
        res = refresh_index(t, spark, "account_code")
        if res["files_indexed"] == 0:
            raise AssertionError("refresh indexed nothing")
        fresh_df, fresh_rep = index_point_read(
            t, spark, "account_code", probe
        )
        # day 2 appended UNCLUSTERED, so its files genuinely contain
        # the probe accounts — the refresh's guarantee is that the
        # unconditional-read set empties and the candidate set never
        # grows, not that unclustered data becomes skippable
        if fresh_rep["files_unindexed"] != 0:
            raise AssertionError(f"refresh left files unindexed: {fresh_rep}")
        if fresh_rep["files_read"] > stale_rep["files_read"]:
            raise AssertionError(
                f"refresh grew the candidate set: {fresh_rep} "
                f"vs stale {stale_rep}"
            )
        if fresh_df.count() != stale_df.count():
            raise AssertionError(
                "stale and fresh index reads disagree"
            )
        return fresh_df.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def manifest_index_gc_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Posting-index LIFECYCLE under the oracle gate (round 12 —
    closing the round-11 "index grows without bound" completion):
    land the generator day with a derived ``account_code``, index it,
    then a copy-on-write restatement (meters ≡2 mod 9 → status 'P')
    rewrites files and strands their postings; a second refresh
    indexes the rewrite's new files, ``vacuum_index`` GCs the stale
    postings (asserted non-zero, then asserted GONE by an anti-join
    against the live file set), and the final point read — one
    restated account, one untouched — is served through the cleaned
    index with zero unindexed files and hash-checked against the
    relational filter. sources/index.py:vacuum_index rides the
    posting table's own copy-on-write delete_keys, so the GC is
    itself the manifest mutation protocol, not a bespoke rewrite."""
    import os
    import shutil
    import tempfile

    from smart_meter_data_pipeline_spark.sources.index import (
        _index_table,
        index_point_read,
        refresh_index,
        vacuum_index,
    )

    workdir = tempfile.mkdtemp(prefix="manifest_idx_gc_q_")
    try:
        t = ManifestTable(os.path.join(workdir, "fact"))
        acct = F.concat(
            F.lit("AC"), F.lpad(F.col("meter_id").cast("string"), 5, "0")
        )
        day1 = gen_meter_readings(spark).withColumn("account_code", acct)
        t.idempotent_append(spark, day1)
        refresh_index(t, spark, "account_code", posting_partitions=8)
        up = day1.filter(F.col("meter_id") % 9 == 2).withColumn(
            "status", F.lit("P")
        )
        upsert(t, spark, up)
        refresh_index(t, spark, "account_code", posting_partitions=4)
        rep = vacuum_index(t, spark, "account_code")
        if rep["postings_removed"] == 0:
            raise AssertionError(
                "CoW rewrite stranded no postings — GC not exercised"
            )
        idx = _index_table(t, "account_code")
        live_rels = sorted(
            os.path.relpath(f, t.data_dir)
            for f in t._files([c for _, c in t.numbered_snapshot()])
        )
        n_stale = (
            idx.read(spark)
            .join(
                spark.createDataFrame(
                    [(r,) for r in live_rels], "rel_file string"
                ),
                "rel_file",
                "left_anti",
            )
            .count()
        )
        if n_stale != 0:
            raise AssertionError(
                f"{n_stale} stale postings survived vacuum_index"
            )
        probe = ["AC00002", "AC00017"]
        out, rep2 = index_point_read(t, spark, "account_code", probe)
        if rep2["files_unindexed"] != 0:
            raise AssertionError(f"index stale after refresh: {rep2}")
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "manifest_index_gc_roundtrip",
    f"""WITH {_readings_cte()},
tagged AS (
  SELECT *, 'AC' || lpad(CAST(meter_id AS VARCHAR), 5, '0')
           AS account_code
  FROM readings
)
SELECT reading_timestamp, meter_id, reading_consumption_milliwatts,
       reading_production_milliwatts,
       CASE WHEN meter_id % 9 = 2 THEN 'P' ELSE status END AS status,
       account_code
FROM tagged
WHERE account_code IN ('AC00002', 'AC00017')""",
)(manifest_index_gc_roundtrip)


register(
    "manifest_index_point_read",
    f"""WITH {_readings_cte()},
tagged AS (
  SELECT *, 'AC' || lpad(CAST(meter_id AS VARCHAR), 5, '0')
           AS account_code
  FROM readings
),
both_days AS (
  SELECT * FROM tagged
  UNION ALL
  SELECT reading_timestamp + INTERVAL 1 DAY, meter_id,
         reading_consumption_milliwatts, reading_production_milliwatts,
         status, account_code
  FROM tagged
)
SELECT * FROM both_days
WHERE account_code IN ('AC00017', 'AC00091')""",
)(manifest_index_point_read)


def catalog_txn_restatement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Catalog transactions BEYOND appends under the oracle gate
    (round 13, sources/catalog.py CatalogTxn.upsert/delete_where) —
    the reference's "every batch is a Postgres transaction" property
    (consumer/meter_consumer.py:132-135) for coupled multi-table
    MUTATIONS: a fact RESTATEMENT (meters ≡3 mod 7 flagged 'X') and
    its dimension update (zone-2 tariff multiplier → 999) land in ONE
    catalog commit. Asserted in-query: the staged mutation is
    invisible pre-commit (no 'X' rows, no 999 multipliers); the
    publish adds EXACTLY one chain commit; a second, crashed
    transaction (delete staged, never committed) changes nothing;
    whole-catalog time travel to the pre-txn version still shows the
    un-restated image. The hash is over fact ⋈ dim at the head — the
    post-restatement serving state both engines must agree on."""
    import os
    import shutil
    import tempfile

    from smart_meter_data_pipeline_spark.sources.catalog import Catalog

    workdir = tempfile.mkdtemp(prefix="catalog_txn_restate_q_")
    try:
        cat = Catalog(os.path.join(workdir, "cat"))
        readings = gen_meter_readings(spark)
        dim = (
            readings.select("meter_id")
            .distinct()
            .withColumn("zone", (F.col("meter_id") % 4).cast("int"))
            .withColumn(
                "multiplier_permille",
                (F.lit(100) + (F.col("meter_id") % 4) * 10).cast("int"),
            )
        )
        t0 = cat.txn()
        t0.append(spark, "fact", readings)
        t0.append(spark, "dim_meters", dim, pk=["meter_id"])
        t0.commit()
        chain_before = len(cat.numbered_snapshot())

        restated = readings.filter(F.col("meter_id") % 7 == 3).withColumn(
            "status", F.lit("X")
        )
        dim_upd = dim.filter(F.col("zone") == 2).withColumn(
            "multiplier_permille", F.lit(999).cast("int")
        )
        txn = cat.txn()
        n_matched, n_inserted = txn.upsert(spark, "fact", restated)
        if n_inserted != 0 or n_matched == 0:
            raise AssertionError(
                f"restatement should only match: {n_matched}/{n_inserted}"
            )
        txn.upsert(spark, "dim_meters", dim_upd, pk=["meter_id"])
        # staged but INVISIBLE: both tables still show the old image
        if cat.read(spark, "fact").filter("status = 'X'").count() != 0:
            raise AssertionError("restatement visible before commit")
        if (
            cat.read(spark, "dim_meters")
            .filter("multiplier_permille = 999")
            .count()
            != 0
        ):
            raise AssertionError("dim update visible before commit")
        txn.commit()
        if len(cat.numbered_snapshot()) != chain_before + 1:
            raise AssertionError(
                "fact restatement + dim update did not land as ONE "
                "catalog commit"
            )
        # crashed txn: a staged-but-never-committed delete is invisible
        crashed = cat.txn()
        crashed.delete_where(spark, "fact", "meter_id = 1")
        n_head = cat.read(spark, "fact").count()
        crashed.abort()
        if n_head != readings.count():
            raise AssertionError("crashed txn leaked into the head")
        # whole-catalog time travel: pre-txn image is un-restated
        old = cat.read(spark, "fact", version=chain_before - 1)
        if old.filter("status = 'X'").count() != 0:
            raise AssertionError(
                "time travel to the pre-txn version shows the "
                "restatement"
            )
        final = (
            cat.read(spark, "fact")
            .join(cat.read(spark, "dim_meters"), "meter_id")
            .select(
                "reading_timestamp",
                "meter_id",
                "reading_consumption_milliwatts",
                "status",
                "zone",
                "multiplier_permille",
            )
        )
        return final.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "catalog_txn_restatement",
    f"""WITH {_readings_cte()},
dim AS (
  SELECT DISTINCT meter_id, CAST(meter_id % 4 AS INT) AS zone,
         CAST(CASE WHEN meter_id % 4 = 2 THEN 999
              ELSE 100 + (meter_id % 4) * 10 END AS INT)
           AS multiplier_permille
  FROM readings
)
SELECT r.reading_timestamp, r.meter_id,
       r.reading_consumption_milliwatts,
       CASE WHEN r.meter_id % 7 = 3 THEN 'X' ELSE r.status END
         AS status,
       d.zone, d.multiplier_permille
FROM readings r JOIN dim d USING (meter_id)""",
)(catalog_txn_restatement)


def manifest_index_retention_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The COMPLETE age-out story for an indexed fact table (round
    13): three daily commits each followed by an incremental index
    refresh (three OVERLAPPING posting slice sets — the fragmentation
    regime), then retention ``delete_where(ts <= day-1 end)`` drops
    the aged day's files METADATA-ONLY (asserted: files_dropped > 0,
    files_rewritten == 0 — day-clustered appends make retention a
    partition drop), ``vacuum_index`` GCs the dropped files' postings
    (asserted non-zero, then asserted GONE by an anti-join against
    the live set), and ``optimize_index`` merges the remaining
    overlapping slices back to O(1)-posting-files-per-lookup
    (asserted: fewer posting files after, and the final lookup opens
    at most 2). The final point read — served through the compacted
    index with zero unindexed files — is hash-checked against the
    surviving two days. At 100 TB this is the weekly maintenance
    window: retention sweep, index GC, index compaction, all
    metadata-bounded except one posting-table rewrite."""
    import os
    import shutil
    import tempfile

    from smart_meter_data_pipeline_spark.sources.index import (
        _index_table,
        index_point_read,
        optimize_index,
        refresh_index,
        vacuum_index,
    )

    workdir = tempfile.mkdtemp(prefix="manifest_idx_retention_q_")
    try:
        t = ManifestTable(os.path.join(workdir, "fact"))
        acct = F.concat(
            F.lit("AC"), F.lpad(F.col("meter_id").cast("string"), 5, "0")
        )
        day1 = gen_meter_readings(spark).withColumn("account_code", acct)
        for shift in (0, 1, 2):
            day = day1.withColumn(
                "reading_timestamp",
                F.expr(
                    f"timestampadd(DAY, {shift}, reading_timestamp)"
                ),
            )
            t.idempotent_append(spark, day)
            refresh_index(
                t, spark, "account_code", posting_partitions=4
            )
        import datetime as _dt

        cutoff = _dt.datetime(2024, 1, 1, 23, 59, 59)
        rep = delete_where(
            t, spark, "reading_timestamp", hi=cutoff
        )
        if rep["files_dropped"] == 0 or rep["files_rewritten"] != 0:
            raise AssertionError(
                f"retention was not a metadata-only partition drop: {rep}"
            )
        refresh_index(t, spark, "account_code")
        gc = vacuum_index(t, spark, "account_code")
        if gc["postings_removed"] == 0:
            raise AssertionError(
                "aged-out files stranded no postings — GC not exercised"
            )
        idx = _index_table(t, "account_code")
        live_rels = sorted(
            os.path.relpath(f, t.data_dir)
            for f in t._files([c for _, c in t.numbered_snapshot()])
        )
        n_stale = (
            idx.read(spark)
            .join(
                spark.createDataFrame(
                    [(r,) for r in live_rels], "rel_file string"
                ),
                "rel_file",
                "left_anti",
            )
            .count()
        )
        if n_stale != 0:
            raise AssertionError(
                f"{n_stale} aged-out postings survived vacuum_index"
            )
        opt = optimize_index(
            t, spark, "account_code", posting_partitions=2
        )
        if not (
            opt["posting_files_after"] < opt["posting_files_before"]
        ):
            raise AssertionError(
                f"index compaction merged nothing: {opt}"
            )
        probe = ["AC00005", "AC00123"]
        out, rep2 = index_point_read(t, spark, "account_code", probe)
        if rep2["files_unindexed"] != 0:
            raise AssertionError(f"index stale after lifecycle: {rep2}")
        if rep2["posting_files_read"] > 2:
            raise AssertionError(
                f"compacted lookup still opens {rep2} posting files"
            )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "manifest_index_retention_lifecycle",
    f"""WITH {_readings_cte()},
tagged AS (
  SELECT *, 'AC' || lpad(CAST(meter_id AS VARCHAR), 5, '0')
           AS account_code
  FROM readings
),
surviving_days AS (
  SELECT reading_timestamp + INTERVAL 1 DAY AS reading_timestamp,
         meter_id, reading_consumption_milliwatts,
         reading_production_milliwatts, status, account_code
  FROM tagged
  UNION ALL
  SELECT reading_timestamp + INTERVAL 2 DAY, meter_id,
         reading_consumption_milliwatts, reading_production_milliwatts,
         status, account_code
  FROM tagged
)
SELECT * FROM surviving_days
WHERE account_code IN ('AC00005', 'AC00123')""",
)(manifest_index_retention_lifecycle)


def catalog_sliced_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-level zone-map file skipping under the oracle gate
    (round 13, sources/catalog.py read(where=)): three daily
    transactions land a fact table through the catalog chain (stats
    config persisted on the handle directory, so every txn's reopen
    records reading_timestamp zone maps), then the day-2 sliced read
    must SKIP files from payload metadata alone (asserted via
    ``skipping_report`` — files_skipped > 0 with a strict subset
    read) and hash-match the plain filtered read. At a 100 TB catalog
    this is the difference between a report opening one day's files
    and opening the table."""
    import datetime as _dt
    import os
    import shutil
    import tempfile

    from smart_meter_data_pipeline_spark.sources.catalog import Catalog

    workdir = tempfile.mkdtemp(prefix="catalog_slice_q_")
    try:
        cat = Catalog(os.path.join(workdir, "cat"))
        ManifestTable(
            os.path.join(cat.root, "tables", "fact"),
            stats_columns=["reading_timestamp"],
        )
        day1 = gen_meter_readings(spark)
        for shift in (0, 1, 2):
            txn = cat.txn()
            txn.append(
                spark,
                "fact",
                day1.withColumn(
                    "reading_timestamp",
                    F.expr(
                        f"timestampadd(DAY, {shift}, reading_timestamp)"
                    ),
                ),
            )
            txn.commit()
        lo = _dt.datetime(2024, 1, 2)
        hi = _dt.datetime(2024, 1, 2, 23, 59, 59)
        rep = cat.skipping_report(
            "fact", where={"reading_timestamp": (lo, hi)}
        )
        if not (0 < rep["files_read"] < rep["files_live"]):
            raise AssertionError(
                f"catalog slice skipped nothing: {rep}"
            )
        out = cat.read(
            spark, "fact", where={"reading_timestamp": (lo, hi)}
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "catalog_sliced_read",
    f"""WITH {_readings_cte()}
SELECT reading_timestamp + INTERVAL 1 DAY AS reading_timestamp,
       meter_id, reading_consumption_milliwatts,
       reading_production_milliwatts, status
FROM readings""",
)(catalog_sliced_read)


def catalog_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The secondary-index protocol composed with CATALOG transactions
    (round 14 — sources/catalog.py CatalogTableView):
    a CatalogTxn CoW upsert rewrites files out from under the table's
    posting index, and every leg of the index lifecycle must behave
    exactly as it does over a plain manifest table:

    1. index a catalog table through its log VIEW (the catalog chain
       numbers the commits) and assert a point read serves fully
       indexed (files_unindexed == 0);
    2. restate one meter's day through a CatalogTxn UPSERT (one
       atomic catalog commit, CoW rewrite) — the rewritten files'
       origin is the txn's catalog commit number, ABOVE indexed_upto,
       so the consult must treat them as unindexed (asserted > 0)
       while the result already reflects the post-upsert rows (the
       staleness rule: freshness degrades IO, never correctness);
    3. maintain_index over the view: refresh indexes the rewritten
       files, vacuum GCs the postings of the files the upsert removed
       (asserted > 0 removed);
    4. the consult is fully indexed again (files_unindexed == 0).

    The returned relation is the restated meter's full day,
    hash-checked against the oracle's generator-CTE twin with the
    restatement applied — so a protocol break in ANY leg (pruning a
    live file, serving the pre-upsert image, leaving the index
    stale) breaks the hash or raises in-query."""
    import os
    import shutil
    import tempfile

    from smart_meter_data_pipeline_spark.sources.catalog import (
        Catalog,
        CatalogTableView,
    )
    from smart_meter_data_pipeline_spark.sources.index import (
        index_point_read,
        maintain_index,
        refresh_index,
    )

    workdir = tempfile.mkdtemp(prefix="catalog_index_q_")
    try:
        cat = Catalog(os.path.join(workdir, "cat"))
        readings = gen_meter_readings(spark)
        tx = cat.txn()
        tx.append(spark, "fact", readings)
        tx.commit()
        view = CatalogTableView(cat, "fact")
        refresh_index(view, spark, "meter_id")
        out0, rep0 = index_point_read(view, spark, "meter_id", [17])
        if rep0["files_unindexed"] != 0 or out0.count() != N_TICKS:
            raise AssertionError(
                f"fresh catalog index must serve meter 17 fully "
                f"indexed: {rep0}"
            )
        restated = readings.filter(F.col("meter_id") == 17).withColumn(
            "reading_consumption_milliwatts",
            F.col("reading_consumption_milliwatts") + 1,
        )
        tx2 = cat.txn()
        tx2.upsert(spark, "fact", restated)
        tx2.commit()
        out1, rep1 = index_point_read(view, spark, "meter_id", [17])
        post = out1.filter(
            F.col("reading_consumption_milliwatts").isNull()
        ).count()
        if rep1["files_unindexed"] == 0:
            raise AssertionError(
                "the txn-rewritten files must read as unindexed "
                f"before the next refresh: {rep1}"
            )
        if out1.count() != N_TICKS or post != 0:
            raise AssertionError(
                f"stale-index read must already serve the post-"
                f"upsert image: {rep1}"
            )
        m = maintain_index(spark=spark, table=view, column="meter_id")
        if m["vacuum"]["postings_removed"] == 0:
            raise AssertionError(
                "vacuum must GC the postings of the files the "
                f"catalog upsert removed: {m}"
            )
        out2, rep2 = index_point_read(view, spark, "meter_id", [17])
        if rep2["files_unindexed"] != 0:
            raise AssertionError(
                f"post-maintenance consult must be fully indexed: "
                f"{rep2}"
            )
        return out2.select(
            F.col("reading_timestamp").alias("rt"),
            "meter_id",
            "reading_consumption_milliwatts",
            "reading_production_milliwatts",
            "status",
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


register(
    "catalog_index_lifecycle",
    f"""WITH {_readings_cte()}
SELECT reading_timestamp AS rt, meter_id,
       reading_consumption_milliwatts + 1
         AS reading_consumption_milliwatts,
       reading_production_milliwatts, status
FROM readings WHERE meter_id = 17""",
)(catalog_index_lifecycle)
