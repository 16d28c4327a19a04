"""Incremental batch mart maintenance — rebuild ONLY changed dates.

The reference full-refreshes both marts on every ``dbt run``
(fact_customer_billing_daily.sql:1-10 ``materialized='table'``) and
names incremental materialization as the production fix (README.md:
137-138). The streaming path (`streaming/stream_queries.py`) covers
the always-on form; this module is the BATCH form: given the set of
fact dates that changed (a backfill, a late file, one new day), rebuild
just those mart partitions and swap them in with dynamic partition
overwrite. At 100 TB this is the difference between touching one day
and re-shuffling three years.

Correctness subtlety — the LAG boundary cuts BOTH ways:

- Computing day D needs day D-1 in the scan (the first reading of D
  deltas against the last reading of D-1), so staging for D is
  computed over D-1 ∪ D and trimmed to D. One partition of overlap,
  pruned at the parquet scan by the ``reading_date`` filter.
- A *backfill* of day D also invalidates day D+1: D+1's first delta
  was computed against D's pre-backfill last reading. So the rebuild
  target set is the changed dates plus each one's successor (when that
  successor exists in the fact table) — otherwise a late file for D
  leaves D+1's mart partitions silently stale.

Write path: ``spark.sql.sources.partitionOverwriteMode=dynamic`` —
mode("overwrite") then only the partitions present in the written
frame are replaced; untouched mart dates keep their files byte-for-
byte. (On Delta/Iceberg the same function becomes ``replaceWhere`` /
``overwritePartitions``.)
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smart_meter_data_pipeline_spark.operators.meter_pipeline import (
    fact_customer_billing_daily,
    fact_grid_load_hourly,
    hourly_meter_rollup,
    stg_transform,
)


def _with_overlap(dates: list[dt.date]) -> list[dt.date]:
    """The rebuild dates plus each one's predecessor (LAG scan input)."""
    ds = set(dates)
    ds |= {d - dt.timedelta(days=1) for d in dates}
    return sorted(ds)


def _rebuild_targets(
    dates: list[dt.date], existing: set[dt.date]
) -> list[dt.date]:
    """The changed dates plus each one's successor when it exists in
    the fact table — the successor's first delta depends on the changed
    date's last reading, so it must be recomputed too."""
    ds = set(dates)
    ds |= {d + dt.timedelta(days=1) for d in dates} & existing
    return sorted(ds)


def _existing_fact_dates(spark: SparkSession, fact_dir: str) -> set[dt.date]:
    """Distinct partition dates — a partition-column-only scan, served
    from the file listing without reading any row data."""
    return {
        r["reading_date"]
        for r in spark.read.parquet(fact_dir)
        .select("reading_date")
        .distinct()
        .collect()
    }


def stg_for_dates(
    spark: SparkSession, fact_dir: str, dates: list[dt.date]
) -> DataFrame:
    """Staging (LAG deltas) valid for ``dates``: scan D-1 ∪ D (pruned
    at the parquet scan), window per meter, keep only target rows."""
    scan_dates = _with_overlap(dates)
    landed = spark.read.parquet(fact_dir).filter(
        F.col("reading_date").isin(scan_dates)
    )
    stg = stg_transform(landed.drop("reading_date"))
    return stg.filter(F.to_date("reading_timestamp").isin(dates))


def refresh_marts_incremental(
    spark: SparkSession,
    fact_dir: str,
    billing_dir: str,
    grid_dir: str,
    dates: list[dt.date],
    dim_meters: DataFrame,
    dim_customers: DataFrame,
    dim_tariff_rates: DataFrame,
    dim_grid_zones: DataFrame,
) -> dict[str, int]:
    """Rebuild the mart partitions invalidated by a change to
    ``dates`` — the dates themselves plus each one's existing successor
    (LAG boundary) — via dynamic partition overwrite. Returns rewritten
    row counts per mart."""
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        targets = _rebuild_targets(dates, _existing_fact_dates(spark, fact_dir))
        # both writes read one persisted rollup: the LAG window runs once
        stg = stg_for_dates(spark, fact_dir, targets)
        rollup = hourly_meter_rollup(stg).persist()
        try:
            billing = fact_customer_billing_daily(
                rollup, dim_meters, dim_customers, dim_tariff_rates
            )
            (
                billing.write.mode("overwrite")
                .partitionBy("billing_date")
                .parquet(billing_dir)
            )
            grid = fact_grid_load_hourly(
                rollup, dim_meters, dim_grid_zones
            ).withColumn("load_date", F.to_date("load_hour"))
            grid.write.mode("overwrite").partitionBy("load_date").parquet(grid_dir)
        finally:
            rollup.unpersist()
        return {
            "billing_rows": spark.read.parquet(billing_dir)
            .filter(F.col("billing_date").isin(targets))
            .count(),
            "grid_rows": spark.read.parquet(grid_dir)
            .filter(F.col("load_date").isin(targets))
            .count(),
        }
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def batch_billing_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered end-to-end check of the incremental path: land the
    generator's readings date-partitioned, refresh the marts one date
    at a time (every LAG boundary crossed incrementally), and return
    the assembled billing mart. The oracle is the SAME batch billing
    SQL as ``meter_billing_daily`` — if any per-date rebuild dropped or
    doubled a boundary delta, the hash breaks."""
    import shutil
    import tempfile

    from smart_meter_data_pipeline_spark.operators.meter_pipeline import (
        gen_dim_customers,
        gen_dim_grid_zones,
        gen_dim_meters,
        gen_dim_tariff_rates,
        gen_meter_readings,
        N_METERS,
    )

    workdir = tempfile.mkdtemp(prefix="smart_meter_incr_")
    try:
        fact_dir = f"{workdir}/fact"
        billing_dir = f"{workdir}/billing"
        grid_dir = f"{workdir}/grid"
        readings = gen_meter_readings(spark)
        (
            readings.withColumn("reading_date", F.to_date("reading_timestamp"))
            .write.partitionBy("reading_date")
            .parquet(fact_dir)
        )
        dates = sorted(
            r["d"]
            for r in readings.select(
                F.to_date("reading_timestamp").alias("d")
            )
            .distinct()
            .collect()
        )
        for d in dates:  # one date per refresh: worst-case increments
            refresh_marts_incremental(
                spark,
                fact_dir,
                billing_dir,
                grid_dir,
                [d],
                gen_dim_meters(spark, N_METERS),
                gen_dim_customers(spark, N_METERS),
                gen_dim_tariff_rates(spark),
                gen_dim_grid_zones(spark),
            )
        return spark.read.parquet(billing_dir).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _billing_oracle() -> str:
    from smart_meter_data_pipeline_spark.operators.meter_queries import (
        _BILLING_SQL,
    )

    return _BILLING_SQL


from smart_meter_data_pipeline_spark.plans.registry import register  # noqa: E402

register("batch_billing_incremental", _billing_oracle())(
    batch_billing_incremental
)


def changed_dates_since(spark, table, v_from: int) -> list[dt.date]:
    """The incremental-refresh driver: which fact DATES changed since
    manifest version ``v_from``? Answered from COMMIT METADATA alone —
    every commit records the dates of the rows it added (the same
    metadata the date-pruned append validation relies on), so the
    change feed costs one log listing: no file reads, no Spark job,
    and vacuuming a compacted-out file can never break an old feed.
    The full loop is: ingest commits → changed dates →
    :func:`refresh_marts_incremental` on those dates (+LAG
    successors). This closes the CDC→refresh circuit the reference
    names as its production fix (README.md:137-138) without a table
    format: the manifest commit log IS the change feed.

    Copy-on-write aware: a mutation's exact change set is
    ``removed_dates`` (dates the matched rows lived on — the only
    record of a date a DELETE emptied) ∪ ``batch_dates`` (the upsert
    batch's own dates); its survivor files' full date range is mostly
    UNCHANGED rows and is deliberately not counted. OPTIMIZE commits
    are skipped entirely — they rewrite bytes, not rows, and counting
    their dates would trigger a full spurious refresh after every
    file compaction. Legacy mutation commits without ``batch_dates``
    fall back to their recorded ``dates`` (over-approximate: spurious
    refreshes, never missed ones)."""
    commits = table.snapshot()
    latest = len(commits) - 1
    if latest < 0 or v_from >= latest:
        return []
    dates: set[dt.date] = set()
    for c in commits[v_from + 1 :]:
        if c.get("optimize"):
            continue
        dates.update(
            dt.date.fromisoformat(s) for s in c.get("removed_dates", [])
        )
        if c.get("removed") and "batch_dates" in c:
            dates.update(
                dt.date.fromisoformat(s) for s in c["batch_dates"]
            )
        else:
            dates.update(
                dt.date.fromisoformat(s) for s in c.get("dates", [])
            )
    return sorted(dates)
