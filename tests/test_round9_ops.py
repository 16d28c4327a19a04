"""Round-9 additions: Holt forecast and Fellegi-Sunter linkage."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_round9_new_plans_no_cartesian(spark, sf_dir):
    """The round-9 operators must never degrade to a cartesian
    product."""
    import contextlib
    import io

    from smart_meter_data_pipeline_spark.operators import dedup, extended

    def plan(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    for fn in (
        extended.events_holt_forecast,
        dedup.dedup_fellegi_sunter,
    ):
        assert "CartesianProduct" not in plan(fn(spark, sf_dir)), fn.__name__


def test_fellegi_sunter_block_cap_bounds_pairs(spark, sf_dir):
    """Every emitted pair must come from a block the cap admitted, and
    a perfect-agreement pair must score the full ratio product."""
    from smart_meter_data_pipeline_spark.operators import dedup

    out = dedup.dedup_fellegi_sunter(spark, sf_dir)
    rows = out.collect()
    assert rows, "linkage should find at least one candidate pair"
    full = (9 * 8 * 3 * 1000) // (2 * 1 * 1)
    for r in rows:
        assert r["score_milli"] >= dedup.FS_SCORE_MIN_MILLI
        assert r["score_milli"] <= full
        assert r["a_key"] < r["b_key"]


def test_holt_forecast_identity_on_constant_series(spark):
    """On a constant series the Holt state must converge to (level =
    the constant, trend = 0) — the fixed point of the halving updates."""
    import datetime as _dt

    rows = [
        ("x", _dt.datetime(2024, 1, 1 + i), 25.00) for i in range(12)
    ]
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, value double"
    )
    # constant obs = 2500 centi per day -> the fold must hold (2500, 0)
    daily = df.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(
            (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
        ).alias("obs")
    )
    series = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "obs"))).alias("s")
    )
    fold = F.expr(
        """
        aggregate(
          slice(s, 2, size(s) - 1),
          named_struct('level', s[0].obs, 'trend', CAST(0 AS BIGINT)),
          (acc, x) -> named_struct(
            'level',
            floor(CAST(x.obs + acc.level + acc.trend AS DOUBLE) / 2.0),
            'trend',
            floor(
              CAST(
                floor(CAST(x.obs + acc.level + acc.trend AS DOUBLE) / 2.0)
                - acc.level + acc.trend
                AS DOUBLE
              ) / 2.0
            )
          )
        )
        """
    )
    r = series.select(
        fold.getField("level").alias("level"),
        fold.getField("trend").alias("trend"),
    ).collect()[0]
    assert r["level"] == 2500 and r["trend"] == 0
