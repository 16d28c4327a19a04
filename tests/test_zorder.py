"""OPTIMIZE ZORDER: interleaved clustering must narrow EVERY clustered
column's per-file stats range, where lexicographic clustering narrows
only the first."""

from __future__ import annotations

import pytest

import datetime as dt

from smart_meter_data_pipeline_spark.sources.manifest import ManifestTable
from smart_meter_data_pipeline_spark.sources.manifest_services import (
    optimize_table,
)

TS = dt.datetime(2024, 1, 1)


def _grid_table(spark, path):
    """32x32 integer (meter_id, v) grid appended as 8 small files
    (stats record integer columns only)."""
    t = ManifestTable(str(path), stats_columns=["meter_id", "v"])
    rows = [
        (TS + dt.timedelta(minutes=i), i % 32, i // 32)
        for i in range(1024)
    ]
    for lo in range(0, 1024, 128):
        df = spark.createDataFrame(
            rows[lo : lo + 128],
            "reading_timestamp timestamp, meter_id bigint, v bigint",
        ).repartition(1)
        t.idempotent_append(spark, df)
    return t


def _stat_widths(t):
    stats = t.snapshot()[-1]["stats"]
    widths = {"meter_id": [], "v": []}
    for per_file in stats.values():
        for c in widths:
            lo, hi = per_file[c][:2]
            widths[c].append(float(hi) - float(lo))
    return {c: sum(w) / len(w) for c, w in widths.items()}


@pytest.mark.slow
def test_zorder_narrows_both_columns(spark, tmp_path):
    tz = _grid_table(spark, tmp_path / "tz")
    before = sorted(map(tuple, tz.read(spark).collect()))
    res = optimize_table(
        tz,
        spark,
        target_partitions=16,
        cluster_by=["meter_id", "v"],
        zorder=True,
    )
    assert res["files_rewritten"] == 8 and res["files_created"] >= 8
    assert sorted(map(tuple, tz.read(spark).collect())) == before

    tl = _grid_table(spark, tmp_path / "tl")
    optimize_table(
        tl, spark, target_partitions=16, cluster_by=["meter_id", "v"]
    )

    wz = _stat_widths(tz)
    wl = _stat_widths(tl)
    # lexicographic: first column narrow, second column ~full range
    assert wl["meter_id"] <= 8
    assert wl["v"] >= 24
    # z-order: BOTH columns substantially narrower than full (31)
    assert wz["meter_id"] <= 16
    assert wz["v"] <= 16


@pytest.mark.slow
def test_zorder_single_column_falls_back_to_range_cluster(spark, tmp_path):
    t = _grid_table(spark, tmp_path / "t1")
    res = optimize_table(
        t, spark, target_partitions=16, cluster_by=["meter_id"], zorder=True
    )
    assert res["files_created"] >= 1
    assert _stat_widths(t)["meter_id"] <= 8


@pytest.mark.slow
def test_zorder_three_columns_all_narrow(spark, tmp_path):
    """3-D Z-order: EVERY clustered column's per-file stats range must
    narrow (≈ cube-root-of-file-count per axis), where lexicographic
    clustering leaves the 2nd and 3rd columns at ~full range — pins
    the generic bit-interleave beyond the 2-D grid the other tests
    cover."""
    import datetime as dt

    def cube(path):
        t = ManifestTable(
            str(path), stats_columns=["meter_id", "v", "w"]
        )
        rows = [
            (
                TS + dt.timedelta(minutes=i),
                i % 16,
                (i // 16) % 16,
                i // 256,
            )
            for i in range(4096)
        ]
        for lo in range(0, 4096, 512):
            df = spark.createDataFrame(
                rows[lo : lo + 512],
                "reading_timestamp timestamp, meter_id bigint,"
                " v bigint, w bigint",
            ).repartition(1)
            t.idempotent_append(spark, df)
        return t

    tz = cube(tmp_path / "z3")
    optimize_table(
        tz,
        spark,
        target_partitions=16,
        cluster_by=["meter_id", "v", "w"],
        zorder=True,
    )
    tl = cube(tmp_path / "l3")
    optimize_table(
        tl, spark, target_partitions=16, cluster_by=["meter_id", "v", "w"]
    )

    def widths(t):
        stats = t.snapshot()[-1]["stats"]
        out = {"meter_id": [], "v": [], "w": []}
        for per_file in stats.values():
            for c in out:
                lo, hi = per_file[c][:2]
                out[c].append(hi - lo)
        return {c: sum(ws) / len(ws) for c, ws in out.items()}

    wz, wl = widths(tz), widths(tl)
    # lexicographic at one-meter-per-file: only the first axis narrows
    assert wl["meter_id"] <= 1, wl
    assert wl["v"] >= 12 and wl["w"] >= 12, wl
    # z-order: EVERY axis well under the full range (15)
    assert wz["meter_id"] <= 10 and wz["v"] <= 10 and wz["w"] <= 10, wz


# -- Hilbert curve ------------------------------------------------------


def test_hilbert_key_matches_reference_xy2d(spark):
    """The Catalyst aggregate() fold must reproduce the classic xy2d
    transform exactly (bijective, unit-step-adjacent curve)."""
    import random

    from smart_meter_data_pipeline_spark.sources.manifest_services import (
        Z_BITS,
        _hilbert_column,
    )

    def xy2d(order, x, y):
        d, s = 0, order // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    n = 1 << Z_BITS
    random.seed(11)
    pts = [(random.randrange(n), random.randrange(n)) for _ in range(500)]
    pts += [(0, 0), (n - 1, n - 1), (0, n - 1), (n - 1, 0)]
    df = spark.createDataFrame(pts, "x bigint, y bigint")
    col = _hilbert_column(spark, df, ["x", "y"])
    got = df.select("x", "y", col.alias("d")).collect()
    assert all(r["d"] == xy2d(n, r["x"], r["y"]) for r in got)


@pytest.mark.slow
def test_hilbert_narrows_both_columns_and_preserves_rows(spark, tmp_path):
    t = _grid_table(spark, tmp_path / "th")
    before = sorted(map(tuple, t.read(spark).collect()))
    res = optimize_table(
        t,
        spark,
        target_partitions=16,
        cluster_by=["meter_id", "v"],
        hilbert=True,
    )
    assert res["files_rewritten"] == 8 and res["files_created"] >= 8
    assert sorted(map(tuple, t.read(spark).collect())) == before
    w = _stat_widths(t)
    assert w["meter_id"] <= 16 and w["v"] <= 16, w


@pytest.mark.slow
def test_hilbert_bounding_boxes_no_worse_than_zorder(spark, tmp_path):
    """The locality claim, measured: at an UNALIGNED file count (no
    power-of-two chunking to rescue Z-order), the mean per-file
    bounding-box AREA of the Hilbert layout is at most that of the
    Z-order layout (strictly smaller in practice — the curve has no
    quadrant jumps)."""
    def area(t):
        stats = t.snapshot()[-1]["stats"]
        areas = [
            (s["meter_id"][1] - s["meter_id"][0] + 1)
            * (s["v"][1] - s["v"][0] + 1)
            for s in stats.values()
        ]
        return sum(areas) / len(areas)

    th = _grid_table(spark, tmp_path / "h")
    optimize_table(
        th, spark, target_partitions=12,
        cluster_by=["meter_id", "v"], hilbert=True,
    )
    tz = _grid_table(spark, tmp_path / "z")
    optimize_table(
        tz, spark, target_partitions=12,
        cluster_by=["meter_id", "v"], zorder=True,
    )
    assert area(th) <= area(tz), (area(th), area(tz))


@pytest.mark.slow
def test_hilbert_requires_exactly_two_columns(spark, tmp_path):
    import pytest

    t = _grid_table(spark, tmp_path / "t3")
    with pytest.raises(ValueError, match="exactly 2 cluster columns"):
        optimize_table(
            t,
            spark,
            target_partitions=8,
            cluster_by=["meter_id", "v", "reading_timestamp"],
            hilbert=True,
        )
