"""Invariant tests for the second wave of late round-8 operators:
triplet distinctness, KS range,
equi-depth bin monotonicity/population balance, backlog conservation,
cross-correlation range, and the delivery-variance identity."""

from __future__ import annotations

from smart_meter_data_pipeline_spark.operators.extended import (
    EQUIDEPTH_BINS,
    events_ks_distance,
    events_type_crosscorr,
    events_value_equidepth_bins,
)
from smart_meter_data_pipeline_spark.operators.dedup import (
    train_contrastive_triplets,
)
from smart_meter_data_pipeline_spark.operators.tpch import (
    orders_open_backlog,
    supplier_delivery_consistency,
)


def test_triplets_are_distinct_and_resolved(spark, sf_dir):
    rows = train_contrastive_triplets(spark, sf_dir).collect()
    assert rows  # planted near-dups guarantee pairs
    doc_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .collect()
    }
    for r in rows:
        trio = (r["anchor_id"], r["positive_id"], r["negative_id"])
        assert len(set(trio)) == 3
        assert r["negative_id"] in doc_ids


def test_ks_distance_range(spark, sf_dir):
    rows = events_ks_distance(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["ks_micro"] <= 1_000_000
        assert r["n_first"] > 0 and r["n_second"] > 0


def test_equidepth_bins_monotone_and_balanced(spark, sf_dir):
    rows = events_value_equidepth_bins(spark, sf_dir).collect()
    assert rows
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for t, rs in by_type.items():
        rs.sort(key=lambda r: r["bin"])
        assert 1 <= rs[0]["bin"] and rs[-1]["bin"] <= EQUIDEPTH_BINS
        total = sum(r["n_rows"] for r in rs)
        for prev, cur in zip(rs, rs[1:]):
            assert prev["hi_micro"] < cur["lo_micro"], t  # disjoint, ordered
        # equal-population within one distinct-value block of slack
        for r in rs:
            assert r["n_rows"] <= total // EQUIDEPTH_BINS + max(
                r["n_distinct"], 1
            ) * max(
                (total + EQUIDEPTH_BINS - 1) // EQUIDEPTH_BINS, 1
            )  # loose: a single hot value may own a full bin


def test_backlog_conserves_orders(spark, sf_dir):
    rows = orders_open_backlog(spark, sf_dir).collect()
    assert rows
    rows.sort(key=lambda r: r["day"])
    assert sum(r["net_change"] for r in rows) == 0  # every order closes
    running = 0
    for r in rows:
        running += r["net_change"]
        assert running == r["open_backlog"]
        assert running >= 0


def test_crosscorr_range_and_pairs(spark, sf_dir):
    rows = events_type_crosscorr(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["type_a"] < r["type_b"]
        if r["crosscorr"] is not None:
            assert -1.0 <= r["crosscorr"] <= 1.0


def test_delivery_variance_nonnegative_identity(spark, sf_dir):
    rows = supplier_delivery_consistency(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # int-division variance surrogate may undershoot by < 2 milli,
        # never go below -2 (floor error bound), and mean is in-range
        assert r["var_delay_milli"] >= -2
        assert 0 <= r["mean_delay_milli"] <= 400_000  # <= 400 days
        assert r["n_lines"] > 0


def test_skyline_equals_bruteforce(spark, sf_dir):
    """The band-parallel skyline must equal the O(n^2) definition:
    a (price, size) point survives iff no other point has
    price <= p AND size >= s with strict inequality somewhere."""
    from smart_meter_data_pipeline_spark.operators.tpch import (
        part_price_size_skyline,
    )

    got = {
        (r["price_cents"], r["p_size"])
        for r in part_price_size_skyline(spark, sf_dir).collect()
    }
    import duckdb

    pts = duckdb.connect().execute(
        f"""
        SELECT DISTINCT
               CAST(CAST(p_retailprice AS DECIMAL(25,6)) * 100 AS BIGINT),
               p_size
        FROM read_parquet('{sf_dir}/part.parquet')
        """
    ).fetchall()
    expect = set()
    for p, s in pts:
        dominated = any(
            p2 <= p and s2 >= s and (p2 < p or s2 > s) for p2, s2 in pts
        )
        if not dominated:
            expect.add((p, s))
    assert got == expect and got
