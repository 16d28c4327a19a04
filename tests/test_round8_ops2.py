"""Invariant tests for the second wave of late round-8 operators:
triplet distinctness, KS range, equi-depth bin monotonicity/population
balance, and cross-correlation range."""

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


def test_crosscorr_range_and_pairs(spark, sf_dir):
    rows = events_type_crosscorr(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["type_a"] < r["type_b"]
        if r["crosscorr"] is not None:
            assert -1.0 <= r["crosscorr"] <= 1.0
