"""Invariant tests for the third wave of late round-8 operators: HLL
register bounds, min-merge signature bounds and Welch t finiteness."""

from __future__ import annotations

from smart_meter_data_pipeline_spark.operators.dedup import (
    corpus_source_minhash_jaccard,
)
from smart_meter_data_pipeline_spark.operators.extended import (
    HLL_RHO_NIBBLES,
    events_hll_registers,
    events_welch_ttest,
)


def test_hll_register_bounds(spark, sf_dir):
    rows = events_hll_registers(spark, sf_dir).collect()
    assert rows
    cap = HLL_RHO_NIBBLES * 4 + 1
    for r in rows:
        assert 0 <= r["bucket"] < 64
        assert 1 <= r["register"] <= cap


def test_source_minhash_bounds(spark, sf_dir):
    rows = corpus_source_minhash_jaccard(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_match"] <= 16
        assert 0 <= r["est_jaccard_milli"] <= 1000
        assert 0 <= r["exact_jaccard_milli"] <= 1000
        assert r["n_inter"] >= 0


def test_welch_t_defined_and_finite(spark, sf_dir):
    import math

    rows = events_welch_ttest(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_first"] > 1 and r["n_second"] > 1
        assert r["t_stat"] is not None and math.isfinite(r["t_stat"])
