"""Invariant tests for the round-8 late additions: winnowing density
bounds, count-min's never-underestimate guarantee, edit-distance
verify bounds, Markov stationary mass conservation, and the skew
report's order-statistic ordering. These pin ALGORITHM properties the oracle hash can't express
(the hash proves engine agreement, not that the algorithm satisfies
its own contract)."""

from __future__ import annotations

from pyspark.sql import functions as F

from smart_meter_data_pipeline_spark.operators.curation import (
    corpus_countmin_estimate,
)
from smart_meter_data_pipeline_spark.operators.dedup import (
    EDIT_SIM_MICRO,
    dedup_edit_distance,
)
from smart_meter_data_pipeline_spark.operators.extended import (
    events_key_skew_report,
    events_markov_stationary,
)
from smart_meter_data_pipeline_spark.operators.text import (
    WINNOW_W,
    doc_winnowing,
)


def test_winnowing_density_bounds_and_duplicate_collision(spark, sf_dir, tmp_path):
    """Every doc's fingerprint count obeys 1 <= n_fps <= n_windows and
    n_fps >= ceil(n_windows / WINNOW_W) (one window-min can cover at
    most WINNOW_W windows); byte-identical texts produce identical
    fingerprint summaries."""
    rows = doc_winnowing(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r["n_fingerprints"] <= r["n_windows"]
        assert r["n_fingerprints"] * WINNOW_W >= r["n_windows"]
        assert r["min_fingerprint"] <= r["max_fingerprint"]

    # duplicate-collision: same text => same summary
    src = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(1)
    dup_dir = str(tmp_path / "dup_docs")
    a = src.select(F.lit(1).alias("doc_id"), "text")
    b = src.select(F.lit(2).alias("doc_id"), "text")
    a.unionAll(b).write.parquet(f"{dup_dir}/documents.parquet")
    out = {
        r["doc_id"]: (
            r["n_windows"],
            r["n_fingerprints"],
            r["min_fingerprint"],
            r["max_fingerprint"],
        )
        for r in doc_winnowing(spark, dup_dir).collect()
    }
    assert out[1] == out[2]


def test_countmin_never_underestimates(spark, sf_dir):
    rows = corpus_countmin_estimate(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["cms_estimate"] >= r["exact_count"] > 0
        assert r["overestimate"] == r["cms_estimate"] - r["exact_count"]


def test_edit_distance_pairs_bounds(spark, sf_dir):
    rows = dedup_edit_distance(spark, sf_dir).collect()
    assert rows  # the corpus plants near-dups; LSH must surface some
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert 0 <= r["edit_dist"] <= max(r["len_a"], r["len_b"])
        assert EDIT_SIM_MICRO <= r["sim_micro"] <= 1_000_000


def test_markov_stationary_mass_conserved(spark, sf_dir):
    """Floor-division truncation may only LOSE mass, and at most a few
    micro per type per round — the stationary vector must still sum to
    ~1e6 and sit next to the empirical distribution's support."""
    rows = events_markov_stationary(spark, sf_dir).collect()
    assert rows
    s = sum(r["stationary_micro"] for r in rows)
    assert 999_000 < s <= 1_000_000
    assert sum(r["empirical_micro"] for r in rows) <= 1_000_000
    for r in rows:
        assert r["stationary_micro"] > 0  # chain is irreducible here


def test_skew_report_order_statistics_ordered(spark, sf_dir):
    r = events_key_skew_report(spark, sf_dir).collect()[0]
    assert 1 <= r["p50_cnt"] <= r["p99_cnt"] <= r["max_cnt"]
    assert r["skew_ratio_micro"] >= 1_000_000  # p99 >= p50 by definition
    assert 0 < r["top_key_share_micro"] <= 1_000_000
    assert r["total_events"] >= r["n_keys"]
