"""Every registered query with an oracle must hash-match it — the
local replica of the driver's t2 correctness gate.

The full registry sweep takes ~20+ min, too long for the default
run, so it is split:

- ``test_oracle_parity_smoke`` (default run): a deterministic subset —
  the ``_SMOKE_MUST`` names plus an every-40th sample of the sorted
  registry for breadth. Every ``_SMOKE_MUST`` name must be registered:
  deleting a query it names fails the gate instead of shrinking it.
- ``test_oracle_parity`` (``-m slow``): the remaining queries — the
  exhaustive sweep the closing verification runs; the driver's own
  DuckDB contract sweep independently covers all of them every round.
"""

from __future__ import annotations

import pytest

from smart_meter_data_pipeline_spark.plans import registry
from tests.oracle import assert_parity, run_oracle

registry.load_all()

ORACLE_CHECKED = sorted(registry.ORACLES)

# Queries whose code paths recent optimization rounds rewired, plus
# one representative per operator family — always in the fast gate.
_SMOKE_MUST = [
    "daily_customer_billing",
    "dedup_clusters",
    "doc_ngram_novelty",
    "doc_fingerprint",
    "dedup_minhash_lsh",
    "manifest_cow_roundtrip",
    "manifest_index_gc_roundtrip",
    "catalog_index_lifecycle",
    "stream_ingest_daily",
    "events_sessionized",
    "meter_gap_fill",
    "multimodal_frame_sample",
    # sampled by the every-40th slice of the larger registry before the
    # similarity and graph families were deleted
    "corpus_token_collocation",
    "doc_chunk_overlap",
    "events_ab_mde",
    "events_json_props",
    "events_user_streaks",
    "manifest_optimize_roundtrip",
    "stream_bot_score",
    "user_value_rank_bands",
    # sampled by the every-40th slice of the registry before the tpch
    # family and the five sink-mode stream demos were deleted
    "dedup_cluster_size_dist",
    "doc_tfidf_keywords",
    "events_haar_energy",
    "events_spc_xbar_r",
    "multimodal_resize",
    "sliding_window_avg",
    "stream_static_join",
    # sampled by the every-40th slice of the registry before the
    # merge-on-read demo queries were deleted
    "approx_sketch_check",
    "dedup_exact",
    "doc_winnowing",
    "events_hll_sliding_distinct",
    "events_theil_sen_slope",
    "nation_peak_coincidence",
    "stream_score_zscore",
    # sampled by the every-40th slice of the registry before the
    # ANALYZE / cost-based-planner demo queries were deleted
    "manifest_restore_roundtrip",
    "quality_filter_chain",
    "stream_sessionized_timeout",
    # sampled by the every-40th slice of the registry before the tag,
    # branch and identity-column demo queries were deleted
    "manifest_upsert_partial_roundtrip",
    "sample_weighted_priority",
    "stream_topk_users",
    # every caller of the two mart builders, which all read one
    # hourly_meter_rollup instead of staging: their oracles are the
    # reference's unchanged mart SQL
    "batch_billing_incremental",
    "meter_billing_daily",
    "meter_grid_load_hourly",
    "stream_billing_incremental",
    "stream_grid_incremental",
]

SMOKE = sorted(set(_SMOKE_MUST) | set(ORACLE_CHECKED[::40]))

_FULL_ONLY = [n for n in ORACLE_CHECKED if n not in set(SMOKE)]


@pytest.mark.parametrize("name", SMOKE)
def test_oracle_parity_smoke(spark, sf_dir, name):
    assert name in registry.ORACLES, f"_SMOKE_MUST names unregistered {name!r}"
    df = registry.QUERIES[name](spark, sf_dir)
    oracle = run_oracle(registry.ORACLES[name], sf_dir)
    assert_parity(df, oracle, name)


@pytest.mark.slow
@pytest.mark.parametrize("name", _FULL_ONLY)
def test_oracle_parity(spark, sf_dir, name):
    df = registry.QUERIES[name](spark, sf_dir)
    oracle = run_oracle(registry.ORACLES[name], sf_dir)
    assert_parity(df, oracle, name)


def test_all_queries_run(spark, sf_dir):
    """Rows-only queries (no oracle) must at least execute."""
    for name, fn in registry.QUERIES.items():
        if name in registry.ORACLES:
            continue
        df = fn(spark, sf_dir)
        assert df.count() >= 0, name
