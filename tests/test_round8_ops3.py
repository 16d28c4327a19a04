"""Invariant tests for the third wave of late round-8 operators: HLL
register bounds, min-merge signature bounds, chi-square accounting,
migration-matrix accounting, Welch t
finiteness, and price-index sanity."""

from __future__ import annotations

from smart_meter_data_pipeline_spark.operators.dedup import (
    corpus_source_minhash_jaccard,
)
from smart_meter_data_pipeline_spark.operators.extended import (
    HLL_RHO_NIBBLES,
    events_hll_registers,
    events_welch_ttest,
)
from smart_meter_data_pipeline_spark.operators.tpch import (
    BASE_YEAR,
    customer_value_migration,
    lineitem_price_index,
    orders_dow_uniformity_chi2,
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


def test_chi2_accounting(spark, sf_dir):
    rows = orders_dow_uniformity_chi2(spark, sf_dir).collect()
    assert len(rows) == 7
    total = rows[0]["chi2_total_milli"]
    assert all(r["chi2_total_milli"] == total for r in rows)
    assert sum(r["chi2_contrib_milli"] for r in rows) == total
    assert all(r["chi2_contrib_milli"] >= 0 for r in rows)


def test_migration_matrix_accounts_for_every_customer(spark, sf_dir):
    rows = customer_value_migration(spark, sf_dir).collect()
    assert rows
    assert not any(
        r["band_from"] == "none" and r["band_to"] == "none" for r in rows
    )
    assert sum(r["n_customers"] for r in rows) > 0


def test_welch_t_defined_and_finite(spark, sf_dir):
    import math

    rows = events_welch_ttest(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_first"] > 1 and r["n_second"] > 1
        assert r["t_stat"] is not None and math.isfinite(r["t_stat"])


def test_price_index_base_year_excluded_and_positive(spark, sf_dir):
    rows = lineitem_price_index(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["yr"] != BASE_YEAR
        assert r["index_milli"] > 0
        assert r["n_parts_matched"] > 0


def test_growth_accounting_identity(spark, sf_dir):
    """The bridge must balance exactly: gmv_m - gmv_(m-1) =
    new + resurrected + expansion - contraction - churned, in integer
    cents, for every consecutive month pair."""
    from smart_meter_data_pipeline_spark.operators.tpch import (
        orders_growth_accounting,
    )

    rows = {
        r["month_index"]: r
        for r in orders_growth_accounting(spark, sf_dir).collect()
    }
    assert rows
    for mi, r in rows.items():
        prev = rows.get(mi - 1)
        gmv_prev = prev["gmv_cents"] if prev else 0
        delta = (
            r["new_cents"]
            + r["resurrected_cents"]
            + r["expansion_cents"]
            - r["contraction_cents"]
            - r["churned_cents"]
        )
        assert r["gmv_cents"] - gmv_prev == delta, mi
        for k in (
            "new_cents",
            "resurrected_cents",
            "expansion_cents",
            "contraction_cents",
            "churned_cents",
        ):
            assert r[k] >= 0, (mi, k)
