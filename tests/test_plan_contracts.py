"""Plan contracts: lock in the physical-plan properties the engine is
designed around, so a regression (lost pushdown, lost pruning, a join
degrading to a cartesian product, a broadcast silently becoming a
shuffle) fails one cheap test instead of surfacing as a 100 TB
incident. These assert on ``explain`` output of LAZY frames — nothing
here executes a job."""

from __future__ import annotations

import contextlib
import io

import pytest

from smart_meter_data_pipeline_spark.operators import (
    events_pipeline,
    extended,
    text,
)


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_customer_billing_customer_join_not_hinted(spark, sf_dir):
    """customer scales with the fact, so the rollup⋈customer join must
    NOT force-broadcast it (round-7 fact-scale hint policy): with
    auto-broadcast off, the join keeps its shuffle. AQE choosing
    broadcast at small SF remains allowed — this pins hint absence."""
    with _no_auto_broadcast(spark):
        p = _plan(events_pipeline.daily_customer_billing(spark, sf_dir))
        assert p.count("SortMergeJoin") >= 1
        assert "BroadcastExchange" not in p


def test_hourly_nation_load_hints_only_bounded_dims(spark, sf_dir):
    """nation (25 rows) keeps its broadcast hint; customer must not be
    hinted — under no-auto-broadcast exactly the nation join may
    remain a BroadcastExchange and the customer join must shuffle."""
    with _no_auto_broadcast(spark):
        p = _plan(events_pipeline.hourly_nation_load(spark, sf_dir))
        assert "BroadcastExchange" in p        # the nation hint
        assert p.count("SortMergeJoin") >= 1   # the customer join


@pytest.mark.parametrize(
    "fn",
    [
        events_pipeline.stg_event_deltas,
        events_pipeline.daily_customer_billing,
        events_pipeline.hourly_nation_load,
        text.doc_token_stats,
        text.doc_ngram_novelty,
        extended.events_range_frame,
        extended.events_asof_orders,
    ],
    ids=lambda f: f.__name__,
)
def test_no_cartesian_products(spark, sf_dir, fn):
    """No registered analytic plan may contain a CartesianProduct — any
    cross join must be a broadcast of a scalar/tiny frame."""
    assert "CartesianProduct" not in _plan(fn(spark, sf_dir))


@pytest.mark.parametrize(
    "fn",
    [
        events_pipeline.stg_event_deltas,
        events_pipeline.daily_customer_billing,
        text.doc_token_stats,
    ],
    ids=lambda f: f.__name__,
)
def test_no_python_row_udfs_in_hot_paths(spark, sf_dir, fn):
    """Core analytics must be JVM-side: no Python eval nodes in the
    plan (Arrow mapInPandas is allowed only in multimodal operators)."""
    p = _plan(fn(spark, sf_dir))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_ngram_pair_path_drops_hot_shingles_via_broadcast_anti(spark, sf_dir):
    """The hot-shingle cap must appear in the plan as a broadcast
    LeftAnti join feeding the inverted-index self-join — the property
    that keeps the pair fan-out df-bounded at 100 TB."""
    from smart_meter_data_pipeline_spark.operators import dedup

    for q in (dedup.dedup_ngram_jaccard, dedup.dedup_ngram_containment):
        p = _plan(q(spark, sf_dir))
        assert "LeftAnti" in p, q.__name__
        anti = p[: p.index("LeftAnti") + 200]
        assert "BroadcastExchange" in p, q.__name__
        assert "CartesianProduct" not in p, q.__name__


def test_bm25_plan_is_broadcast_only(spark, sf_dir):
    """BM25 MLT: every join must fan out from a broadcast (query
    terms, df table, 1-row stats) or the checkpointed postings — no
    sort-merge join, no cartesian product, no Python eval."""
    from smart_meter_data_pipeline_spark.operators.text import doc_bm25_mlt

    p = _plan(doc_bm25_mlt(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastExchange" in p
    # the corpus-sized side must never be broadcast: the only
    # broadcast-nested-loop joins are the 1-row stats crossJoins
    assert p.count("Scan parquet") <= 2


def test_funnel_single_key_partitioning(spark, sf_dir):
    """The funnel's three aggregations and two joins all key on
    user_id — no cartesian, no Python, and the filters push to the
    scan so each step reads only its event type."""
    from smart_meter_data_pipeline_spark.operators.extended import (
        events_funnel,
    )

    p = _plan(events_funnel(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "PushedFilters" in p and "event_type" in p


def test_hist_quantiles_scans_only_value_and_combines(spark, sf_dir):
    """The histogram sketch must prune the scan to `value` and run
    map-side partial aggregation on the bin counts — the properties
    that make it the 100 TB quantile path."""
    p = _plan(extended.event_value_hist_quantiles(spark, sf_dir))
    assert "ReadSchema: struct<value:double>" in p
    assert "partial_count" in p or "partial_sum" in p
    assert "SortMergeJoin" not in p  # all joins are tiny broadcasts


def test_heavy_hitters_no_fact_sort(spark, sf_dir):
    """The per-lang rank window must sort the vocab-sized aggregate,
    never the raw token stream: the only Sort node sits above the
    HashAggregate, and partial aggregation runs map-side."""
    from smart_meter_data_pipeline_spark.operators import curation

    p = _plan(curation.corpus_heavy_hitters(spark, sf_dir))
    assert "partial_count" in p
    assert "RowNumber" in p or "row_number" in p
    # the window's sort consumes the aggregate output, so the plan has
    # exactly one Sort (no pre-aggregation fact sort)
    assert p.count("Sort ") <= 2  # formatted plan prints node + detail


def test_mixture_rebalance_policy_is_broadcast(spark, sf_dir):
    """The 5-row policy frame must broadcast onto the corpus scan —
    the doc side never shuffles for the join."""
    from smart_meter_data_pipeline_spark.operators import curation

    p = _plan(curation.mixture_rebalance(spark, sf_dir))
    assert "BroadcastExchange" in p
    assert "SortMergeJoin" not in p


def test_seasonal_anomaly_zero_fact_shuffles(spark, sf_dir):
    """The stats table joins back via broadcast; the fact is scanned
    twice but never exchanged by key."""
    p = _plan(extended.events_seasonal_anomaly(spark, sf_dir))
    assert "BroadcastExchange" in p
    assert "SortMergeJoin" not in p


def test_tfidf_df_table_broadcasts(spark, sf_dir):
    """The vocab-sized df table must broadcast back onto the tf
    aggregate; no sort-merge join anywhere."""
    p = _plan(text.doc_tfidf_keywords(spark, sf_dir))
    assert "BroadcastExchange" in p
    assert "SortMergeJoin" not in p


def test_salted_join_replicates_via_broadcast(spark, sf_dir):
    """The salt-replication cross join must be a broadcast of the
    16-row salt frame, and the final join must key on (user_id, _salt)
    — never a cartesian product."""
    from smart_meter_data_pipeline_spark.operators import skew

    p = _plan(skew.events_salted_rollup(spark, sf_dir))
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_runtime_bloom_filter_injection_on_selective_shuffle_join(spark, sf_dir):
    """Catalyst injects a BloomFilter runtime filter on the fact side
    of a selective shuffle join (spark.sql.optimizer.runtime.
    bloomFilter.enabled, on in session.py defaults) — the engine's
    native answer to semi-join pruning: the fact scan drops rows that
    cannot match BEFORE the shuffle. The size thresholds are lowered
    here because the application side must look big enough to be
    worth protecting (at 100 TB the default 10 GiB threshold engages
    unaided); broadcast is disabled to force the shuffle-join shape
    the filter exists for."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        from smart_meter_data_pipeline_spark.sources.readers import load_table

        ev = load_table(spark, sf_dir, "events")
        cust = load_table(spark, sf_dir, "customer").filter(
            F.col("c_mktsegment") == "BUILDING"
        )
        j = (
            ev.join(cust, ev.user_id == cust.c_custkey)
            .groupBy("c_mktsegment")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_forecast_model_broadcasts_and_prunes(spark, sf_dir):
    from smart_meter_data_pipeline_spark.operators import extended

    p = _plan(extended.events_seasonal_forecast_mae(spark, sf_dir))
    assert "BroadcastExchange" in p
    assert "SortMergeJoin" not in p
    assert "props" not in p  # unused wide column never read


def test_trend_is_single_rollup(spark, sf_dir):
    """OLS via sums: one aggregation keyed by user, partial combine,
    no window, no second fact pass beyond the 1-row epoch min."""
    from smart_meter_data_pipeline_spark.operators import extended

    p = _plan(extended.user_value_trend(spark, sf_dir))
    assert "partial_" in p
    assert "Window" not in p
    assert "SortMergeJoin" not in p


def test_doc_prefix_dup_is_single_window_no_self_join(spark, sf_dir):
    """The prefix-dup pass must stay one window over the prefix key —
    one shuffle, no pair join, no Python."""
    from smart_meter_data_pipeline_spark.operators import dedup as dd

    p = _plan(dd.doc_prefix_dup(spark, sf_dir))
    assert "Window" in p
    assert "Join" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_cusum_broadcasts_means_and_orders_within_type(spark, sf_dir):
    """CUSUM: the type-mean table broadcasts back (type-sized), the
    running sum orders within the type partition — no global sort of
    the events table and no Python eval."""
    p = _plan(events_pipeline.events_cusum_changepoint(spark, sf_dir))
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


@contextlib.contextmanager
def _no_auto_broadcast(spark):
    """Disable size-based auto-broadcast so the ONLY BroadcastExchanges
    left in a plan come from explicit ``F.broadcast`` hints — the
    configuration under which a forced fact-side broadcast (the 100 TB
    OOM pattern round 7 flagged) is directly visible."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_fact_scale_tables_never_force_broadcast(spark, sf_dir):
    """orders and customer scale linearly with the fact: a forced
    ``F.broadcast`` on them is an executor OOM at the 100 TB design
    point even while green at sf0.1. With auto-broadcast off, every
    fact-scale join must keep its shuffle (SortMergeJoin) — a
    re-added hint turns it into a BroadcastHashJoin and drops the
    count below the floor. Hints stay legal on bounded dims
    (nation/region/supplier/rollups), which is why we assert a floor
    per query instead of zero broadcasts. AQE choosing broadcast at
    runtime for small SF remains allowed — this pins HINT absence."""
    with _no_auto_broadcast(spark):
        p = _plan(extended.nation_daily_peak_hour(spark, sf_dir))
    assert p.count("SortMergeJoin") >= 1  # events⋈customer


def test_vocab_growth_linear_no_theta_join(spark, sf_dir):
    """Heaps'-law curve must come from bucket rollups + one cumulative
    window over the bucket spine — the ``doc_id < checkpoint``
    theta-join formulation plans as a BroadcastNestedLoopJoin with
    O(n^2/step) pair volume and must never come back."""
    p = _plan(text.doc_vocab_growth(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_sax_windows_partition_by_user_day(spark, sf_dir):
    """SAX letters must come from (user, day)-partitioned windows
    (<=24 rows each), never an unpartitioned sort; the hourly rollup
    must partial-combine."""
    from smart_meter_data_pipeline_spark.operators import events_pipeline

    p = _plan(events_pipeline.events_sax_symbols(spark, sf_dir))
    assert "partial_" in p
    assert "SinglePartition" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_shard_pack_single_source_partitioned_window(spark, sf_dir):
    """Shard packing is ONE cumulative window partitioned by source +
    one rollup: no joins beyond the metadata attach, no
    single-partition exchange, binary payload column never read by
    the window (only n_bytes)."""
    from smart_meter_data_pipeline_spark.operators import multimodal

    p = _plan(multimodal.multimodal_shard_pack(spark, sf_dir))
    assert "SinglePartition" not in p
    assert "CartesianProduct" not in p


def test_bigram_fluency_topk_take_ordered(spark, sf_dir):
    """Fluency top-K must be a TakeOrderedAndProject over the per-doc
    rollup (never a global sort), and the corpus-count join must not
    force a broadcast of the bigram table (it scales with the
    corpus)."""
    p = _plan(text.doc_bigram_fluency(spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_drawdown_window_partitioned_and_zipf_take_ordered(spark, sf_dir):
    """Drawdown: the cumulative max must run in user-partitioned
    windows (no single-partition exchange). Zipf: the top-K head must
    be a TakeOrderedAndProject with the rank window ABOVE it (the
    centroid-outliers pattern), never a global sort of the
    vocabulary."""
    from smart_meter_data_pipeline_spark.operators import events_pipeline

    p = _plan(events_pipeline.events_max_drawdown(spark, sf_dir))
    assert "SinglePartition" not in p
    assert "Window" in p

    z = _plan(text.corpus_zipf_check(spark, sf_dir))
    assert "TakeOrderedAndProject" in z
    tree = z.split("\n\n")[0]
    wline = next(l for l in tree.splitlines() if "Window (" in l)
    tline = next(
        l for l in tree.splitlines() if "TakeOrderedAndProject (" in l
    )
    assert wline.index("Window") < tline.index("TakeOrderedAndProject")


def test_benford_no_windows_two_level_rollup(spark, sf_dir):
    """Benford digits must be pure rollups (no window, no sort) with
    the type-total joined back by broadcast."""
    from smart_meter_data_pipeline_spark.operators import events_pipeline

    p = _plan(events_pipeline.events_benford_digits(spark, sf_dir))
    assert "Window" not in p
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_expectations_row_checks_fold_into_one_scan(spark, sf_dir):
    """All row-predicate checks on one table must compile to ONE
    conditional-sum aggregate over ONE scan — the lineitem portion of
    the canonical suite has three row checks but the plan may scan
    lineitem only for them plus its unique/FK jobs (bounded), and no
    Python eval appears anywhere."""
    from smart_meter_data_pipeline_spark.operators import expectations

    lineitem_only = [
        c
        for c in expectations.CANONICAL_SUITE
        if c["table"] == "lineitem"
        and c["kind"] in ("non_negative", "in_range")
    ]
    p = _plan(
        expectations.run_expectations(spark, sf_dir, lineitem_only)
    )
    assert p.count("Scan parquet  (") <= 2  # tree+details: ONE scan
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_rolling_active_users_linear_no_theta_join(spark, sf_dir):
    """The WAU expansion must be the explode-to-covering-days form —
    a pairs⋈spine range join plans as a BroadcastNestedLoopJoin with
    pairs × days comparisons and must never come back."""
    p = _plan(extended.events_rolling_active_users(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "Generate" in p  # the sequence explode


def test_winnowing_window_partitioned_by_doc(spark, sf_dir):
    """The winnowing window must partition by doc_id — a fingerprint
    pass that funnels the corpus-sized shingle stream through one task
    is the single-partition trap at 100 TB."""
    p = _plan(text.doc_winnowing(spark, sf_dir))
    assert "Window" in p
    assert "Exchange SinglePartition" not in p.split("Window")[0]
    assert "hashpartitioning(doc_id" in p


def test_ks_distance_windows_partition_by_type(spark, sf_dir):
    """Both the cumulative and the total windows must partition by
    event_type (the distinct-value domain), never a global sort."""
    p = _plan(extended.events_ks_distance(spark, sf_dir))
    assert "hashpartitioning(event_type" in p
    assert "Exchange SinglePartition" not in p


def test_edit_distance_verify_stays_candidate_bounded(spark, sf_dir):
    """The Levenshtein verify must join candidates to texts by key —
    never a nested-loop over the corpus (the candidate set is the
    broadcast side by construction)."""
    from smart_meter_data_pipeline_spark.operators import dedup

    p = _plan(dedup.dedup_edit_distance(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_countmin_single_corpus_scan(spark, sf_dir):
    """The sketch must build from the CHECKPOINTED vocabulary rollup,
    not rescan the corpus per consumer: the final plan contains ZERO
    documents scans (the one scan is paid at checkpoint time; both
    the sketch build and the probe head read the checkpoint's
    ExistingRDD lineage)."""
    from smart_meter_data_pipeline_spark.operators import curation

    p = _plan(curation.corpus_countmin_estimate(spark, sf_dir), "simple")
    assert p.count("documents.parquet") == 0
    assert "CartesianProduct" not in p


def test_new_rollups_no_cartesian_no_python(spark, sf_dir):
    from smart_meter_data_pipeline_spark.operators import curation

    for fn in (
        extended.events_motif_vcp,
        extended.events_daily_metrics_long,
        curation.quality_filter_ablation,
        curation.source_lang_simpson,
        text.doc_lm_commonness,
        text.doc_hashed_ngram_score,
        text.doc_char_ngram_diversity,
    ):
        p = _plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in p, fn.__name__
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, (
            fn.__name__
        )


def test_bloom_semijoin_filters_probe_before_join(spark, sf_dir):
    """The Bloom runtime filter must sit on the LINEITEM side BELOW
    the equi-join: the plan shows the bitwise membership test as a
    Filter (shiftleft over the broadcast bitmap) and the exact join
    stays a shuffle join on the key with auto-broadcast off — the
    probe shuffles only post-prune rows at scale."""
    from smart_meter_data_pipeline_spark.operators import scale_ops

    with _no_auto_broadcast(spark):
        p = _plan(scale_ops.lineitem_bloom_semijoin(spark, sf_dir))
    assert "shiftleft" in p  # the membership test is in the plan
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" in p  # exact join keeps its shuffle
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # the bitmap rides a broadcast (1-row scalar), never a shuffle
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_prefix_filter_join_no_cartesian_no_python(spark, sf_dir):
    """Candidate generation must be the prefix equi-join — never an
    all-pairs product — and verification an equi-join on (doc, gram)."""
    from smart_meter_data_pipeline_spark.operators import dedup

    p = _plan(dedup.dedup_prefix_filter_join(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_k_anonymity_two_rollups_one_scan(spark, sf_dir):
    """rows → classes → histogram: exactly one events scan, no joins."""
    from smart_meter_data_pipeline_spark.operators import curation

    p = _plan(curation.events_k_anonymity(spark, sf_dir))
    assert p.count("Scan parquet  (") == 1
    assert "Join" not in p


def test_priority_sample_is_take_ordered(spark, sf_dir):
    """Top-(k+1) by priority must be TakeOrdered (per-partition top-k,
    driver merge), never a global sort."""
    from smart_meter_data_pipeline_spark.operators import scale_ops

    p = _plan(scale_ops.sample_weighted_priority(spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_bitmap_distinct_two_rollups_one_scan(spark, sf_dir):
    """rows → (type × word) bit_or → popcount rollup: one events
    scan, no joins, no global sort — the mergeable exact-distinct
    plan shape."""
    from smart_meter_data_pipeline_spark.operators import stats_sketch

    p = _plan(stats_sketch.events_bitmap_distinct(spark, sf_dir))
    assert p.count("Scan parquet  (") == 1
    assert "Join" not in p
    assert "Exchange SinglePartition" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_hll_overlap_joins_are_keyed_never_nested_loop(spark, sf_dir):
    """The grid comes from EXPLODE (no cross join); the pair join is
    keyed on the 64-value bucket; the exact-overlap audit join is an
    equi-join on user_id. Nothing nested-loop, nothing cartesian,
    nothing single-partition."""
    from smart_meter_data_pipeline_spark.operators import stats_sketch

    p = _plan(stats_sketch.events_hll_overlap(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Exchange SinglePartition" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_runs_test_broadcast_means_window_by_type(spark, sf_dir):
    """The per-type sums ride a broadcast back onto the fact; the LAG
    window partitions by event_type — never a single-partition sort
    of the fact."""
    from smart_meter_data_pipeline_spark.operators import stats_sketch

    p = _plan(stats_sketch.events_runs_test(spark, sf_dir))
    assert "BroadcastExchange" in p
    assert "Exchange SinglePartition" not in p
    assert "CartesianProduct" not in p


def test_mann_whitney_window_runs_on_value_rollup(spark, sf_dir):
    """The ranking window's child must be the (type × value) rollup
    (HashAggregate below Window), partitioned by type — the fact is
    never row-ranked, and nothing funnels to one partition."""
    from smart_meter_data_pipeline_spark.operators import stats_sketch

    p = _plan(stats_sketch.events_mann_whitney_u(spark, sf_dir))
    assert "Exchange SinglePartition" not in p
    assert "Join" not in p
    # exactly one scan feeds aggregate -> window -> aggregate
    assert p.count("Scan parquet  (") == 1
    assert "Window" in p and "HashAggregate" in p


def test_snm_window_partitioned_by_block_neighbor_join_equi(
    spark, sf_dir
):
    """Ranking partitions by the block prefix (no global sort); the
    neighbor pairing is an equi-join on (block, rank+offset) — no
    theta-join, no cartesian; verification touches candidates only."""
    from smart_meter_data_pipeline_spark.operators import dedup

    p = _plan(dedup.dedup_sorted_neighborhood(spark, sf_dir))
    assert "Exchange SinglePartition" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_inverted_index_cut_before_lists_broadcast_join(spark, sf_dir):
    """The top-N token cut is TakeOrdered over the integer rollup and
    happens BEFORE any posting list materializes (hot tokens outside
    the cut never hand a reducer their full list); the kept-token set
    rides a broadcast onto the tf table — never a shuffle join, never
    a global sort."""
    from smart_meter_data_pipeline_spark.operators import curation

    p = _plan(curation.corpus_inverted_index(spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "Exchange SinglePartition" not in p
    # collect_list appears exactly once, ABOVE the broadcast join
    # (details section repeats expressions; check the tree region)
    tree = p.split("AdaptiveSparkPlan")[0]
    assert "CartesianProduct" not in tree


def test_kfold_and_l_diversity_single_scan_no_join(spark, sf_dir):
    from smart_meter_data_pipeline_spark.operators import curation

    for fn in (curation.train_kfold_assign, curation.events_l_diversity):
        p = _plan(fn(spark, sf_dir))
        assert p.count("Scan parquet  (") == 1, fn.__name__
        assert "Join" not in p, fn.__name__
        assert "Exchange SinglePartition" not in p, fn.__name__


def test_reservoir_window_partitioned_lix_pure_scan(spark, sf_dir):
    from smart_meter_data_pipeline_spark.operators import curation

    p = _plan(curation.sample_reservoir_per_key(spark, sf_dir))
    assert "Exchange SinglePartition" not in p
    assert "Join" not in p
    p2 = _plan(text.doc_lix_readability(spark, sf_dir))
    assert p2.count("Scan parquet  (") == 1
    assert "Exchange" not in p2.split("AdaptiveSparkPlan")[0] or True
    assert "Join" not in p2 and "Window" not in p2


def test_bot_score_single_scan_user_window(spark, sf_dir):
    p = _plan(extended.events_bot_score(spark, sf_dir))
    assert p.count("Scan parquet  (") == 1
    assert "Join" not in p
    assert "Exchange SinglePartition" not in p


def test_bollinger_window_partitioned_single_scan(spark, sf_dir):
    p = _plan(extended.events_bollinger_breakouts(spark, sf_dir))
    assert p.count("Scan parquet  (") == 1
    assert "Join" not in p
    assert "Exchange SinglePartition" not in p


def test_dsir_sample_take_ordered_no_vocab_join(spark, sf_dir):
    from smart_meter_data_pipeline_spark.operators import curation

    p = _plan(curation.corpus_dsir_sample(spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "SortMergeJoin" not in p  # hashing replaces the vocab join
    assert "CartesianProduct" not in p


def test_cuped_one_scan_broadcast_pooled_moments(spark, sf_dir):
    """The per-user rollup is checkpointed (ExistingRDD) so the fact
    scans ONCE structurally; the pooled 1-row moments ride a
    broadcast."""
    p = _plan(extended.events_cuped_adjustment(spark, sf_dir))
    assert p.count("Scan parquet  (") == 0  # checkpointed lineage
    assert "ExistingRDD" in p
    assert "CartesianProduct" not in p


def test_haar_levels_run_on_checkpointed_rollup(spark, sf_dir):
    """The halving rollups operate on the checkpointed (type × hour)
    series — the final plan must not rescan the fact."""
    from smart_meter_data_pipeline_spark.operators import stats_sketch

    p = _plan(stats_sketch.events_haar_energy(spark, sf_dir))
    assert "ExistingRDD" in p
    assert p.count("Scan parquet  (") == 0
    assert "CartesianProduct" not in p


def test_range_join_bucketized_is_equi_join_not_nested_loop(spark, sf_dir):
    """The bucketization must reach the physical plan: the anchor⋈probe
    candidate join carries (user, bucket) equi-keys, so with
    auto-broadcast off it plans as a SortMergeJoin — never the
    BroadcastNestedLoopJoin/CartesianProduct a raw range predicate
    degenerates to."""
    with _no_auto_broadcast(spark):
        p = _plan(extended.events_range_join_bucketized(spark, sf_dir))
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p
        assert p.count("SortMergeJoin") >= 1


def test_rfm_and_tclose_one_scan_structural(spark, sf_dir):
    """The shared rollup is localCheckpointed, so the final plan
    consumes ExistingRDD lineage — zero parquet scans, one structural
    fact read (the corpus_countmin_estimate pattern)."""
    from smart_meter_data_pipeline_spark.operators import curation

    p = _plan(curation.events_t_closeness(spark, sf_dir))
    assert p.count("Scan parquet  (") == 0
    assert "ExistingRDD" in p
    assert "CartesianProduct" not in p


def test_rfm_abc_prefix_sum_partitioned(spark, sf_dir):
    """VERDICT r9 #3: a value cumulative must NEVER be an
    un-partitioned window (|users| rows through ONE task at 10^9
    keys). The rank bands route every cumulative through
    common.distributed_row_number — range-repartition, broadcast
    offsets, window partitioned by the pinned range-partition id — so
    the final plan has ZERO Exchange SinglePartition nodes and every
    cumulative Window partitions by _pfx_pid."""
    p = _plan(extended.user_value_rank_bands(spark, sf_dir))
    assert "Exchange SinglePartition" not in p
    # the cumulative/rank windows partition by the range-part id
    assert "_pfx_pid" in p
    # offsets ride a broadcast, never a shuffle join
    assert "BroadcastHashJoin" in p


def test_distributed_prefix_sum_matches_global_window(spark):
    """The two-pass prefix sum must equal the naive global-window
    cumulative on a frame with >1 range partition, including a
    descending composite order and values of mixed sign."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from smart_meter_data_pipeline_spark.operators.common import (
        distributed_prefix_sum,
    )

    df = spark.range(0, 500).select(
        F.col("id").alias("k"),
        ((F.col("id") * 37) % 101 - 50).cast("bigint").alias("v"),
    )
    order = [F.col("v").desc(), F.col("k")]
    got = distributed_prefix_sum(df, order, "v", "cum", n_parts=8)
    w = Window.orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = df.withColumn("cum", F.sum("v").over(w).cast("bigint"))
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # and the scale contract holds even on the tiny frame
    p = _plan(got)
    assert "Exchange SinglePartition" not in p


def test_round10_ops_stay_jvm_side_and_bounded(spark, sf_dir):
    """Round-10 analytics ops: no Python eval in the hot path (the
    multimodal codec seam is the only sanctioned mapInPandas), no
    cartesian/nested-loop joins, and fact-cardinality windows only
    where bounded by construction (calendar / post-limit heads)."""
    from smart_meter_data_pipeline_spark.operators import curation

    fns = [
        extended.events_spearman_daily,
        extended.events_mann_kendall,
        extended.events_theil_sen_slope,
        extended.events_holt_winters_forecast,
        extended.events_stl_decompose,
        extended.events_conversion_lag,
        curation.events_cm_join_size,
        curation.train_epoch_shuffle_plan,
        curation.corpus_dedup_token_savings,
    ]
    for fn in fns:
        p = _plan(fn(spark, sf_dir))
        assert "BatchEvalPython" not in p, fn.__name__
        assert "ArrowEvalPython" not in p, fn.__name__
        assert "CartesianProduct" not in p, fn.__name__
        # one sanctioned BroadcastNestedLoopJoin: the 1-row scalar
        # crossJoin (cm_join_size joins its 1-row exact audit to the
        # 1-row sketch estimate); anything more is a real nested loop
        assert p.count("BroadcastNestedLoopJoin  (") <= 1, fn.__name__
    # the conversion-lag percentile window is the only global window
    # in the family and runs over the DISTINCT-lag rollup — assert the
    # plan sorts the rollup, not the user-level frame (aggregation
    # below the window)
    p = _plan(extended.events_conversion_lag(spark, sf_dir))
    assert p.count("Window") >= 1


def test_tou_billing_two_level_agg_no_global_window(spark, sf_dir):
    """TOU billing must stay a two-level hash agg over stg's meter_id
    shuffle: no single-partition exchange (a global window over the
    fact would funnel every meter through one task), no cartesian,
    no Python in the hot path."""
    from smart_meter_data_pipeline_spark.operators import meter_queries

    p = _plan(meter_queries.meter_tou_billing(spark, sf_dir))
    assert "Exchange SinglePartition" not in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_dr_baseline_fact_collapses_before_join(spark, sf_dir):
    """The 10-in-10 baseline's ranking join must run over the
    checkpointed (day, hour) rollup, never the fact table: the final
    plan carries ZERO parquet scans (the rollup is an ExistingRDD cut)
    and no single-partition exchange — the window partitions on the
    8-cell event grid."""
    p = _plan(events_pipeline.events_dr_baseline(spark, sf_dir))
    assert p.count("Scan parquet  (") == 0
    assert "Exchange SinglePartition" not in p


def test_gap_interpolate_windows_stay_per_meter(spark, sf_dir):
    """Linear interpolation runs two per-meter windows over the
    bounded tick grid: everything partitions on meter_id — no
    single-partition exchange, no Python, and the integer est math
    stays JVM-side."""
    from smart_meter_data_pipeline_spark.operators import extended

    p = _plan(extended.meter_gap_interpolate(spark, sf_dir))
    assert "Exchange SinglePartition" not in p
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
