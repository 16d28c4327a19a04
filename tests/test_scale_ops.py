"""Invariant tests for the scale-technique operators: Bloom-filter
runtime-join transparency (no false negatives, real pruning), the
encoding advisor's accounting, and priority-sampling determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from smart_meter_data_pipeline_spark.operators.scale_ops import (
    BLOOM_HASHES,
    BLOOM_WORDS,
    PRIORITY_SAMPLE_K,
    URGENT_CUTOFF,
    bloom_bitmap_rows,
    events_encoding_advisor,
    lineitem_bloom_semijoin,
    sample_weighted_priority,
)
from smart_meter_data_pipeline_spark.sources.readers import load_table


def test_bloom_semijoin_equals_plain_join(spark, sf_dir):
    """The Bloom prefilter must be result-transparent: the rollup over
    the pruned probe equals the plain exact-join rollup."""
    got = {
        (r["l_returnflag"], r["l_linestatus"]): (
            r["revenue"],
            r["n_items"],
            r["n_orders"],
        )
        for r in lineitem_bloom_semijoin(spark, sf_dir).collect()
    }
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit(URGENT_CUTOFF))
    )
    plain = (
        load_table(spark, sf_dir, "lineitem")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
                .cast("decimal(25,6)")
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
    )
    want = {
        (r["l_returnflag"], r["l_linestatus"]): (
            r["revenue"],
            r["n_items"],
            r["n_orders"],
        )
        for r in plain.collect()
    }
    assert got == want


def test_bloom_bitmap_bounded_and_complete(spark, sf_dir):
    """The bitmap payload is bounded by its word count, never the
    data; and every build key tests positive (no false negatives)."""
    build = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    rows = bloom_bitmap_rows(build, "o_orderkey")
    assert 1 <= len(rows) <= BLOOM_WORDS
    bitmap = {r["word"]: r["bits"] for r in rows}
    # No false negatives: recompute each key's positions and test bits.
    from smart_meter_data_pipeline_spark.operators.scale_ops import (
        _bloom_positions,
    )
    pos = build.select(
        "o_orderkey", *[p.alias(f"p{i}") for i, p in enumerate(_bloom_positions(F.col("o_orderkey")))]
    )
    for r in pos.limit(200).collect():
        for i in range(BLOOM_HASHES):
            p = r[f"p{i}"]
            assert bitmap.get(p // 64, 0) >> (p % 64) & 1 == 1


def test_encoding_advisor_accounting(spark, sf_dir):
    rows = {r["column_name"]: r for r in events_encoding_advisor(spark, sf_dir).collect()}
    assert set(rows) == {"event_type", "user_id", "value", "props"}
    n = next(iter(rows.values()))["n_rows"]
    for r in rows.values():
        assert r["n_rows"] == n
        assert 1 <= r["n_distinct"] <= n
        assert 0 <= r["distinct_ratio_micro"] <= 1_000_000
        assert r["recommended_encoding"] in ("DICT", "PLAIN")
        expected = (
            "DICT" if r["distinct_ratio_micro"] < 100_000 else "PLAIN"
        )
        assert r["recommended_encoding"] == expected
    # event_type is a tiny enum — must always come out dictionary-coded.
    assert rows["event_type"]["recommended_encoding"] == "DICT"


def test_priority_sample_deterministic_and_thresholded(spark, sf_dir):
    a = sample_weighted_priority(spark, sf_dir).collect()
    b = sample_weighted_priority(spark, sf_dir).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert len(a) == PRIORITY_SAMPLE_K
    tau = a[0]["tau"]
    for r in a:
        assert r["tau"] == tau
        assert r["priority"] >= tau
        assert r["weight"] > 0
    # Priorities are sorted descending with doc_id tiebreak.
    keys = [(-r["priority"], r["doc_id"]) for r in a]
    assert keys == sorted(keys)


def test_prefix_filter_join_exact_recall(spark, sf_dir):
    """The prefix filter must lose NO pair: its output equals the
    unfiltered inverted-index join (pairs sharing >=1 gram) verified
    with the same integer Jaccard test."""
    from smart_meter_data_pipeline_spark.operators.dedup import (
        PREFIX_JACCARD_MILLI,
        _token_3grams,
        dedup_prefix_filter_join,
    )

    got = {
        (r["doc_a"], r["doc_b"]): (r["n_inter"], r["jaccard_milli"])
        for r in dedup_prefix_filter_join(spark, sf_dir).collect()
    }
    grams = _token_3grams(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = grams.select(F.col("doc_id").alias("doc_a"), "g")
    b = grams.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("g_b"))
    inter = (
        a.join(b, (F.col("g") == F.col("g_b")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")), "doc_b")
        .filter(
            F.col("n_inter") * 1000
            >= F.lit(PREFIX_JACCARD_MILLI)
            * (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        )
    )
    want = {
        (r["doc_a"], r["doc_b"]): (
            r["n_inter"],
            (1000 * r["n_inter"]) // (r["n_a"] + r["n_b"] - r["n_inter"]),
        )
        for r in inter.collect()
    }
    assert got == want
    assert got  # planted near-dups must surface at the test SF


def test_k_anonymity_accounting(spark, sf_dir):
    from smart_meter_data_pipeline_spark.operators.curation import (
        K_ANONYMITY,
        events_k_anonymity,
    )

    rows = events_k_anonymity(spark, sf_dir).collect()
    assert rows
    total = sum(r["n_rows"] for r in rows)
    n_events = load_table(spark, sf_dir, "events").count()
    assert total == n_events  # every event lands in exactly one class
    for r in rows:
        assert r["n_rows"] == r["class_size"] * r["n_classes"]
        assert r["risky"] == (r["class_size"] < K_ANONYMITY)


def test_leakage_safe_split_partitions_families(spark, sf_dir):
    from smart_meter_data_pipeline_spark.operators.curation import (
        train_split_leakage_safe,
    )

    rows = train_split_leakage_safe(spark, sf_dir).collect()
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    assert sum(r["n_docs"] for r in rows) == load_table(
        spark, sf_dir, "documents"
    ).count()
    for r in rows:
        assert r["n_leaky_groups"] == 0
        assert 1 <= r["n_groups"] <= r["n_docs"]
    by = {r["split"]: r["n_docs"] for r in rows}
    assert by.get("train", 0) > by.get("val", 0)  # 75/12.5/12.5 design


def test_ab_srm_accounting(spark, sf_dir):
    from smart_meter_data_pipeline_spark.operators.extended import (
        events_ab_assignment_srm,
    )

    rows = events_ab_assignment_srm(spark, sf_dir).collect()
    assert {r["arm"] for r in rows} == {"A", "B"}
    n_users = sum(r["n_users"] for r in rows)
    ev = load_table(spark, sf_dir, "events")
    assert n_users == ev.select("user_id").distinct().count()
    assert sum(r["n_events"] for r in rows) == ev.count()
    chi2 = {r["srm_chi2_micro"] for r in rows}
    assert len(chi2) == 1  # same global statistic on both rows
    n_a = next(r["n_users"] for r in rows if r["arm"] == "A")
    assert chi2.pop() == (1_000_000 * (2 * n_a - n_users) ** 2) // n_users


def test_independence_chi2_reference_value(spark, sf_dir):
    """Cross-check the integer-grid statistic against a float
    reference computation within the documented quantization bound."""
    from collections import Counter

    from smart_meter_data_pipeline_spark.operators.extended import (
        events_type_hour_independence_chi2,
    )

    row = events_type_hour_independence_chi2(spark, sf_dir).collect()[0]
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hr")
    ).collect()
    cells = Counter((r["event_type"], r["hr"]) for r in ev)
    ri = Counter(); cj = Counter()
    for (t, h), k in cells.items():
        ri[t] += k
        cj[h] += k
    n = sum(cells.values())
    chi2 = sum(
        (cells.get((t, h), 0) - ri[t] * cj[h] / n) ** 2
        / (ri[t] * cj[h] / n)
        for t in ri
        for h in cj
    )
    assert row["n_events"] == n
    assert row["df"] == (len(ri) - 1) * (len(cj) - 1)
    # grid bound: cells·n/1e8 plus the output's own milli rounding
    bound = len(cells) * n / 1e8 + 0.002
    assert abs(row["chi2_milli"] / 1000 - chi2) <= bound + 1e-6


def test_outlier_ensemble_vote_bounds(spark, sf_dir):
    from smart_meter_data_pipeline_spark.operators.events_pipeline import (
        events_outlier_ensemble,
    )

    rows = events_outlier_ensemble(spark, sf_dir).collect()
    assert rows
    for r in rows:
        flags = (r["n_flag_z"], r["n_flag_mad"], r["n_flag_iqr"])
        assert all(0 <= f <= r["n_events"] for f in flags)
        # unanimous ⊆ majority ⊆ any single method's ceiling
        assert 0 <= r["n_unanimous"] <= r["n_majority"]
        assert r["n_majority"] <= sum(flags)
        # majority cannot exceed the 2nd-largest method count
        assert r["n_majority"] <= sorted(flags)[1]
