"""Exact secondary index (sources/index.py): posting-list point
lookups with stale-index soundness over every mutation kind."""

from __future__ import annotations

import pytest

import datetime as dt

from pyspark.sql import functions as F

from smart_meter_data_pipeline_spark.sources.index import (
    index_point_read,
    refresh_index,
)
from smart_meter_data_pipeline_spark.sources.manifest import ManifestTable
from smart_meter_data_pipeline_spark.sources.manifest_cow import upsert
from smart_meter_data_pipeline_spark.sources.manifest_skipping import (
    read_where,
    skipping_report,
)
from smart_meter_data_pipeline_spark.sources.manifest_timetravel import (
    read_as_of,
)

TS = dt.datetime(2024, 1, 1)


def _readings(spark, n=4000, meters=800):
    return spark.range(n).select(
        (F.col("id") % meters).alias("meter_id"),
        F.expr(
            "timestampadd(MINUTE, CAST(id AS INT),"
            " timestamp'2024-01-01 00:00:00')"
        ).alias("reading_timestamp"),
        (F.col("id") * 3).alias("v"),
    )


def _tbl(spark, tmp_path, n=4000, meters=800, parts=8):
    t = ManifestTable(str(tmp_path / "t"))
    df = _readings(spark, n, meters)
    t.idempotent_append(spark, df.repartition(parts))
    return t, df


def test_index_point_read_exact_and_reports(spark, tmp_path):
    t, df = _tbl(spark, tmp_path)
    r = refresh_index(t, spark, "meter_id")
    # staging file count depends on session shuffle settings — pin
    # behavior (everything indexed, postings exist), not the count
    assert r["files_indexed"] > 0 and r["postings"] > 0
    out, rep = index_point_read(t, spark, "meter_id", [17, 91])
    truth = t.read(spark).filter(F.col("meter_id").isin([17, 91]))
    assert out.count() == truth.count() == 10
    assert rep["files_unindexed"] == 0
    assert 0 < rep["files_read"] <= rep["files_live"]
    # absent value: zero candidate files, empty frame, right schema
    out0, rep0 = index_point_read(t, spark, "meter_id", [10**9])
    assert rep0["files_read"] == 0
    assert out0.count() == 0
    assert set(out0.columns) == set(t.read(spark).columns)


def test_index_stale_reads_unindexed_unconditionally(spark, tmp_path):
    t, df = _tbl(spark, tmp_path)
    refresh_index(t, spark, "meter_id")
    day2 = df.withColumn(
        "reading_timestamp",
        F.expr("timestampadd(DAY, 1, reading_timestamp)"),
    )
    t.idempotent_append(spark, day2.repartition(4))
    out, rep = index_point_read(t, spark, "meter_id", [17])
    assert rep["files_unindexed"] > 0
    assert out.count() == 10  # 5 rows/day x 2 days for meter 17
    r2 = refresh_index(t, spark, "meter_id")
    assert r2["files_indexed"] == rep["files_unindexed"]
    out2, rep2 = index_point_read(t, spark, "meter_id", [17])
    assert rep2["files_unindexed"] == 0
    assert out2.count() == 10


@pytest.mark.slow
def test_index_survives_cow_rewrite(spark, tmp_path):
    """A CoW upsert moves rows into NEW files: stale postings point
    at removed files (ignored via the live-set intersection) and the
    rewritten rows are found through the unindexed rule."""
    t, df = _tbl(spark, tmp_path)
    refresh_index(t, spark, "meter_id")
    up = t.read(spark).filter("meter_id = 17").withColumn(
        "v", F.col("v") + 1_000_000
    )
    upsert(t, spark, up)
    out, rep = index_point_read(t, spark, "meter_id", [17])
    assert rep["files_unindexed"] > 0
    rows = out.collect()
    assert len(rows) == 5
    assert all(r.v >= 1_000_000 for r in rows)
    refresh_index(t, spark, "meter_id")
    out2, rep2 = index_point_read(t, spark, "meter_id", [17])
    assert rep2["files_unindexed"] == 0
    assert sorted(r.v for r in out2.collect()) == sorted(
        r.v for r in rows
    )


def test_index_reads_after_log_compaction(spark, tmp_path):
    """Log compaction merges files appended after the last refresh into
    the base commit. They keep their own commit numbers there, so the
    index still treats them as unindexed and a point read finds their
    rows, exactly as the plain filtered read does."""
    from smart_meter_data_pipeline_spark.sources.manifest import compact_log

    t = ManifestTable(str(tmp_path / "t"))
    batches = [
        _readings(spark, n=10, meters=10).withColumn(
            "meter_id", F.col("meter_id") + 100 * k
        )
        for k in range(4)
    ]
    t.idempotent_append(spark, batches[0])
    refresh_index(t, spark, "meter_id")
    for b in batches[1:]:
        t.idempotent_append(spark, b)
    assert compact_log(t, keep_last=1) == 3
    for meter in (3, 103, 203, 303):
        out, _ = index_point_read(t, spark, "meter_id", [meter])
        truth = t.read(spark).filter(F.col("meter_id") == meter)
        assert out.count() == truth.count() == 1


def test_catalog_index_reads_after_chain_compaction(spark, tmp_path):
    """The same repro through a catalog table: chain compaction keeps
    each merged file's own catalog commit number."""
    from smart_meter_data_pipeline_spark.sources.catalog import (
        Catalog,
        CatalogTableView,
        compact_catalog,
    )

    cat = Catalog(str(tmp_path / "cat"))
    for k in range(4):
        txn = cat.txn()
        batch = _readings(spark, n=10, meters=10).withColumn(
            "meter_id", F.col("meter_id") + 100 * k
        )
        txn.append(spark, "fact", batch)
        txn.commit()
        if k == 0:
            refresh_index(CatalogTableView(cat, "fact"), spark, "meter_id")
    assert compact_catalog(cat, keep_last=1) == 3
    view = CatalogTableView(cat, "fact")
    for meter in (3, 103, 203, 303):
        out, _ = index_point_read(view, spark, "meter_id", [meter])
        truth = cat.read(spark, "fact").filter(F.col("meter_id") == meter)
        assert out.count() == truth.count() == 1


def test_index_refresh_is_idempotent(spark, tmp_path):
    t, _ = _tbl(spark, tmp_path, n=200, meters=40, parts=2)
    r1 = refresh_index(t, spark, "meter_id")
    r2 = refresh_index(t, spark, "meter_id")
    assert r1["postings"] > 0
    assert r2 == {
        "files_indexed": 0,
        "postings": 0,
        "indexed_upto": r1["indexed_upto"],
    }


def test_index_prunes_its_own_posting_files(spark, tmp_path):
    """The posting table is itself zone-map-pruned (round 12): a
    string-valued point lookup opens a strict subset of posting
    files, because refresh range-clusters postings by v and the
    posting table records string min/max per file."""
    t = ManifestTable(str(tmp_path / "t"))
    df = spark.range(6000).select(
        (F.col("id") % 500).alias("meter_id"),
        F.expr(
            "timestampadd(MINUTE, CAST(id AS INT),"
            " timestamp'2024-01-01 00:00:00')"
        ).alias("reading_timestamp"),
        F.concat(
            F.lit("AC"),
            F.lpad((F.col("id") % 500).cast("string"), 5, "0"),
        ).alias("account_code"),
    )
    t.idempotent_append(spark, df.repartition(32))
    r = refresh_index(t, spark, "account_code", posting_partitions=8)
    assert r["postings"] > 0
    out, rep = index_point_read(
        t, spark, "account_code", ["AC00017", "AC00091"]
    )
    assert out.count() == 24
    assert rep["posting_files_live"] > 1
    assert rep["posting_files_read"] < rep["posting_files_live"]


def test_plain_read_where_in_consults_posting_index(spark, tmp_path):
    """Round 12: ``read(where_in=...)`` on an indexed column prunes
    by the posting index through the STANDARD read path — no
    dedicated API. Unclustered high-cardinality strings defeat zone
    maps and have no bloom/dictionary record, so any pruning observed
    here is the posting index's. Time-travel reads must NOT consult
    it (vacuum keeps postings for currently-live files only)."""
    t = ManifestTable(str(tmp_path / "t"))
    # 2 rows per account: the 2-account probe touches <= 4 of the 8
    # time-range files, so posting pruning is observable
    df = spark.range(4000).select(
        (F.col("id") % 2000).alias("meter_id"),
        F.expr(
            "timestampadd(MINUTE, CAST(id AS INT),"
            " timestamp'2024-01-01 00:00:00')"
        ).alias("reading_timestamp"),
        F.concat(
            F.lit("AC"),
            F.lpad((F.col("id") % 2000).cast("string"), 5, "0"),
        ).alias("account_code"),
    )
    t.idempotent_append(
        spark, df, cluster_by=["reading_timestamp"], cluster_partitions=8
    )
    n_live = len(t._files(t.snapshot()))
    refresh_index(t, spark, "account_code")
    probe = ["AC00017", "AC00091"]
    got = read_where(t, spark, where_in={"account_code": probe})
    assert len(got.inputFiles()) < n_live
    # observability: the spark-armed skipping report sees the same
    # posting-pruned candidate count the read actually opened
    rep = skipping_report(
        t, where_in={"account_code": probe}, spark=spark
    )
    assert rep["files_read"] == len(got.inputFiles())
    assert rep["files_live"] == n_live
    want = t.read(spark).filter(F.col("account_code").isin(probe))
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # time travel ignores the index: full candidate set
    tt = read_as_of(t, spark, version=0, where_in={"account_code": probe})
    assert len(tt.inputFiles()) == n_live
    assert tt.count() == got.count()


@pytest.mark.slow
def test_vacuum_index_drops_stale_postings(spark, tmp_path):
    """A CoW upsert strands postings at removed files; vacuum_index
    GCs them and the lookup stays exact with a smaller index."""
    from smart_meter_data_pipeline_spark.sources.index import (
        _index_table,
        vacuum_index,
    )

    t, df = _tbl(spark, tmp_path)
    refresh_index(t, spark, "meter_id")
    idx = _index_table(t, "meter_id")
    n_before = idx.read(spark).count()
    up = t.read(spark).filter("meter_id = 17").withColumn(
        "v", F.col("v") + 1_000_000
    )
    upsert(t, spark, up)
    refresh_index(t, spark, "meter_id")
    rep = vacuum_index(t, spark, "meter_id")
    assert rep["postings_removed"] > 0
    stale_after = (
        idx.read(spark)
        .join(
            spark.createDataFrame(
                [(r,) for r in sorted(
                    __import__("os").path.relpath(f, t.data_dir)
                    for f in t._files([c for _, c in t.numbered_snapshot()])
                )],
                "rel_file string",
            ),
            "rel_file",
            "left_anti",
        )
        .count()
    )
    assert stale_after == 0
    out, _ = index_point_read(t, spark, "meter_id", [17])
    assert sorted(r.v for r in out.collect()) == sorted(
        r.v for r in up.collect()
    )
    # vacuum is idempotent
    assert vacuum_index(t, spark, "meter_id") == {
        "postings_removed": 0
    }
    assert n_before > 0


def test_text_index_modes_skipping_staleness(spark, tmp_path):
    """Inverted text index: ANY unions / ALL intersects candidate
    sets, file skipping is real on a clustered rare token, unindexed
    files are searched unconditionally, and vacuum_index works on the
    text index's own posting table via index_name."""
    from smart_meter_data_pipeline_spark.sources.index import (
        refresh_text_index,
        text_index_search,
        vacuum_index,
    )

    t = ManifestTable(str(tmp_path / "docs"))
    df = spark.range(800).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 50, F.lit("alpha beta needle"))
        .otherwise(F.lit("alpha beta gamma"))
        .alias("text"),
    )
    t.idempotent_append(
        spark, df, pk=["doc_id"], cluster_by=["doc_id"],
        cluster_partitions=8,
    )
    n_live = len(t._files(t.snapshot()))
    assert n_live == 8
    r = refresh_text_index(t, spark, "text", posting_partitions=4)
    assert r["postings"] > 0
    # rare token: needle lives in the low-doc_id slice only
    out, rep = text_index_search(t, spark, "text", ["needle"])
    assert out.count() == 50
    assert rep["files_read"] < rep["files_live"] == 8
    assert 0 < rep["posting_files_read"] < rep["posting_files_live"]
    # ANY: union of candidates, all matching rows
    out_any, _ = text_index_search(
        t, spark, "text", ["needle", "gamma"], mode="any"
    )
    assert out_any.count() == 800
    # ALL: intersection — 'alpha' is everywhere, 'needle' only low
    out_all, rep_all = text_index_search(
        t, spark, "text", ["needle", "alpha"], mode="all"
    )
    assert out_all.count() == 50
    assert rep_all["files_read"] == rep["files_read"]
    # absent token in ALL mode: zero candidates, empty frame
    out0, rep0 = text_index_search(
        t, spark, "text", ["needle", "zzz_absent"], mode="all"
    )
    assert rep0["files_read"] == 0 and out0.count() == 0
    # staleness: new docs with a brand-new token found unrefreshed
    extra = spark.range(800, 850).select(
        F.col("id").alias("doc_id"),
        F.lit("alpha fresh_token").alias("text"),
    )
    t.idempotent_append(spark, extra, pk=["doc_id"])
    out2, rep2 = text_index_search(t, spark, "text", ["fresh_token"])
    assert rep2["files_unindexed"] > 0
    assert out2.count() == 50
    refresh_text_index(t, spark, "text")
    out3, rep3 = text_index_search(t, spark, "text", ["fresh_token"])
    assert rep3["files_unindexed"] == 0
    assert out3.count() == 50
    # GC on the text index: CoW-restate the low slice, vacuum by name
    up = t.read(spark).filter("doc_id < 10").withColumn(
        "text", F.lit("alpha beta needle edited")
    )
    upsert(t, spark, up, pk=["doc_id"])
    refresh_text_index(t, spark, "text")
    gc = vacuum_index(t, spark, "text", index_name="text__tokens")
    assert gc["postings_removed"] > 0
    out4, _ = text_index_search(t, spark, "text", ["edited"])
    assert out4.count() == 10


def test_concurrent_refresh_index_stays_exact(spark, tmp_path):
    """Two racing refreshes: posting appends are pk-idempotent and the
    meta advance is atomic, so whatever interleaving wins, the lookup
    stays exact and no posting is double-landed."""
    import threading

    from smart_meter_data_pipeline_spark.sources.index import (
        _index_table,
    )

    t, df = _tbl(spark, tmp_path)
    errs: list = []

    def go():
        try:
            refresh_index(t, spark, "meter_id")
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    threads = [threading.Thread(target=go) for _ in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    idx = _index_table(t, "meter_id")
    postings = idx.read(spark)
    assert postings.count() == postings.dropDuplicates(
        ["v", "rel_file"]
    ).count()
    out, rep = index_point_read(t, spark, "meter_id", [17])
    assert out.count() == 5
    assert rep["files_unindexed"] == 0


def test_text_search_any_with_absent_token(spark, tmp_path):
    """ANY-mode with one absent token degrades to the present token's
    result — union with the empty posting set, row filter on top."""
    from smart_meter_data_pipeline_spark.sources.index import (
        refresh_text_index,
        text_index_search,
    )

    t = ManifestTable(str(tmp_path / "docs"))
    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 10, F.lit("alpha needle"))
        .otherwise(F.lit("alpha gamma"))
        .alias("text"),
    )
    t.idempotent_append(spark, df, pk=["doc_id"])
    refresh_text_index(t, spark, "text")
    out, _ = text_index_search(
        t, spark, "text", ["needle", "zzz_absent"], mode="any"
    )
    assert out.count() == 10


def test_optimize_index_restores_o1_posting_reads(spark, tmp_path):
    """Round-13 compaction: N incremental refreshes write OVERLAPPING
    v-range slices, so a point lookup opens ~O(N) posting files;
    optimize_index re-clusters the posting table into disjoint ranges
    and the lookup is O(1) again — with identical results."""
    from smart_meter_data_pipeline_spark.sources.index import (
        optimize_index,
    )

    t = ManifestTable(str(tmp_path / "t"))
    for b in range(8):
        df = spark.range(400).select(
            (F.col("id") % 100).alias("meter_id"),
            F.expr(
                f"timestampadd(MINUTE, CAST(id AS INT),"
                f" timestamp'2024-01-0{b + 1} 00:00:00')"
            ).alias("reading_timestamp"),
            (F.col("id") * 3 + b).alias("v"),
        )
        t.idempotent_append(spark, df.repartition(2))
        # every batch holds every meter -> each refresh's 4 posting
        # files span the whole meter range, overlapping prior ones
        refresh_index(t, spark, "meter_id", posting_partitions=4)
    out_before, rep_before = index_point_read(t, spark, "meter_id", [17])
    n_before = out_before.count()
    assert n_before == 8 * 4  # 4 rows per batch
    assert rep_before["posting_files_live"] >= 8
    # fragmentation: the lookup opens ~one posting file per refresh
    assert rep_before["posting_files_read"] >= 4
    # self-triggering hook: below threshold -> metadata-only no-op
    skip = optimize_index(
        t, spark, "meter_id", only_if_more_than=10**6
    )
    assert skip["skipped"] and skip["files_rewritten"] == 0
    rep = optimize_index(
        t, spark, "meter_id", posting_partitions=4,
        only_if_more_than=8,
    )
    assert rep["files_rewritten"] >= 8
    assert rep["posting_files_after"] <= 4
    out_after, rep_after = index_point_read(t, spark, "meter_id", [17])
    assert out_after.count() == n_before
    assert rep_after["posting_files_read"] <= 2
    assert rep_after["files_read"] == rep_before["files_read"]
    assert sorted(map(tuple, out_after.collect())) == sorted(
        map(tuple, out_before.collect())
    )


def test_text_search_hot_token_df_capped(spark, tmp_path):
    """Round-13 df-cap: a stopword-frequency token's posting list is
    never collected driver-side — it is served as 'all indexed files'
    (it prunes nothing anyway), while a rare token still prunes, and
    ALL-mode intersection with a rare token stays tight."""
    from smart_meter_data_pipeline_spark.sources.index import (
        refresh_text_index,
        text_index_search,
    )

    t = ManifestTable(str(tmp_path / "docs"))
    df = spark.range(800).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 40, F.lit("common needle"))
        .otherwise(F.lit("common filler"))
        .alias("text"),
    )
    t.idempotent_append(
        spark, df, pk=["doc_id"], cluster_by=["doc_id"],
        cluster_partitions=8,
    )
    refresh_text_index(t, spark, "text", posting_partitions=4)
    # hot token alone: correct rows, capped, zero pruning (expected)
    out, rep = text_index_search(t, spark, "text", ["common"])
    assert out.count() == 800
    assert rep["df_capped_tokens"] == 1
    assert rep["files_read"] == rep["files_live"]
    # hot+rare in ALL mode: the rare token's postings still prune
    out2, rep2 = text_index_search(
        t, spark, "text", ["common", "needle"], mode="all"
    )
    assert out2.count() == 40
    assert rep2["df_capped_tokens"] == 1
    assert rep2["files_read"] < rep2["files_live"]


def test_index_df_cap_high_occupancy_value(spark, tmp_path):
    """Value-index df-cap: a value present in every file is served
    without a posting collect; results identical to the plain read."""
    t = ManifestTable(str(tmp_path / "t"))
    df = spark.range(4000).select(
        (F.col("id") % 800).alias("meter_id"),
        F.expr(
            "timestampadd(MINUTE, CAST(id AS INT),"
            " timestamp'2024-01-01 00:00:00')"
        ).alias("reading_timestamp"),
        F.when(F.col("id") % 5 == 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("rare_"), F.col("id")))
        .alias("tag"),
    )
    t.idempotent_append(
        spark, df, cluster_by=["reading_timestamp"], cluster_partitions=8
    )
    refresh_index(t, spark, "tag")
    out, rep = index_point_read(t, spark, "tag", ["hot"])
    assert out.count() == 800
    assert rep["df_capped_values"] == 1
    assert rep["files_read"] == rep["files_live"]
    # rare value: no cap, posting-exact pruning as before
    out2, rep2 = index_point_read(t, spark, "tag", ["rare_7"])
    assert out2.count() == 1
    assert rep2["df_capped_values"] == 0
    assert rep2["files_read"] <= 2


def test_index_meta_monotonic_and_snapshot_race_guard(spark, tmp_path):
    """Round-13 advice fixes: (a) a refresh derived from an OLDER
    snapshot never regresses indexed_upto; (b) a consult whose
    snapshot is OLDER than the index state (indexed_upto > the
    snapshot's head commit) treats every file as unindexed — posting
    pruning can never become a correctness filter mid-race."""
    import json as _json

    from smart_meter_data_pipeline_spark.sources.index import (
        _load_meta,
        _meta_path,
        index_candidate_files,
    )

    t, _ = _tbl(spark, tmp_path)
    refresh_index(t, spark, "meter_id")
    head = t.numbered_snapshot()[-1][0]
    # simulate a racing refresh that advanced the meta past our head
    with open(_meta_path(t, "meter_id"), "w") as fh:
        _json.dump({"indexed_upto": head + 5}, fh)
    # (a) a re-run refresh (same snapshot) must not regress the meta
    r = refresh_index(t, spark, "meter_id")
    assert r["indexed_upto"] == head + 5
    assert _load_meta(t, "meter_id")["indexed_upto"] == head + 5
    # (b) the consult sees indexed_upto > its snapshot head: every
    # live file is unindexed for this read (read all, prune nothing)
    cand, rep = index_candidate_files(t, spark, "meter_id", [17])
    assert rep["files_unindexed"] == rep["files_live"]
    assert rep["files_read"] == rep["files_live"]
    out, _ = index_point_read(t, spark, "meter_id", [17])
    assert out.count() == 5


def test_maintain_index_composition(spark, tmp_path):
    """maintain_index = refresh + vacuum (always — see the
    metadata-only-retention test) + (compact iff fragmented):
    steady-state calls are cheap no-ops, churn triggers exactly the
    needed passes, results stay exact."""
    from smart_meter_data_pipeline_spark.sources.index import (
        maintain_index,
    )

    t, df = _tbl(spark, tmp_path)
    r1 = maintain_index(
        spark=spark, table=t, column="meter_id",
        posting_partitions=4, max_posting_files=8,
    )
    assert r1["refresh"]["files_indexed"] > 0
    assert r1["optimize"].get("skipped")  # 4 files < threshold
    # steady state: nothing new -> refresh/vacuum/compact all no-op
    r2 = maintain_index(
        spark=spark, table=t, column="meter_id", max_posting_files=8,
    )
    assert r2["refresh"]["files_indexed"] == 0
    assert r2["vacuum"]["postings_removed"] == 0
    assert r2["optimize"].get("skipped")
    # churn: three more appends+refreshes fragment past the threshold
    for b in range(3):
        day = df.withColumn(
            "reading_timestamp",
            F.expr(f"timestampadd(DAY, {b + 1}, reading_timestamp)"),
        )
        t.idempotent_append(spark, day.repartition(4))
        maintain_index(
            spark=spark, table=t, column="meter_id",
            posting_partitions=4, max_posting_files=8,
        )
    # a CoW rewrite strands postings; the next maintenance GCs them
    up = t.read(spark).filter("meter_id = 17").withColumn(
        "v", F.col("v") + 1
    )
    upsert(t, spark, up)
    r3 = maintain_index(
        spark=spark, table=t, column="meter_id",
        posting_partitions=4, max_posting_files=8,
    )
    assert r3["vacuum"]["postings_removed"] > 0
    assert r3["optimize"]["posting_files_after"] <= 8
    out, rep = index_point_read(t, spark, "meter_id", [17])
    assert rep["files_unindexed"] == 0
    assert out.count() == 4 * 5  # 5 rows/day x 4 days


@pytest.mark.slow
def test_bare_vacuum_guards_older_snapshots(spark, tmp_path):
    """Round-14 advisor fix: a BARE vacuum_index (no refresh) after a
    CoW rewrite GCs postings for files still live in an OLDER
    reader's snapshot, without advancing indexed_upto — so the
    indexed_upto race guard alone never fires. vacuum_index now
    stamps the chain head it vacuumed at; a consult whose snapshot
    head is older than that stamp must treat every file as unindexed
    (read all, prune nothing) instead of silently missing the GC'd
    files' rows."""
    from smart_meter_data_pipeline_spark.sources.index import (
        _load_meta,
        index_candidate_files,
        vacuum_index,
    )

    t, _ = _tbl(spark, tmp_path)
    refresh_index(t, spark, "meter_id")
    numbered_old = t.numbered_snapshot()
    old_head = numbered_old[-1][0]
    old_live = set(t._files([c for _, c in numbered_old]))
    # CoW rewrite removes files from the CURRENT live set...
    up = t.read(spark).filter("meter_id = 17").withColumn(
        "v", F.col("v") + 1
    )
    upsert(t, spark, up)
    # ...and a bare vacuum (no refresh!) GCs their postings
    rep = vacuum_index(t, spark, "meter_id")
    assert rep["postings_removed"] > 0
    meta = _load_meta(t, "meter_id")
    assert meta.get("vacuumed_at_head", -1) > old_head
    assert meta["indexed_upto"] <= old_head  # first guard blind here
    # the OLD-snapshot consult must fall back to treat-all-unindexed
    cand, crep = index_candidate_files(
        t, spark, "meter_id", [17], numbered=numbered_old
    )
    assert set(cand) == old_live
    assert crep["files_unindexed"] == crep["files_live"]
    # the CURRENT-snapshot consult is unaffected and exact
    out, _ = index_point_read(t, spark, "meter_id", [17])
    assert out.count() == 5


@pytest.mark.slow
def test_maintain_index_vacuums_after_metadata_only_retention(
    spark, tmp_path
):
    """Round-14 advisor fix: a metadata-only retention delete_where
    removes files without ADDING any, so the next maintenance's
    refresh indexes 0 files — gating vacuum on files_indexed left the
    dropped files' postings stranded for every window until some
    data-adding commit. maintain_index now always vacuums (the no-op
    case is one metadata-sized anti-join)."""
    from smart_meter_data_pipeline_spark.sources.index import (
        maintain_index,
    )
    from smart_meter_data_pipeline_spark.sources.manifest_cow import (
        delete_where,
    )

    t = ManifestTable(str(tmp_path / "t"))
    df = spark.range(4000).select(
        (F.col("id") % 800).alias("meter_id"),
        F.expr(
            "timestampadd(MINUTE, CAST(id AS INT),"
            " timestamp'2024-01-01 00:00:00')"
        ).alias("reading_timestamp"),
        F.col("id").alias("v"),
    )
    # two appends with disjoint v ranges around the retention cut so
    # every file is either fully covered (dropped metadata-only) or
    # fully disjoint (untouched) — no straddling CoW rewrite, which
    # would add a file and mask the files_indexed==0 path under test
    t.idempotent_append(
        spark,
        df.filter("v < 1000"),
        cluster_by=["v"],
        cluster_partitions=2,
    )
    t.idempotent_append(
        spark,
        df.filter("v >= 1000"),
        cluster_by=["v"],
        cluster_partitions=6,
    )
    maintain_index(spark=spark, table=t, column="meter_id")
    delete_where(t, spark, "v", hi=999)
    m = maintain_index(spark=spark, table=t, column="meter_id")
    assert m["refresh"]["files_indexed"] == 0
    assert m["vacuum"]["postings_removed"] > 0
    out, prep = index_point_read(t, spark, "meter_id", [17])
    assert prep["files_unindexed"] == 0
    # ids 17, 817, 1617, 2417, 3217 — the first two fell to retention
    assert out.count() == 3
