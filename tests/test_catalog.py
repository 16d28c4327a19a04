"""Catalog-level multi-table transactions: one put-if-absent catalog
commit is the atomic unit across every touched table."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from smart_meter_data_pipeline_spark.sources.catalog import Catalog
from smart_meter_data_pipeline_spark.sources.manifest import (
    CommitConflictError,
)
from smart_meter_data_pipeline_spark.sources.manifest_cow import upsert


def _facts(spark, lo, hi, day=1):
    return spark.range(lo, hi).select(
        F.expr(
            f"timestamp'2024-01-0{day} 00:00:00'"
            " + make_interval(0,0,0,0,0,0,id)"
        ).alias("reading_timestamp"),
        F.col("id").cast("int").alias("meter_id"),
        (F.col("id") * 10).cast("int").alias("v"),
    )


def _dim(spark, lo=0, hi=10):
    return spark.range(lo, hi).select(
        F.col("id").cast("int").alias("meter_id"),
        (F.col("id") % 2 == 0).alias("solar"),
    )


@pytest.fixture
def cat(tmp_path):
    return Catalog(str(tmp_path / "cat"))


def test_txn_is_atomic_across_tables(spark, cat):
    t = cat.txn()
    assert t.append(spark, "fact", _facts(spark, 0, 10)) == 10
    assert t.append(spark, "dim", _dim(spark), pk=["meter_id"]) == 10
    # nothing visible before the catalog commit
    assert cat.read(spark, "fact") is None
    assert cat.read(spark, "dim") is None
    assert t.commit() == 2
    assert cat.read(spark, "fact").count() == 10
    assert cat.read(spark, "dim").count() == 10
    assert cat.tables() == ["dim", "fact"]


def test_vacuum_refuses_leftover_branch_commits(spark, cat):
    """A catalog branch commit an older version left under
    ``_catalog_branches/<name>/`` is the only reference to the files
    its transaction staged. The vacuum reads only the main chain, so
    it refuses the catalog and the aged files survive."""
    import json
    import time

    txn = cat.txn()
    txn.append(spark, "fact", _facts(spark, 0, 5))
    txn.commit()
    t = cat.table_handle("fact")
    branch_files = t._stage(_facts(spark, 50, 55, day=3))
    old = time.time() - 7200
    for f in branch_files:
        os.utime(os.path.join(t.data_dir, f), (old, old))
    chain = os.path.join(cat.root, "_catalog_branches", "audit")
    os.makedirs(chain)
    with open(os.path.join(chain, "0000000001.json"), "w") as fh:
        json.dump(
            {"version": 1, "committed_at": old, "tables": {"fact": {
                "added": branch_files, "removed": [], "count": 5,
                "dates": ["2024-01-03"]}}},
            fh,
        )
    with pytest.raises(ValueError, match="branch 'audit' has commits"):
        cat.vacuum(ttl_s=3600)
    for f in branch_files:
        assert os.path.exists(os.path.join(t.data_dir, f))
    assert cat.read(spark, "fact").count() == 5


def test_crashed_txn_invisible_and_vacuumable(spark, cat):
    t1 = cat.txn()
    t1.append(spark, "fact", _facts(spark, 0, 10))
    t1.commit()
    t2 = cat.txn()
    t2.append(spark, "fact", _facts(spark, 10, 20, day=2))
    t2.append(spark, "dim", _dim(spark), pk=["meter_id"])
    # crash: never commits
    assert cat.read(spark, "fact").count() == 10
    assert cat.read(spark, "dim") is None
    swept = cat.vacuum(ttl_s=0.0)
    assert swept > 0
    assert cat.read(spark, "fact").count() == 10


def test_txn_dedups_against_visible_and_own_stage(spark, cat):
    t1 = cat.txn()
    t1.append(spark, "fact", _facts(spark, 0, 10))
    t1.commit()
    t2 = cat.txn()
    assert t2.append(spark, "fact", _facts(spark, 5, 15)) == 5
    assert t2.append(spark, "fact", _facts(spark, 12, 18)) == 3
    t2.commit()
    got = cat.read(spark, "fact")
    assert got.count() == 18
    assert got.select("meter_id").distinct().count() == 18


def test_version_pins_every_table_consistently(spark, cat):
    t1 = cat.txn()
    t1.append(spark, "fact", _facts(spark, 0, 10))
    t1.append(spark, "dim", _dim(spark), pk=["meter_id"])
    t1.commit()
    t2 = cat.txn()
    t2.append(spark, "fact", _facts(spark, 10, 20, day=2))
    t2.append(spark, "dim", _dim(spark, 10, 20), pk=["meter_id"])
    t2.commit()
    assert cat.read(spark, "fact", version=0).count() == 10
    assert cat.read(spark, "dim", version=0).count() == 10
    assert cat.read(spark, "fact").count() == 20
    assert cat.read(spark, "dim").count() == 20


def test_lost_race_disjoint_recommits_same_stage(spark, cat):
    seed = cat.txn()
    seed.append(spark, "fact", _facts(spark, 0, 5))
    seed.commit()
    t = cat.txn()
    t.append(spark, "fact", _facts(spark, 100, 105, day=3))
    fired = {"n": 0}

    def hook():
        if fired["n"] == 0:
            fired["n"] = 1
            other = cat.txn()
            other.append(spark, "fact", _facts(spark, 200, 205, day=4))
            other.commit()

    t._pre_publish_hook = hook
    assert t.commit() == 1
    assert fired["n"] == 1
    assert cat.read(spark, "fact").count() == 15


def test_lost_race_overlapping_aborts_and_discards(spark, cat):
    seed = cat.txn()
    seed.append(spark, "fact", _facts(spark, 0, 5))
    seed.commit()
    t = cat.txn()
    t.append(spark, "fact", _facts(spark, 50, 55, day=5))
    fired = {"n": 0}

    def hook():
        if fired["n"] == 0:
            fired["n"] = 1
            other = cat.txn()
            other.append(spark, "fact", _facts(spark, 50, 55, day=5))
            other.commit()

    t._pre_publish_hook = hook
    with pytest.raises(CommitConflictError):
        t.commit()
    assert cat.read(spark, "fact").count() == 10  # the winner's rows
    # loser's stage discarded: vacuum finds nothing beyond tmp noise
    handle = cat.table_handle("fact")
    on_disk = {
        os.path.join(d, f)
        for d in os.listdir(handle.data_dir)
        if os.path.isdir(os.path.join(handle.data_dir, d))
        for f in os.listdir(os.path.join(handle.data_dir, d))
        if f.endswith(".parquet")
    }
    referenced = {
        f
        for c in cat._table_commits("fact")
        for f in c["added"]
    }
    assert on_disk == referenced


def test_commit_twice_refused(spark, cat):
    t = cat.txn()
    t.append(spark, "fact", _facts(spark, 0, 3))
    t.commit()
    with pytest.raises(RuntimeError, match="already committed"):
        t.commit()
    with pytest.raises(RuntimeError, match="already committed"):
        t.append(spark, "fact", _facts(spark, 3, 6))


def test_empty_txn_commit_is_noop(spark, cat):
    assert cat.txn().commit() == 0
    assert cat.numbered_snapshot() == []


def test_catalog_read_pushes_filters_to_scan(spark, cat):
    """The catalog read is a plain schema'd parquet scan — predicates
    must reach the scan (PushedFilters), column pruning must hold."""
    import contextlib
    import io

    t = cat.txn()
    t.append(spark, "fact", _facts(spark, 0, 50))
    t.commit()
    df = (
        cat.read(spark, "fact")
        .filter(F.col("meter_id") > 25)
        .select("meter_id")
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters: [IsNotNull(meter_id), GreaterThan(meter_id,25)]" in plan
    assert "ReadSchema: struct<meter_id:int>" in plan


def test_txn_append_prunes_validation_scan_by_dates(spark, cat):
    """The anti-join must read only files from commits whose dates
    overlap the batch — O(batch's range), not O(table)."""
    for day in (1, 2, 3):
        t = cat.txn()
        t.append(spark, "fact", _facts(spark, day * 100, day * 100 + 5, day=day))
        t.commit()
    txn = cat.txn()
    # day-3 batch, half duplicate: validation must still be exact
    assert txn.append(spark, "fact", _facts(spark, 300, 310, day=3)) == 5
    txn.commit()
    assert cat.read(spark, "fact").count() == 20
    # structural half: the commits whose dates can't overlap never
    # feed the scan (checked via the helper the append uses)
    commits = cat._table_commits("fact")
    overlapping = [
        c for c in commits if set(c["dates"]) & {"2024-01-03"}
    ]
    assert len(overlapping) == 2  # day-3 seed + the new append
    assert len(commits) == 4


@pytest.mark.slow
def test_catalog_concurrent_txns_serialize(spark, cat):
    """N threads committing disjoint-key multi-table txns: every one
    lands (retries resolve through the fence), chain length == N,
    and both tables hold exactly the union."""
    import threading

    seed = cat.txn()
    seed.append(spark, "fact", _facts(spark, 0, 5))
    seed.commit()
    errs = []

    def work(i):
        try:
            t = cat.txn()
            t.append(
                spark, "fact",
                _facts(spark, 100 + i * 10, 100 + i * 10 + 5, day=2),
            )
            t.append(
                spark, "dim", _dim(spark, i * 10, i * 10 + 5),
                pk=["meter_id"],
            )
            t.commit(max_retries=40)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=work, args=(i,)) for i in range(6)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == []
    assert len(cat.numbered_snapshot()) == 7  # seed + 6 txns
    assert cat.read(spark, "fact").count() == 5 + 30
    assert cat.read(spark, "dim").count() == 30
    # atomic pairing held for every commit
    for _, c in cat.numbered_snapshot()[1:]:
        assert set(c["tables"]) == {"fact", "dim"}


# -- round 13: transactions beyond appends --------------------------------


def test_txn_upsert_and_dim_update_land_atomically(spark, cat):
    """The reference's Postgres-txn property for coupled writes: a
    fact RESTATEMENT and a dimension update publish in ONE catalog
    commit — pre-commit neither is visible, post-commit both are."""
    t0 = cat.txn()
    t0.append(spark, "fact", _facts(spark, 0, 20))
    t0.append(spark, "dim", _dim(spark), pk=["meter_id"])
    t0.commit()
    chain_before = len(cat.numbered_snapshot())

    restated = _facts(spark, 0, 5).withColumn(
        "v", (F.col("v") * 100).cast("int")
    )
    dim_upd = _dim(spark, 0, 5).withColumn("solar", F.lit(True))
    txn = cat.txn()
    n_matched, n_inserted = txn.upsert(spark, "fact", restated)
    assert (n_matched, n_inserted) == (5, 0)
    assert txn.upsert(spark, "dim", dim_upd, pk=["meter_id"]) == (5, 0)
    # staged but invisible: both tables still show pre-txn values
    assert (
        cat.read(spark, "fact").filter("v >= 1000").count() == 0
    )
    assert (
        cat.read(spark, "dim").filter("solar").count() == 5
    )
    assert txn.commit() == 2
    # exactly ONE chain commit landed both changes
    assert len(cat.numbered_snapshot()) == chain_before + 1
    fact = cat.read(spark, "fact")
    assert fact.count() == 20  # restatement, not insertion
    assert fact.filter("v >= 1000").count() == 4  # id 0 -> v=0
    # ids 0-4 forced True; 6,8 already True -> 7
    assert cat.read(spark, "dim").filter("solar").count() == 7
    # whole-catalog time travel still sees the pre-txn image
    old = cat.read(spark, "fact", version=chain_before - 1)
    assert old.filter("v >= 1000").count() == 0


def test_txn_delete_where_cow_and_read_your_own_writes(spark, cat):
    """delete_where inside a txn: NULL predicate keeps the row (SQL
    DELETE), and a later member of the SAME txn sees the deletion
    (read-your-own-writes through the accumulated payload)."""
    t0 = cat.txn()
    t0.append(spark, "fact", _facts(spark, 0, 20))
    t0.commit()
    txn = cat.txn()
    assert txn.delete_where(spark, "fact", "meter_id < 8") == 8
    # re-append a deleted key in the same txn: the validation
    # anti-join must see the deletion, so the row re-lands
    assert txn.append(spark, "fact", _facts(spark, 3, 4)) == 1
    txn.commit()
    got = cat.read(spark, "fact")
    assert got.count() == 13
    assert sorted(
        r["meter_id"] for r in got.select("meter_id").collect()
    ) == [3] + list(range(8, 20))


def test_txn_mutation_conflict_on_concurrent_removal(spark, cat):
    """A txn that MUTATED a table aborts when a commit it lost to
    also removed files from that table — recommitting a rewrite
    derived from the old file set would drop the winner's change."""
    t0 = cat.txn()
    t0.append(spark, "fact", _facts(spark, 0, 20))
    t0.commit()
    txn = cat.txn()
    txn.upsert(
        spark,
        "fact",
        _facts(spark, 0, 5).withColumn("v", F.lit(777).cast("int")),
    )
    fired = []

    def interloper():
        if fired:
            return
        fired.append(1)
        other = cat.txn()
        other.delete_where(spark, "fact", "meter_id >= 15")
        other.commit()

    txn._pre_publish_hook = interloper
    with pytest.raises(CommitConflictError, match="also removed"):
        txn.commit()
    # loser's stage discarded; winner's delete intact, no 777s
    got = cat.read(spark, "fact")
    assert got.count() == 15
    assert got.filter("v = 777").count() == 0
    swept = cat.vacuum(ttl_s=0.0)
    assert cat.read(spark, "fact").count() == 15 or swept >= 0


def test_txn_append_commit_gap_is_revalidated(spark, cat):
    """Keys validated at append() time are RE-validated at commit()
    against anything that landed in between — the gap between staging
    and publishing is a race window, not a free pass."""
    t0 = cat.txn()
    t0.append(spark, "fact", _facts(spark, 0, 10))
    t0.commit()
    slow = cat.txn()
    slow.append(spark, "fact", _facts(spark, 10, 15, day=2))
    # a whole other txn lands the SAME keys while slow sits staged
    fast = cat.txn()
    fast.append(spark, "fact", _facts(spark, 10, 15, day=2))
    fast.commit()
    with pytest.raises(CommitConflictError, match="key-overlapping"):
        slow.commit()
    assert cat.read(spark, "fact").count() == 15


def test_txn_mutation_lost_race_append_only_recommits(spark, cat):
    """A mutated txn that loses the fence to an APPEND-ONLY commit
    with disjoint keys recommits the same staged rewrite — only
    removals (or key overlap) conflict."""
    t0 = cat.txn()
    t0.append(spark, "fact", _facts(spark, 0, 10))
    t0.commit()
    txn = cat.txn()
    txn.upsert(
        spark,
        "fact",
        _facts(spark, 0, 3).withColumn("v", F.lit(555).cast("int")),
    )
    fired = []

    def interloper():
        if fired:
            return
        fired.append(1)
        other = cat.txn()
        other.append(spark, "fact", _facts(spark, 100, 105, day=3))
        other.commit()

    txn._pre_publish_hook = interloper
    txn.commit()
    got = cat.read(spark, "fact")
    assert got.count() == 15
    assert got.filter("v = 555").count() == 3


def test_compact_catalog_replays_mutations(spark, cat):
    """Compaction nets mutation removals out of the merged base —
    contents identical, rewritten originals become unreferenced (the
    delete -> compact -> vacuum lifecycle at catalog level)."""
    from smart_meter_data_pipeline_spark.sources.catalog import (
        compact_catalog,
    )

    t0 = cat.txn()
    t0.append(spark, "fact", _facts(spark, 0, 20))
    t0.commit()
    for lo in (0, 5):
        txn = cat.txn()
        txn.upsert(
            spark,
            "fact",
            _facts(spark, lo, lo + 5).withColumn(
                "v", (F.col("v") + 1).cast("int")
            ),
        )
        txn.commit()
    txn = cat.txn()
    txn.delete_where(spark, "fact", "meter_id >= 18")
    txn.commit()
    before = sorted(map(tuple, cat.read(spark, "fact").collect()))
    merged = [c["tables"]["fact"] for _, c in cat.numbered_snapshot()[:-1]]
    rewritten = {f for p in merged for f in p["removed"]}
    assert compact_catalog(cat, keep_last=1) >= 2
    # each removal inside the merged window cancels the add it undoes
    base = cat.numbered_snapshot()[0][1]["tables"]["fact"]
    assert rewritten and base["removed"] == []
    assert not rewritten & set(base["added"])
    after = sorted(map(tuple, cat.read(spark, "fact").collect()))
    assert after == before
    assert len(after) == 18
    # originals the mutations rewrote are no longer referenced
    assert cat.vacuum(ttl_s=0.0) > 0
    assert sorted(
        map(tuple, cat.read(spark, "fact").collect())
    ) == before


@pytest.mark.slow
def test_catalog_concurrent_mutations_retry_to_serial(spark, cat):
    """Contending MUTATORS serialize through retry-from-scratch: a
    txn that mutated a table aborts (stage discarded) when it loses
    the fence to another mutation's commit, and the caller's retry —
    re-deriving the rewrite from the new state — converges. End
    state: every thread's disjoint restatement applied exactly once,
    one chain commit per winner, no leaked staged rows."""
    import threading

    seed = cat.txn()
    seed.append(spark, "fact", _facts(spark, 0, 40))
    seed.commit()
    errs = []

    def work(i):
        for _ in range(8):
            try:
                tx = cat.txn()
                tx.upsert(
                    spark,
                    "fact",
                    _facts(spark, i * 10, i * 10 + 10).withColumn(
                        "v", (F.col("v") + 100000).cast("int")
                    ),
                )
                tx.commit(max_retries=40)
                return
            except CommitConflictError:
                continue  # stage was discarded; re-derive and retry
        errs.append(f"thread {i} never committed")

    threads = [
        threading.Thread(target=work, args=(i,)) for i in range(4)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == []
    got = cat.read(spark, "fact")
    assert got.count() == 40  # restated, never duplicated
    assert got.filter("v < 100000").count() == 0
    assert len(cat.numbered_snapshot()) == 5  # seed + 4 winners
    # nothing staged leaked: vacuum finds only the losers' discards
    cat.vacuum(ttl_s=0.0)
    assert got.count() == 40


def test_catalog_read_prunes_files_by_stats(spark, cat):
    """Round-13: catalog reads skip FILES by the payload zone maps —
    a day-sliced read of a three-day table opens only that day's
    files (asserted metadata-only via skipping_report), and the
    pruned read equals the plain filtered read. Stats columns follow
    the handle directory's persisted table config."""
    import datetime as dt
    import os

    from smart_meter_data_pipeline_spark.sources.manifest import (
        ManifestTable,
    )

    # persist the stats config BEFORE the first append: every txn's
    # table_handle reopen then records reading_timestamp zone maps
    ManifestTable(
        os.path.join(cat.root, "tables", "fact"),
        stats_columns=["reading_timestamp"],
    )
    for day in (1, 2, 3):
        tx = cat.txn()
        tx.append(spark, "fact", _facts(spark, 0, 10, day=day))
        tx.commit()
    lo = dt.datetime(2024, 1, 2)
    hi = dt.datetime(2024, 1, 2, 23, 59, 59)
    rep = cat.skipping_report("fact", where={"reading_timestamp": (lo, hi)})
    assert rep["files_skipped"] > 0
    assert rep["files_read"] < rep["files_live"]
    got = cat.read(spark, "fact", where={"reading_timestamp": (lo, hi)})
    want = cat.read(spark, "fact").filter(
        (F.col("reading_timestamp") >= lo)
        & (F.col("reading_timestamp") <= hi)
    )
    assert got.count() == want.count() == 10
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # disjoint slice: zero candidate files, empty frame, right schema
    far_lo, far_hi = dt.datetime(2030, 1, 1), dt.datetime(2030, 1, 2)
    rep0 = cat.skipping_report(
        "fact", where={"reading_timestamp": (far_lo, far_hi)}
    )
    assert rep0["files_read"] == 0
    got0 = cat.read(
        spark, "fact", where={"reading_timestamp": (far_lo, far_hi)}
    )
    assert got0.count() == 0
    assert set(got0.columns) == set(want.columns)
    # where_in row filter applies even without stats for the column
    got_in = cat.read(spark, "fact", where_in={"meter_id": [3, 7]})
    assert got_in.count() == 6  # 2 meters x 3 days


def test_txn_delete_of_own_staged_row_keeps_sibling_files(spark, cat):
    """Deleting a row this txn staged earlier rewrites only the file
    that holds it: the other files of the same stage stay in the
    payload and land at commit."""
    txn = cat.txn()
    assert txn.append(spark, "fact", _facts(spark, 0, 40)) == 40
    staged = txn._payloads["fact"]["added"]
    assert len(staged) > 1
    assert len({os.path.dirname(f) for f in staged}) == 1
    doomed = _facts(spark, 7, 8).select("reading_timestamp", "meter_id")
    assert txn.delete_keys(spark, "fact", doomed) == 1
    txn.commit()
    got = cat.read(spark, "fact")
    assert got.count() == 39
    assert sorted(r["meter_id"] for r in got.collect()) == [
        m for m in range(40) if m != 7
    ]


def test_txn_delete_keys_and_write_screens(spark, cat):
    """delete_keys erases a pk frame inside the txn; catalog appends
    run the same write screens as the manifest append (additive-only
    schema evolution, CHECK constraints from the handle's persisted
    table config)."""
    import os

    from smart_meter_data_pipeline_spark.sources.manifest import (
        ManifestTable,
    )

    t0 = cat.txn()
    t0.append(spark, "fact", _facts(spark, 0, 20))
    t0.commit()
    # key-frame delete + a dim update in ONE commit
    doomed = _facts(spark, 0, 20).filter("meter_id % 4 = 1").select(
        "reading_timestamp", "meter_id"
    )
    txn = cat.txn()
    assert txn.delete_keys(spark, "fact", doomed) == 5
    txn.append(spark, "dim", _dim(spark), pk=["meter_id"])
    txn.commit()
    got = cat.read(spark, "fact")
    assert got.count() == 15
    assert got.filter("meter_id % 4 = 1").count() == 0
    # schema screen: a type-changed column is rejected before staging
    bad = _facts(spark, 50, 55).withColumn(
        "v", F.col("v").cast("string")
    )
    t2 = cat.txn()
    with pytest.raises(ValueError, match="additive-only"):
        t2.append(spark, "fact", bad)
    with pytest.raises(ValueError, match="additive-only"):
        t2.upsert(spark, "fact", bad)
    # constraint screen: persisted CHECK config gates catalog appends
    ManifestTable(
        os.path.join(cat.root, "tables", "guarded"),
        constraints=[{"kind": "non_negative", "column": "v"}],
    )
    t3 = cat.txn()
    with pytest.raises(ValueError, match="non_negative|constraint"):
        t3.append(
            spark,
            "guarded",
            _facts(spark, 0, 5).withColumn(
                "v", F.lit(-1).cast("int")
            ),
        )


def test_optimize_catalog_table_roundtrip(spark, cat):
    """Catalog-table OPTIMIZE: many small per-txn file sets rewrite
    to few, contents identical, pre-optimize chain versions still
    time-travel, and compact+vacuum reclaims the originals."""
    from smart_meter_data_pipeline_spark.sources.catalog import (
        compact_catalog,
        optimize_catalog_table,
    )

    for day in (1, 2, 3):
        tx = cat.txn()
        tx.append(spark, "fact", _facts(spark, 0, 10, day=day))
        tx.commit()
    before = sorted(map(tuple, cat.read(spark, "fact").collect()))
    t = cat.table_handle("fact")
    n_files_before = len(
        t._files([c["tables"]["fact"] for _, c in cat.numbered_snapshot()
                  if "fact" in c.get("tables", {})])
    )
    rep = optimize_catalog_table(
        cat, spark, "fact", target_partitions=1
    )
    assert rep["files_rewritten"] == n_files_before
    assert rep["files_created"] < n_files_before
    after = sorted(map(tuple, cat.read(spark, "fact").collect()))
    assert after == before
    # pre-optimize chain version still serves the original image
    v_pre = len(cat.numbered_snapshot()) - 2
    assert cat.read(spark, "fact", version=v_pre).count() == 30
    # compact the chain, then vacuum reclaims the rewritten originals
    assert compact_catalog(cat, keep_last=0) >= 2
    assert cat.vacuum(ttl_s=0.0) > 0
    assert sorted(map(tuple, cat.read(spark, "fact").collect())) == before


def test_dateless_history_still_dedups_dated_batch(spark, cat):
    """Round-14 advisor fix: a table whose early commits predate the
    timestamp column records dates=[] in those payloads. A later
    DATED batch's validation anti-join prunes files by date — and an
    empty dates list must mean "overlaps every probe" (dates
    unknown), not "overlaps nothing": skipping those commits' adds
    would let duplicate pks slip straight through the dedup."""
    t = cat.txn()
    dateless = spark.range(0, 10).select(
        F.col("id").cast("int").alias("meter_id"),
        (F.col("id") * 10).cast("int").alias("v"),
    )
    assert t.append(spark, "fact", dateless, pk=["meter_id"]) == 10
    t.commit()
    # additive evolution: the batch carries reading_timestamp, so the
    # validation scan is date-pruned — ids 5..9 are duplicates and
    # must be dropped against the dateless history
    dated = spark.range(5, 15).select(
        F.expr(
            "timestamp'2024-01-01 00:00:00'"
            " + make_interval(0,0,0,0,0,0,id)"
        ).alias("reading_timestamp"),
        F.col("id").cast("int").alias("meter_id"),
        (F.col("id") * 10).cast("int").alias("v"),
    )
    t2 = cat.txn()
    assert t2.append(spark, "fact", dated, pk=["meter_id"]) == 5
    t2.commit()
    got = cat.read(spark, "fact")
    assert got.count() == 15
    assert got.select("meter_id").distinct().count() == 15


@pytest.mark.slow
def test_squashed_count_matches_live_rows_after_mutations(spark, cat):
    """Round-14 advisor fix: _squash_payloads' count was the
    concatenated sum, which double-counts rows that a
    delete -> optimize lifecycle rewrote. The squashed count is now
    recomputed from surviving files' footer row stats, so a
    compacted base's payload count equals live rows."""
    import json as _json

    from smart_meter_data_pipeline_spark.sources.catalog import (
        compact_catalog,
        optimize_catalog_table,
    )

    t = cat.txn()
    t.append(spark, "fact", _facts(spark, 0, 100))
    t.commit()
    t2 = cat.txn()
    t2.delete_where(spark, "fact", "meter_id >= 80")
    t2.commit()
    optimize_catalog_table(cat, spark, "fact")
    for i in range(6):
        tx = cat.txn()
        tx.append(spark, "fact", _facts(spark, 100 + i, 101 + i))
        tx.commit()
    assert compact_catalog(cat, keep_last=2) > 0
    live = cat.read(spark, "fact").count()
    base_num, base = cat.numbered_snapshot()[0]
    payload = base["tables"]["fact"]
    assert not payload.get("count_is_upper_bound")
    tail_counts = sum(
        c["tables"].get("fact", {}).get("count", 0)
        for _, c in cat.numbered_snapshot()[1:]
    )
    assert payload["count"] + tail_counts == live


def test_catalog_index_guard_under_mutation_vacuum_race(spark, cat):
    """Round-14: the index snapshot-race guards must hold when the
    mutation engine is a CatalogTxn instead of a plain manifest
    upsert. A reader pins its (catalog) snapshot, a txn CoW-upsert
    lands, and a BARE vacuum GCs the rewritten files' postings —
    the reader's consult must fall back to treat-all-unindexed
    (vacuumed_at_head stamp) instead of pruning files live in ITS
    snapshot; a current-snapshot consult stays exact throughout."""
    from smart_meter_data_pipeline_spark.sources.catalog import (
        CatalogTableView,
    )
    from smart_meter_data_pipeline_spark.sources.index import (
        index_candidate_files,
        index_point_read,
        refresh_index,
        vacuum_index,
    )

    tx = cat.txn()
    tx.append(spark, "fact", _facts(spark, 0, 2000))
    tx.commit()
    view = CatalogTableView(cat, "fact")
    refresh_index(view, spark, "meter_id")
    numbered_old = view.numbered_snapshot()
    old_live = set(view._files([c for _, c in numbered_old]))
    restated = _facts(spark, 0, 2000).filter(
        F.col("meter_id") < 100
    ).withColumn("v", F.col("v") + 1)
    tx2 = cat.txn()
    tx2.upsert(spark, "fact", restated)
    tx2.commit()
    rep = vacuum_index(view, spark, "meter_id")
    assert rep["postings_removed"] > 0
    cand, crep = index_candidate_files(
        view, spark, "meter_id", [17], numbered=numbered_old
    )
    assert set(cand) == old_live
    assert crep["files_unindexed"] == crep["files_live"]
    out, rep2 = index_point_read(view, spark, "meter_id", [17])
    assert out.count() == 1
    assert out.collect()[0]["v"] == 171


def test_catalog_table_view_refuses_direct_writes(spark, cat):
    """Round-14: the view's log accessors read the CATALOG chain, so a
    direct mutation would publish to the table's private (ignored)
    log and silently vanish from catalog reads. Every mutation fences
    before publishing — the view's fence raises instead."""
    from smart_meter_data_pipeline_spark.sources.catalog import (
        CatalogTableView,
    )
    from smart_meter_data_pipeline_spark.sources.index import (
        maintain_index,
    )

    tx = cat.txn()
    tx.append(spark, "fact", _facts(spark, 0, 100))
    tx.commit()
    view = CatalogTableView(cat, "fact")
    with pytest.raises(TypeError, match="read/maintenance-only"):
        view.idempotent_append(spark, _facts(spark, 100, 110, day=2))
    with pytest.raises(TypeError, match="read/maintenance-only"):
        upsert(
            view, spark, _facts(spark, 0, 5).withColumn("v", F.lit(0))
        )
    # reads and index maintenance stay fully functional
    assert view.read(spark).count() == 100
    m = maintain_index(spark=spark, table=view, column="meter_id")
    assert m["refresh"]["files_indexed"] > 0
