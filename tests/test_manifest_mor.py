"""Merge-on-read tombstone lifecycle (delete_keys_mor /
apply_tombstones): suppression, re-insert epochs, guards, compaction
survival, vacuum retention."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from smart_meter_data_pipeline_spark.sources.manifest import (
    ManifestTable,
    PendingTombstonesError,
    apply_tombstones,
    compact_log,
    optimize_table,
    restore_version,
    shallow_clone,
    vacuum_unreferenced,
)

TS = dt.datetime(2024, 1, 1)


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "reading_timestamp timestamp, meter_id bigint, v double"
    )


def _rows(n=100, mod=10):
    return [
        (TS + dt.timedelta(minutes=i), i % mod, float(i)) for i in range(n)
    ]


@pytest.fixture()
def table(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "tbl"))
    t.idempotent_append(spark, _mk(spark, _rows()))
    return t


def _keys(spark, meter):
    return _mk(spark, [r for r in _rows() if r[1] == meter]).select(
        "reading_timestamp", "meter_id"
    )


def test_mor_delete_is_metadata_only_and_suppresses(spark, table):
    live_before = set(table._files(table.snapshot()))
    n = table.delete_keys_mor(spark, _keys(spark, 3))
    assert n == 10
    c = table.snapshot()[-1]
    assert c["added"] == [] and c["removed"] == []
    assert c["tombstones"][0]["pk"] == ["reading_timestamp", "meter_id"]
    # no data file moved
    assert set(table._files(table.snapshot())) == live_before
    df = table.read(spark)
    assert df.count() == 90
    assert df.filter("meter_id = 3").count() == 0
    # time travel to before the delete still sees everything
    assert table.read(spark, version=0).count() == 100


def test_mor_reinsert_after_delete_is_visible(spark, table):
    table.delete_keys_mor(spark, _keys(spark, 3))
    back = [r for r in _rows() if r[1] == 3][:4]
    assert table.idempotent_append(spark, _mk(spark, back)) == 4
    df = table.read(spark)
    assert df.filter("meter_id = 3").count() == 4
    assert df.count() == 94
    # a SECOND tombstone over the same keys (later epoch) removes the
    # re-inserts too
    table.delete_keys_mor(spark, _keys(spark, 3))
    assert table.read(spark).filter("meter_id = 3").count() == 0


def test_physical_rewrite_paths_are_guarded(spark, table):
    table.delete_keys_mor(spark, _keys(spark, 3))
    with pytest.raises(PendingTombstonesError):
        table.delete_keys(spark, _keys(spark, 4))
    with pytest.raises(PendingTombstonesError):
        table.upsert(spark, _mk(spark, _rows(10)))
    with pytest.raises(PendingTombstonesError):
        optimize_table(table, spark, small_file_bytes=1 << 30)
    with pytest.raises(PendingTombstonesError):
        restore_version(table, 0)
    with pytest.raises(PendingTombstonesError):
        shallow_clone(table, table.table_dir + "_clone")


def test_apply_is_logically_neutral_and_unblocks(spark, table):
    table.delete_keys_mor(spark, _keys(spark, 3))
    table.delete_keys_mor(spark, _keys(spark, 5))
    before = sorted(map(tuple, table.read(spark).collect()))
    res = apply_tombstones(table, spark)
    assert res["applied_tombstones"] == 2
    assert res["rows_deleted"] == 20
    assert res["files_rewritten"] >= 1
    assert table._pending_tombstones(table.numbered_snapshot()) == []
    after = sorted(map(tuple, table.read(spark).collect()))
    assert before == after
    # physical paths unblocked now
    assert table.delete_keys(spark, _keys(spark, 4)) == 10
    # idempotent: second apply is a no-op
    assert apply_tombstones(table, spark)["applied_tombstones"] == 0


def test_apply_unpersists_key_frames_when_a_key_read_fails(
    spark, table, monkeypatch
):
    """A failure while building the per-tombstone key frames must not
    leave the frames persisted before it in the session's cache."""
    table.delete_keys_mor(spark, _keys(spark, 3))
    table.delete_keys_mor(spark, _keys(spark, 5))
    built = []
    real = table._tombstone_keys

    def failing_second(spark_, t):
        if built:
            raise OSError("key parquet unreadable")
        built.append(real(spark_, t))
        return built[-1]

    monkeypatch.setattr(table, "_tombstone_keys", failing_second)
    with pytest.raises(OSError, match="key parquet unreadable"):
        apply_tombstones(table, spark)
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert len(built) == 1
    assert cache.lookupCachedData(built[0]._jdf).isEmpty()


def test_apply_skips_disjoint_files_by_stats(spark, tmp_path):
    """A narrow-key tombstone must rewrite only the files whose
    recorded meter_id range can contain it."""
    t = ManifestTable(str(tmp_path / "tbl"))
    # two appends with disjoint meter ranges -> distinct files + stats
    lo = [(TS + dt.timedelta(minutes=i), i % 5, float(i)) for i in range(50)]
    hi = [
        (TS + dt.timedelta(minutes=50 + i), 100 + i % 5, float(i))
        for i in range(50)
    ]
    t.idempotent_append(spark, _mk(spark, lo).repartition(1))
    t.idempotent_append(spark, _mk(spark, hi).repartition(1))
    t.delete_keys_mor(
        spark,
        _mk(spark, [r for r in hi if r[1] == 102]).select(
            "reading_timestamp", "meter_id"
        ),
    )
    res = apply_tombstones(t, spark)
    assert res["files_rewritten"] == 1  # the hi file only
    assert t.read(spark).count() == 90
    assert t.read(spark).filter("meter_id = 102").count() == 0
    assert t.read(spark).filter("meter_id < 5").count() == 50


def test_compaction_preserves_pending_tombstones_and_origins(spark, table):
    table.delete_keys_mor(spark, _keys(spark, 7))
    back = [r for r in _rows() if r[1] == 7][:3]
    table.idempotent_append(spark, _mk(spark, back))
    expect = sorted(map(tuple, table.read(spark).collect()))
    assert compact_log(table, keep_last=1) > 0
    base = table.snapshot()[0]
    assert base.get("tombstones"), "pending tombstone lost in compaction"
    assert base.get("added_numbers"), "file origins lost in compaction"
    got = sorted(map(tuple, table.read(spark).collect()))
    assert got == expect
    # re-inserts (origin > upto) still visible, originals still gone
    assert table.read(spark).filter("meter_id = 7").count() == 3
    # apply after compaction: content unchanged
    apply_tombstones(table, spark)
    assert sorted(map(tuple, table.read(spark).collect())) == expect


def test_vacuum_keeps_pending_tombstone_files(spark, table):
    table.delete_keys_mor(spark, _keys(spark, 3))
    tomb_rels = table.snapshot()[-1]["tombstones"][0]["rels"]
    vacuum_unreferenced(table, ttl_s=0.0)
    for rel in tomb_rels:
        assert os.path.exists(os.path.join(table.data_dir, rel))
    assert table.read(spark).count() == 90
    # once applied, the tombstone files become sweepable
    apply_tombstones(table, spark)
    compact_log(table, keep_last=1)
    vacuum_unreferenced(table, ttl_s=0.0)
    assert not any(
        os.path.exists(os.path.join(table.data_dir, rel))
        for rel in tomb_rels
    )
    assert table.read(spark).count() == 90


def test_mor_tombstone_survives_lost_commit_race(spark, table):
    """A competing append landing between the tombstone's listing and
    its publish forces a retry at the next number; the delete must
    still land and suppress."""
    competing = _mk(
        spark,
        [(TS + dt.timedelta(days=2, minutes=i), 900 + i, 1.0) for i in range(3)],
    )
    fired = {"n": 0}

    def hook():
        if fired["n"] == 0:
            fired["n"] = 1
            t2 = ManifestTable(table.table_dir)
            t2.idempotent_append(spark, competing)

    table._pre_publish_hook = hook
    try:
        assert table.delete_keys_mor(spark, _keys(spark, 3)) == 10
    finally:
        table._pre_publish_hook = None
    df = table.read(spark)
    assert df.filter("meter_id = 3").count() == 0
    assert df.filter("meter_id >= 900").count() == 3
    assert df.count() == 93


def test_mor_dates_recorded_for_cdc(spark, table):
    table.delete_keys_mor(spark, _keys(spark, 3))
    c = table.snapshot()[-1]
    assert c["removed_dates"] == ["2024-01-01"]


def test_two_concurrent_mor_deletes_both_land(spark, table):
    """Two tombstone writers racing: the loser's put-if-absent fails,
    it retries at the next number with the SAME stage, and both
    deletes end up applied to reads."""
    keys5 = _keys(spark, 5)
    fired = {"n": 0}

    def hook():
        if fired["n"] == 0:
            fired["n"] = 1
            t2 = ManifestTable(table.table_dir)
            t2.delete_keys_mor(spark, keys5)

    table._pre_publish_hook = hook
    try:
        assert table.delete_keys_mor(spark, _keys(spark, 3)) == 10
    finally:
        table._pre_publish_hook = None
    df = table.read(spark)
    assert df.filter("meter_id IN (3, 5)").count() == 0
    assert df.count() == 80
    pend = table._pending_tombstones(table.numbered_snapshot())
    assert len(pend) == 2
    assert pend[0]["upto"] < pend[1]["upto"]


def test_apply_retries_when_append_lands_mid_publish(spark, table):
    """An append winning the fence between apply_tombstones'
    validation and its publish forces a clean retry; the final state
    contains the appended rows and no tombstoned ones."""
    table.delete_keys_mor(spark, _keys(spark, 3))
    competing = _mk(
        spark,
        [(TS + dt.timedelta(days=3, minutes=i), 700 + i, 2.0) for i in range(2)],
    )
    fired = {"n": 0}

    def hook():
        if fired["n"] == 0:
            fired["n"] = 1
            t2 = ManifestTable(table.table_dir)
            t2.idempotent_append(spark, competing)

    table._pre_publish_hook = hook
    try:
        res = apply_tombstones(table, spark)
    finally:
        table._pre_publish_hook = None
    assert res["applied_tombstones"] == 1 and res["rows_deleted"] == 10
    df = table.read(spark)
    assert df.filter("meter_id = 3").count() == 0
    assert df.filter("meter_id >= 700").count() == 2
    assert df.count() == 92
    assert table._pending_tombstones(table.numbered_snapshot()) == []


def test_append_validation_reads_across_evolution_with_tombstones(
    spark, table
):
    """Round-9 advisory (low): when pending tombstones split the files
    into origin groups that STRADDLE a schema-evolution boundary, the
    append-validation anti-join must read every group under the
    evolved commit schema — per-group inference would give the groups
    different schemas and the strict union inside the tombstone reader
    raises, failing an append that should succeed."""
    import datetime as dt2

    table.delete_keys_mor(spark, _keys(spark, 3))  # pending tombstone
    evolved = spark.createDataFrame(
        [(TS + dt2.timedelta(days=2), 500, 1.0, "a")],
        "reading_timestamp timestamp, meter_id bigint, v double,"
        " extra string",
    )
    assert table.idempotent_append(spark, evolved) == 1  # origin > upto

    # this append's batch dates overlap BOTH origin groups
    batch = _mk(
        spark,
        [(TS + dt2.timedelta(minutes=10), 0, 10.0),  # dup of origin-0 row
         (TS + dt2.timedelta(days=2, minutes=1), 501, 2.0)],
    )
    assert table.idempotent_append(spark, batch) == 1  # dup dropped
    assert table.read(spark).filter("meter_id = 501").count() == 1


def test_upsert_losing_race_to_mor_tombstone_raises_on_retry(spark, table):
    """Round-8 verdict #8: the MoR fence must hold under the
    lost-commit retry loop — a copy-on-write upsert whose put-if-absent
    loses to a concurrently-landed MoR tombstone must raise
    PendingTombstonesError on revalidation (proceeding would rewrite
    raw files, bump their origins past the tombstone, and resurrect
    the deleted rows) and must leave no commit behind."""
    restated = _mk(spark, _rows(10))
    fired = {"n": 0}

    def hook():
        if fired["n"] == 0:
            fired["n"] = 1
            t2 = ManifestTable(table.table_dir)
            assert t2.delete_keys_mor(spark, _keys(spark, 3)) == 10

    n_before = len(table.snapshot())
    table._pre_publish_hook = hook
    try:
        with pytest.raises(PendingTombstonesError):
            table.upsert(spark, restated)
    finally:
        table._pre_publish_hook = None

    # exactly one new commit: the tombstone; the upsert left nothing
    commits = table.snapshot()
    assert len(commits) == n_before + 1
    assert commits[-1].get("tombstones")
    # and the table still reads as the tombstone dictates
    df = table.read(spark)
    assert df.filter("meter_id = 3").count() == 0
    assert df.count() == 90


def test_optimize_zorder_losing_race_to_mor_tombstone_raises(spark, tmp_path):
    """VERDICT r9 #8: OPTIMIZE (including the Z-order rewrite) reads
    data files RAW, so a MoR tombstone landing between its listing and
    its put-if-absent publish must force the retry loop to revalidate
    and raise PendingTombstonesError — publishing the rewrite would
    bump the packed files' origin commit past the tombstone's upto
    fence and resurrect the deleted rows. Deterministic twin of the
    CoW-upsert race above, for the OPTIMIZE path."""
    # OPTIMIZE packs only two or more small files, and one small append
    # stages one file: land the fixture's rows in two appends.
    table = ManifestTable(str(tmp_path / "tbl"))
    for half in (_rows()[:50], _rows()[50:]):
        table.idempotent_append(spark, _mk(spark, half))
    fired = {"n": 0}

    def hook():
        if fired["n"] == 0:
            fired["n"] = 1
            t2 = ManifestTable(table.table_dir)
            assert t2.delete_keys_mor(spark, _keys(spark, 3)) == 10

    n_before = len(table.snapshot())
    table._pre_publish_hook = hook
    try:
        with pytest.raises(PendingTombstonesError):
            optimize_table(
                table,
                spark,
                target_partitions=2,
                cluster_by=["meter_id", "reading_timestamp"],
                zorder=True,
            )
    finally:
        table._pre_publish_hook = None

    # exactly one new commit: the tombstone; no optimize commit and no
    # orphaned staged files
    commits = table.snapshot()
    assert len(commits) == n_before + 1
    assert commits[-1].get("tombstones")
    assert not any(c.get("optimize") for c in commits)
    live = set(table._files(commits))
    on_disk = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(table.data_dir)
        for f in fs
        if f.endswith(".parquet")
    }
    tomb_files = {
        os.path.join(table.data_dir, rel)
        for c in commits
        for tb in (c.get("tombstones") or [])
        for rel in tb["rels"]
    }
    assert on_disk - live - tomb_files == set()
    # reads still honor the tombstone
    df = table.read(spark)
    assert df.filter("meter_id = 3").count() == 0
    assert df.count() == 90
    # and after applying tombstones, OPTIMIZE ZORDER goes through
    from smart_meter_data_pipeline_spark.sources.manifest import (
        apply_tombstones,
    )

    apply_tombstones(table, spark)
    res = optimize_table(
        table,
        spark,
        target_partitions=2,
        cluster_by=["meter_id", "reading_timestamp"],
        zorder=True,
    )
    assert res["files_created"] >= 1
    assert table.read(spark).count() == 90


def test_recorded_rows_matches_footers_with_legacy_fallback(spark, table):
    """r15 (VERDICT r14 #7): apply_tombstones' n_before bookkeeping
    reads the commit log's recorded "#rows" stats instead of reopening
    parquet footers; files whose stats entry predates row-count
    tracking (legacy [min, max] list shape) fall back to one footer
    read and the sum stays exact either way."""
    commits = table.snapshot()
    files = [f for c in commits for f in c.get("added", [])]
    footer_total = table._footer_rows(files)
    assert table._recorded_rows(commits, files) == footer_total
    # legacy shape: stats entry is a bare [min, max] list -> fallback
    legacy = [dict(c) for c in commits]
    for c in legacy:
        c["stats"] = {f: [0, 1] for f in c.get("stats", {})}
    assert table._recorded_rows(legacy, files) == footer_total
    # missing stats entirely -> same fallback
    for c in legacy:
        c.pop("stats", None)
    assert table._recorded_rows(legacy, files) == footer_total


def test_apply_tombstones_rows_deleted_exact(spark, table):
    """rows_deleted must equal the tombstoned row count when every
    governed key exists exactly once (the stats-based n_before /
    staged-stats n_after bookkeeping is exact, not an estimate)."""
    doomed = _keys(spark, 3)
    n_doomed = doomed.count()
    table.delete_keys_mor(spark, doomed)
    rep = apply_tombstones(table, spark)
    assert rep["rows_deleted"] == n_doomed
    assert rep["applied_tombstones"] == 1
