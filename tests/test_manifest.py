"""Manifest commit log: object-store-safe idempotent append.

The protocol under test must hold WITHOUT atomic-mkdir/rename
assumptions — visibility and mutual exclusion come only from the
put-if-absent commit files."""

from __future__ import annotations

import json
import os
import threading
import time

import pytest

from smart_meter_data_pipeline_spark.sources import ingest, manifest
from smart_meter_data_pipeline_spark.sources.manifest_cow import (
    _batch_key_ranges,
    delete_keys,
    delete_where,
    upsert,
    upsert_if_newer,
    upsert_partial,
)
from smart_meter_data_pipeline_spark.sources.manifest_services import (
    alter_drop_column,
    optimize_table,
    shallow_clone,
    vacuum_unreferenced,
)
from smart_meter_data_pipeline_spark.sources.manifest_skipping import (
    _prune_by_stats,
    read_where,
    skipping_report,
)
from smart_meter_data_pipeline_spark.sources.manifest_timetravel import (
    change_feed,
    diff,
    history,
    read_as_of,
    restore_version,
    schema_history,
    version_asof,
)


GOOD = {
    "meter_id": 1,
    "reading_timestamp": "2024-03-01T10:30:00",
    "reading_consumption_milliwatts": 1500,
    "reading_production_milliwatts": 0,
    "status": "V",
}


def _valid_batch(spark, lo, hi):
    msgs = [json.dumps(dict(GOOD, meter_id=i)) for i in range(lo, hi)]
    raw = spark.createDataFrame([(m,) for m in msgs], ["value"])
    valid, _ = ingest.split_valid(ingest.classify(ingest.parse_messages(raw)))
    return valid


def _write_pending_tombstone(table, keys) -> int:
    """Hand-write the commit an older version's merge-on-read delete
    published: ``keys`` staged as a key file and named by a
    ``tombstones`` record, no data file touched. Returns its number."""
    n = table.next_commit_number()
    record = {"upto": n, "rels": table._stage(keys), "pk": keys.columns}
    with open(table._commit_path(n), "w") as fh:
        json.dump(
            {
                "version": n,
                "added": [],
                "removed": [],
                "count": 0,
                "dates": [],
                "tombstones": [record],
                "schema": None,
                "committed_at": time.time(),
            },
            fh,
        )
    return n


@pytest.fixture
def table_dir(tmp_path):
    return str(tmp_path / "fact_manifest")


def test_put_if_absent_one_winner(tmp_path):
    path = str(tmp_path / "commit.json")
    wins = []

    def attempt(i):
        if manifest._put_if_absent(path, f"writer-{i}".encode()):
            wins.append(i)

    threads = [threading.Thread(target=attempt, args=(i,)) for i in range(16)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(wins) == 1
    with open(path) as fh:
        assert fh.read() == f"writer-{wins[0]}"
    # no temp litter
    assert os.listdir(os.path.dirname(path)) == ["commit.json"]


def test_log_with_pending_tombstones_is_refused(spark, table_dir):
    """A table an older version left with an unapplied merge-on-read
    tombstone still holds the deleted rows in its live files. Reading
    them as they are would bring those rows back, so both the read and
    the append refuse the table and nothing is written. Once the log
    records the tombstone as applied, the table reads again."""
    t = manifest.ManifestTable(table_dir)
    t.idempotent_append(spark, _valid_batch(spark, 0, 10))
    doomed = _valid_batch(spark, 0, 3).select("reading_timestamp", "meter_id")
    n = _write_pending_tombstone(t, doomed)
    with pytest.raises(ValueError, match="never applied"):
        t.read(spark)
    with pytest.raises(ValueError, match="never applied"):
        t.idempotent_append(spark, _valid_batch(spark, 10, 12))
    assert len(os.listdir(t.commits_dir)) == 2
    # the apply that older version ran: the live file rewritten minus
    # the keys, in a commit that marks the tombstone applied
    with open(t._commit_path(0)) as fh:
        first = json.load(fh)
    survivors = spark.read.parquet(
        *(os.path.join(t.data_dir, f) for f in first["added"])
    ).join(doomed, manifest.PK, "left_anti")
    rewritten = t._stage(survivors)
    with open(t._commit_path(n + 1), "w") as fh:
        json.dump(
            dict(
                first,
                version=n + 1,
                added=rewritten,
                removed=first["added"],
                count=7,
                stats=t._file_stats(rewritten),
                mor_applied_upto=n,
            ),
            fh,
        )
    got = t.read(spark)
    assert got.count() == 7
    assert got.filter("meter_id < 3").count() == 0
    assert t.idempotent_append(spark, _valid_batch(spark, 10, 12)) == 2


def test_append_read_roundtrip_and_idempotency(spark, table_dir):
    t = manifest.ManifestTable(table_dir)
    assert t.read(spark) is None

    assert t.idempotent_append(spark, _valid_batch(spark, 1, 51)) == 50
    # overlap 26-50 must be dropped; 51-75 lands
    assert t.idempotent_append(spark, _valid_batch(spark, 26, 76)) == 25
    # full duplicate batch writes nothing and adds no commit
    assert t.idempotent_append(spark, _valid_batch(spark, 1, 76)) == 0

    df = t.read(spark)
    assert df.count() == 75
    assert df.select("meter_id").distinct().count() == 75
    assert len(t.snapshot()) == 2  # the all-duplicate batch didn't commit

    # uncommitted staged data is invisible: stage files directly and
    # confirm read() ignores them
    t._stage(_valid_batch(spark, 1000, 1010))
    assert t.read(spark).count() == 75


def test_concurrent_writers_manifest_no_duplicates(spark, table_dir):
    """Two writers with OVERLAPPING batches race through the commit
    log (no table lock anywhere in this path): exactly one copy of
    each PK lands, and the loser revalidates rather than duplicating."""
    b1 = _valid_batch(spark, 1, 101)
    b2 = _valid_batch(spark, 51, 151)  # overlap: meters 51-100
    barrier = threading.Barrier(2)
    written = {}

    def run(name, b):
        barrier.wait()
        written[name] = manifest.ManifestTable(table_dir).idempotent_append(
            spark, b
        )

    t1 = threading.Thread(target=run, args=("a", b1))
    t2 = threading.Thread(target=run, args=("b", b2))
    t1.start(); t2.start(); t1.join(); t2.join()

    t = manifest.ManifestTable(table_dir)
    df = t.read(spark)
    assert df.count() == 150
    assert (
        df.select("reading_timestamp", "meter_id").distinct().count() == 150
    )
    assert written["a"] + written["b"] == 150
    # commit numbers are dense and every data file is referenced once
    commits = t.snapshot()
    versions = [c["version"] for c in commits]
    assert versions == list(range(len(versions)))
    added = [f for c in commits for f in c["added"]]
    assert len(added) == len(set(added))


def test_small_appends_commit_no_empty_files(spark, table_dir):
    """A write task that gets no rows still leaves a 0-row parquet
    file (most tasks do when a small batch keeps its shuffle
    partitions); the append drops it before publishing, so every
    committed file holds rows and no other file stays behind."""
    t = manifest.ManifestTable(table_dir)
    assert t.idempotent_append(spark, _valid_batch(spark, 1, 2)) == 1
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert t.idempotent_append(spark, _valid_batch(spark, 1, 4)) == 2
    finally:
        spark.conf.set(key, prev)
    commits = t.snapshot()
    stats = {f: s for c in commits for f, s in c["stats"].items()}
    assert sorted(stats) == sorted(f for c in commits for f in c["added"])
    assert all(s["#rows"] > 0 for s in stats.values())
    on_disk = {
        os.path.relpath(os.path.join(d, f), t.data_dir)
        for d, _, files in os.walk(t.data_dir)
        for f in files
        if f.endswith(".parquet")
    }
    assert on_disk == set(stats)


def test_date_pruned_validation(spark, table_dir):
    """Commits whose dates don't overlap the batch are skipped by the
    existing-keys scan (the manifest's partition pruning)."""
    t = manifest.ManifestTable(table_dir)
    day1 = _valid_batch(spark, 1, 11)
    assert t.idempotent_append(spark, day1) == 10

    msgs = [
        json.dumps(
            dict(GOOD, meter_id=i, reading_timestamp="2024-03-02T10:30:00")
        )
        for i in range(1, 11)
    ]
    raw = spark.createDataFrame([(m,) for m in msgs], ["value"])
    day2, _ = ingest.split_valid(ingest.classify(ingest.parse_messages(raw)))
    # same meter_ids, different day → different PK → all 10 land
    assert t.idempotent_append(spark, day2) == 10
    commits = t.snapshot()
    assert commits[0]["dates"] == ["2024-03-01"]
    assert commits[1]["dates"] == ["2024-03-02"]
    assert t.read(spark).count() == 20


@pytest.mark.slow
def test_crashed_writer_leaves_no_trace_and_retry_is_exact(spark, table_dir):
    """Crash injection at the worst instant: a writer dies AFTER its
    data files are fully staged but BEFORE its commit file lands. The
    manifest contract must make that failure invisible — readers see
    the pre-crash table, a concurrent/later writer is unaffected, and
    the crashed batch retried end-to-end lands exactly once (the
    orphaned staged files stay unreferenced forever; vacuum = listing
    data files minus the committed set)."""
    t = manifest.ManifestTable(table_dir)

    # committed baseline: meters 1-50
    assert t.idempotent_append(spark, _valid_batch(spark, 1, 51)) == 50

    # writer 2 stages meters 40-80 (overlap 40-50) ... and "crashes"
    # before commit: _stage() is exactly the pre-commit state.
    doomed = _valid_batch(spark, 40, 81).dropDuplicates(
        ["reading_timestamp", "meter_id"]
    )
    orphans = t._stage(doomed)
    assert len(orphans) > 0

    # invisible to readers: still exactly the 50 committed rows
    assert t.read(spark).count() == 50
    # invisible to the commit log
    assert len(t.snapshot()) == 1
    # but physically present (the crash left real bytes behind)
    for rel in orphans:
        assert os.path.exists(os.path.join(t.data_dir, rel))

    # a different writer proceeds normally, unaffected by the orphans
    assert t.idempotent_append(spark, _valid_batch(spark, 90, 101)) == 11

    # the crashed batch retried from scratch: only the 30 genuinely
    # new meters (51-80) land; the overlap stays single-copy
    assert t.idempotent_append(spark, _valid_batch(spark, 40, 81)) == 30
    fact = t.read(spark)
    assert fact.count() == 91  # 50 + 11 + 30
    assert (
        fact.select("reading_timestamp", "meter_id").distinct().count() == 91
    )

    # orphans are STILL unreferenced by any commit — the vacuum set
    committed = {f for c in t.snapshot() for f in c["added"]}
    assert committed.isdisjoint(orphans)


def test_time_travel_reads_are_stable_snapshots(spark, table_dir):
    """read(version=k) is the table AS OF commit k — and stays
    byte-stable after later commits land (immutable commit files +
    never-rewritten data files, the contract Delta/Iceberg time travel
    rests on)."""
    t = manifest.ManifestTable(table_dir)
    t.idempotent_append(spark, _valid_batch(spark, 1, 11))     # v0: 10
    t.idempotent_append(spark, _valid_batch(spark, 11, 31))    # v1: +20
    v0_before = read_as_of(t, spark, version=0).count()
    t.idempotent_append(spark, _valid_batch(spark, 31, 36))    # v2: +5

    assert t.read(spark).count() == 35
    assert read_as_of(t, spark, version=0).count() == 10 == v0_before
    assert read_as_of(t, spark, version=1).count() == 30
    assert read_as_of(t, spark, version=2).count() == 35
    # meters visible at v1 are exactly 1-30
    got = {
        r["meter_id"] for r in read_as_of(t, spark, version=1).collect()
    }
    assert got == set(range(1, 31))
    with pytest.raises(ValueError):
        read_as_of(t, spark, version=3)
    with pytest.raises(ValueError):
        read_as_of(t, spark, version=-1)


def test_diff_is_the_change_data_feed(spark, table_dir):
    """diff(a, b) returns exactly the rows appended by commits (a, b]
    and reads only the delta files — equal to read(b) minus read(a)."""
    t = manifest.ManifestTable(table_dir)
    t.idempotent_append(spark, _valid_batch(spark, 1, 11))    # v0: 1-10
    t.idempotent_append(spark, _valid_batch(spark, 11, 31))   # v1: +11-30
    t.idempotent_append(spark, _valid_batch(spark, 31, 36))   # v2: +31-35

    d01 = {r["meter_id"] for r in diff(t, spark, 0, 1).collect()}
    assert d01 == set(range(11, 31))
    d02 = {r["meter_id"] for r in diff(t, spark, 0, 2).collect()}
    assert d02 == set(range(11, 36))
    # from the empty table: everything up to v0
    dm10 = {r["meter_id"] for r in diff(t, spark, -1, 0).collect()}
    assert dm10 == set(range(1, 11))
    # empty range
    assert diff(t, spark, 1, 1) is None
    with pytest.raises(ValueError):
        diff(t, spark, 2, 3)
    with pytest.raises(ValueError):
        diff(t, spark, -2, 0)

    hist = history(t)
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert all(h["n_files"] >= 1 for h in hist)


def test_changed_dates_since_drives_incremental_refresh(spark, table_dir):
    """The CDC→refresh circuit: dates derived from the manifest diff
    are exactly the dates later commits touched — the input
    refresh_marts_incremental needs, read from the delta files only."""
    import datetime as dt

    from smart_meter_data_pipeline_spark.operators.incremental import (
        changed_dates_since,
    )

    def batch_on(day: str, lo, hi):
        msgs = [
            json.dumps(
                dict(GOOD, meter_id=i, reading_timestamp=f"{day}T10:30:00")
            )
            for i in range(lo, hi)
        ]
        raw = spark.createDataFrame([(m,) for m in msgs], ["value"])
        valid, _ = ingest.split_valid(
            ingest.classify(ingest.parse_messages(raw))
        )
        return valid

    t = manifest.ManifestTable(table_dir)
    t.idempotent_append(spark, batch_on("2024-03-01", 1, 11))   # v0
    t.idempotent_append(spark, batch_on("2024-03-02", 1, 11))   # v1
    t.idempotent_append(spark, batch_on("2024-03-03", 11, 21))  # v2

    assert changed_dates_since(spark, t, 0) == [
        dt.date(2024, 3, 2),
        dt.date(2024, 3, 3),
    ]
    assert changed_dates_since(spark, t, 1) == [dt.date(2024, 3, 3)]
    assert changed_dates_since(spark, t, 2) == []


@pytest.mark.slow
def test_compact_log_preserves_contents_and_bounds_metadata(spark, table_dir):
    """Compaction merges old commits into one base: same table
    contents, same dedup behavior afterwards, commit count bounded."""
    t = manifest.ManifestTable(table_dir)
    for lo in range(1, 60, 10):
        t.idempotent_append(spark, _valid_batch(spark, lo, lo + 10))
    assert len(t.snapshot()) == 6
    before = sorted(r["meter_id"] for r in t.read(spark).collect())

    merged = manifest.compact_log(t, keep_last=2)
    assert merged == 4
    snaps = t.snapshot()
    assert len(snaps) == 3  # base + 2 kept
    assert snaps[0]["compacted_from"] == 4
    after = sorted(r["meter_id"] for r in t.read(spark).collect())
    assert after == before
    # dedup still works against the compacted base (existing 1-60
    # dropped, fresh 61-69 lands)
    assert t.idempotent_append(spark, _valid_batch(spark, 1, 70)) == 9
    assert t.read(spark).count() == len(before) + 9
    # idempotent: nothing left to merge below keep_last
    assert manifest.compact_log(t, keep_last=10) == 0


def test_vacuum_sweeps_only_stale_unreferenced_stages(spark, table_dir):
    import os
    import time as _time

    t = manifest.ManifestTable(table_dir)
    t.idempotent_append(spark, _valid_batch(spark, 1, 11))
    # a crashed writer's leftover stage
    leaked = t._stage(_valid_batch(spark, 100, 105))
    leak_dir = os.path.join(t.data_dir, os.path.dirname(leaked[0]))
    # fresh → protected by TTL
    assert vacuum_unreferenced(t, ttl_s=3600) == 0
    assert os.path.isdir(leak_dir)
    # aged (file-level mtimes) → swept; referenced data untouched
    old = _time.time() - 7200
    for fname in os.listdir(leak_dir):
        os.utime(os.path.join(leak_dir, fname), (old, old))
    assert vacuum_unreferenced(t, ttl_s=3600) >= 1
    assert not os.path.isdir(leak_dir)
    assert t.read(spark).count() == 10


def test_vacuum_refuses_leftover_branch_commits(spark, table_dir):
    """A branch commit an older version left under
    ``_commits_branches/<name>/`` is the only reference to the branch's
    data files. Vacuum reads only the main log, so it refuses the
    table, dry run included, and the aged files survive."""
    t = manifest.ManifestTable(table_dir)
    t.idempotent_append(spark, _valid_batch(spark, 1, 11))
    branch_files = t._stage(_valid_batch(spark, 100, 105))
    old = time.time() - 7200
    for f in branch_files:
        os.utime(os.path.join(t.data_dir, f), (old, old))
    log = os.path.join(table_dir, "_commits_branches", "audit")
    os.makedirs(log)
    with open(os.path.join(log, "0000000001.json"), "w") as fh:
        json.dump(
            {"version": 1, "added": branch_files, "removed": [], "count": 5,
             "dates": ["2024-01-01"], "committed_at": old},
            fh,
        )
    for dry_run in (False, True):
        with pytest.raises(ValueError, match="branch 'audit' has commits"):
            vacuum_unreferenced(t, ttl_s=3600, dry_run=dry_run)
    for f in branch_files:
        assert os.path.exists(os.path.join(t.data_dir, f))
    assert t.read(spark).count() == 10


@pytest.mark.slow
def test_compaction_never_reuses_commit_numbers(spark, table_dir):
    """The append/compaction race soundness rests on commit numbers
    being monotone: after compaction leaves gaps, the next append must
    take max+1, never a vacated low slot — otherwise an append that
    validated before the compaction could publish past a concurrent
    commit it never saw."""
    import os

    t = manifest.ManifestTable(table_dir)
    for lo in range(1, 60, 10):  # commits 0..5
        t.idempotent_append(spark, _valid_batch(spark, lo, lo + 10))
    manifest.compact_log(t, keep_last=2)
    names = sorted(
        n for n in os.listdir(t.commits_dir) if n.endswith(".json")
    )
    # base keeps number 0; tail keeps its ORIGINAL numbers 4 and 5
    assert names == ["0000000000.json", "0000000004.json", "0000000005.json"]
    assert t.next_commit_number() == 6

    # next append lands at 6, not in the 1-3 gap
    assert t.idempotent_append(spark, _valid_batch(spark, 100, 110)) == 10
    names = sorted(
        n for n in os.listdir(t.commits_dir) if n.endswith(".json")
    )
    assert names[-1] == "0000000006.json"
    assert t.read(spark).count() == 70
    # positional time travel still walks the current log order
    assert read_as_of(t, spark, version=0).count() == 40  # the merged base
    assert diff(t, spark, 2, 3).count() == 10  # the new commit only


def test_put_if_absent_missing_dir_is_lost_race(tmp_path):
    """The commits dir vanishing mid-call (a concurrent compaction in
    a legacy swap design, or any namespace hiccup) must read as a LOST
    RACE (False), not an exception that leaks staged files out of
    idempotent_append."""
    gone = tmp_path / "not_there" / "commit.json"
    assert manifest._put_if_absent(str(gone), b"x") is False


def test_deterministic_commit_lands_between_validate_and_publish(
    spark, table_dir
):
    """The exact interleaving behind the round-6 duplicate-commit race,
    pinned deterministically: writer B validates against the empty log
    and computes its fence, then — via the pre-publish test seam —
    writer A lands an OVERLAPPING commit before B's publish. The fence
    invariant (fence and validation set from the same listing) forces
    B's put-if-absent to collide with A's commit number, routing B
    into revalidation; B must commit only its non-overlapping rows."""
    b_table = manifest.ManifestTable(table_dir)
    fired = []

    def land_competitor():
        if fired:
            return
        fired.append(True)
        # A separate table handle = an independent writer process.
        a_table = manifest.ManifestTable(table_dir)
        assert a_table.idempotent_append(spark, _valid_batch(spark, 1, 101)) == 100

    b_table._pre_publish_hook = land_competitor
    written_b = b_table.idempotent_append(spark, _valid_batch(spark, 51, 151))
    assert written_b == 50  # only meters 101-150 are new

    t = manifest.ManifestTable(table_dir)
    df = t.read(spark)
    assert df.count() == 150
    assert df.select("reading_timestamp", "meter_id").distinct().count() == 150
    nums = [n for n, _ in t.numbered_snapshot()]
    assert nums == [0, 1]


def test_deterministic_disjoint_commit_between_validate_and_publish(
    spark, table_dir
):
    """Same interleaving, DISJOINT keys: the loser must recommit its
    already-staged files at the next number without re-staging (the
    no-overlap fast path), and all rows from both writers land."""
    b_table = manifest.ManifestTable(table_dir)
    stages_before = []
    fired = []

    def land_competitor():
        if fired:
            return
        fired.append(True)
        stages_before.extend(os.listdir(b_table.data_dir))
        a_table = manifest.ManifestTable(table_dir)
        assert a_table.idempotent_append(spark, _valid_batch(spark, 200, 251)) == 51

    b_table._pre_publish_hook = land_competitor
    assert b_table.idempotent_append(spark, _valid_batch(spark, 1, 101)) == 100

    t = manifest.ManifestTable(table_dir)
    assert t.read(spark).count() == 151
    # B did not re-stage: no new stage dirs beyond A's one stage
    commits = t.snapshot()
    added = [f for c in commits for f in c["added"]]
    assert len(added) == len(set(added))


@pytest.mark.slow
def test_deterministic_compaction_between_validate_and_publish(
    spark, table_dir
):
    """A compaction sliding under a validated-but-unpublished append
    must not break it: numbers are preserved, so the append's fence
    (max+1 over its validation listing) is still the right publish
    slot, and the compacted base still dedupes its keys."""
    t = manifest.ManifestTable(table_dir)
    for lo in range(1, 60, 10):  # commits 0..5
        t.idempotent_append(spark, _valid_batch(spark, lo, lo + 10))

    writer = manifest.ManifestTable(table_dir)
    fired = []

    def compact_now():
        if fired:
            return
        fired.append(True)
        assert manifest.compact_log(manifest.ManifestTable(table_dir), keep_last=2) == 4

    writer._pre_publish_hook = compact_now
    # overlap 50-60 with committed rows (commits cover meters 1-60);
    # 61-69 fresh
    assert writer.idempotent_append(spark, _valid_batch(spark, 50, 70)) == 9

    final = manifest.ManifestTable(table_dir)
    df = final.read(spark)
    assert df.count() == 69
    assert df.select("reading_timestamp", "meter_id").distinct().count() == 69
    nums = [n for n, _ in final.numbered_snapshot()]
    assert nums == [0, 4, 5, 6]  # base, kept tail, the append at max+1


@pytest.mark.slow
def test_crash_mid_compaction_reads_stay_exact_and_heal(
    spark, table_dir, monkeypatch
):
    """In-place compaction crash injection: die after the base commit
    is atomically replaced but before the merged tail files are
    unlinked. Every intermediate state must READ as exactly the
    committed table (path-dedupe collapses the double references),
    dedup must still hold, and re-running compaction heals the log."""
    t = manifest.ManifestTable(table_dir)
    for lo in range(1, 60, 10):  # commits 0..5
        t.idempotent_append(spark, _valid_batch(spark, lo, lo + 10))
    before = sorted(r["meter_id"] for r in t.read(spark).collect())

    real_unlink = os.unlink
    calls = []

    def dying_unlink(path):
        if path.endswith(".json") and manifest.COMMITS_DIRNAME in path:
            calls.append(path)
            if len(calls) == 2:
                raise OSError("injected crash mid-compaction")
        return real_unlink(path)

    monkeypatch.setattr(manifest.os, "unlink", dying_unlink)
    with pytest.raises(OSError, match="injected crash"):
        manifest.compact_log(t, keep_last=2)
    monkeypatch.setattr(manifest.os, "unlink", real_unlink)

    # base replaced, commit 1 unlinked, commits 2-3 linger: the log
    # double-references commits 2-3's files via the base.
    crashed = manifest.ManifestTable(table_dir)
    after = sorted(r["meter_id"] for r in crashed.read(spark).collect())
    assert after == before  # no double-read
    # dedup still exact against the half-compacted log (1-60 exist)
    assert crashed.idempotent_append(spark, _valid_batch(spark, 1, 70)) == 9
    # re-compaction completes the cleanup
    manifest.compact_log(crashed, keep_last=2)
    healed = manifest.ManifestTable(table_dir)
    assert sorted(r["meter_id"] for r in healed.read(spark).collect()) == sorted(
        set(before) | set(range(60, 70))
    )
    assert healed.read(spark).count() == 69


def test_recover_interrupted_legacy_compaction(spark, table_dir):
    """Legacy swap-style compaction crash state: commits dir missing,
    displaced log stranded at '<commits>.old'. Opening the table must
    restore the log (NOT silently recreate an empty one), and vacuum
    must refuse while the stranded dir is present."""
    t = manifest.ManifestTable(table_dir)
    t.idempotent_append(spark, _valid_batch(spark, 1, 11))
    # simulate the crash window: log renamed away, nothing replaced it
    os.rename(t.commits_dir, t.commits_dir + ".old")

    # vacuum on a handle from before the crash refuses to run
    with pytest.raises(RuntimeError, match="refusing to vacuum"):
        vacuum_unreferenced(t, ttl_s=0)

    reopened = manifest.ManifestTable(table_dir)
    assert reopened.read(spark).count() == 10
    assert not os.path.isdir(reopened.commits_dir + ".old")
    assert vacuum_unreferenced(reopened, ttl_s=0) == 0


def _read_vals(spark, t):
    return {
        (r["meter_id"], r["reading_consumption_milliwatts"])
        for r in t.read(spark).collect()
    }


def test_upsert_updates_matches_and_inserts_rest(spark, table_dir):
    """Copy-on-write MERGE: matched PKs take the batch's post-image,
    unmatched batch rows insert, all in ONE atomic commit; the
    pre-upsert version still time-travels to the old values."""
    t = manifest.ManifestTable(table_dir)
    assert t.idempotent_append(spark, _valid_batch(spark, 1, 21)) == 20

    # re-statement feed: meters 15-25 at a new consumption value
    msgs = [
        json.dumps(dict(GOOD, meter_id=i, reading_consumption_milliwatts=9999))
        for i in range(15, 26)
    ]
    raw = spark.createDataFrame([(m,) for m in msgs], ["value"])
    restated, _ = ingest.split_valid(
        ingest.classify(ingest.parse_messages(raw))
    )
    res = upsert(t, spark, restated)
    assert res == {"updated": 6, "inserted": 5}  # 15-20 match, 21-25 new

    vals = _read_vals(spark, t)
    assert len(vals) == 25
    for m in range(1, 15):
        assert (m, 1500) in vals
    for m in range(15, 26):
        assert (m, 9999) in vals
    # time travel: version 0 still shows the original values
    v0 = {
        (r["meter_id"], r["reading_consumption_milliwatts"])
        for r in read_as_of(t, spark, version=0).collect()
    }
    assert v0 == {(m, 1500) for m in range(1, 21)}
    # history exposes the rewrite
    assert history(t)[-1]["n_removed"] >= 1


@pytest.mark.slow
def test_delete_keys_then_reinsert_lands(spark, table_dir):
    """Copy-on-write DELETE removes exactly the matched PKs; a later
    append of the same PK is NOT treated as a duplicate (the
    validation scan reads the live file set, net of removals)."""
    t = manifest.ManifestTable(table_dir)
    assert t.idempotent_append(spark, _valid_batch(spark, 1, 31)) == 30

    doomed = _valid_batch(spark, 10, 16).select(
        "reading_timestamp", "meter_id"
    )
    assert delete_keys(t, spark, doomed) == 6
    left = {r["meter_id"] for r in t.read(spark).collect()}
    assert left == set(range(1, 31)) - set(range(10, 16))
    # deleting the same keys again is a no-op, no commit added
    n_commits = len(t.snapshot())
    assert delete_keys(t, spark, doomed) == 0
    assert len(t.snapshot()) == n_commits

    # delete-then-reinsert: the append sees them as fresh
    assert t.idempotent_append(spark, _valid_batch(spark, 10, 16)) == 6
    assert t.read(spark).count() == 30


@pytest.mark.slow
def test_mutation_loses_race_to_append_and_retries(spark, table_dir):
    """Deterministic interleaving: an append lands between an upsert's
    validation and its publish. The upsert must lose put-if-absent,
    rerun against the new log, and the final table holds both the
    appended rows and the post-image — no lost update, no duplicate."""
    t = manifest.ManifestTable(table_dir)
    assert t.idempotent_append(spark, _valid_batch(spark, 1, 11)) == 10

    fired = []

    def land_append():
        if fired:
            return
        fired.append(True)
        other = manifest.ManifestTable(table_dir)
        assert other.idempotent_append(spark, _valid_batch(spark, 50, 56)) == 6

    t._pre_publish_hook = land_append
    msgs = [
        json.dumps(dict(GOOD, meter_id=i, reading_consumption_milliwatts=7777))
        for i in range(5, 11)
    ]
    raw = spark.createDataFrame([(m,) for m in msgs], ["value"])
    restated, _ = ingest.split_valid(
        ingest.classify(ingest.parse_messages(raw))
    )
    res = upsert(t, spark, restated)
    t._pre_publish_hook = None
    assert res == {"updated": 6, "inserted": 0}

    vals = _read_vals(spark, t)
    assert len(vals) == 16  # 10 original + 6 appended, no dups
    for m in range(5, 11):
        assert (m, 7777) in vals
    for m in range(50, 56):
        assert (m, 1500) in vals


@pytest.mark.slow
def test_compaction_nets_out_removed_files_then_vacuum_reclaims(
    spark, table_dir
):
    """The delete → compact → vacuum lifecycle: removed files stay on
    disk (old versions reference them) until compaction nets them out
    of the log, at which point their stage dirs become unreferenced
    and an aged vacuum reclaims them."""
    import time as _time

    t = manifest.ManifestTable(table_dir)
    for lo in (1, 11, 21):  # three commits, three stage dirs
        t.idempotent_append(spark, _valid_batch(spark, lo, lo + 10))
    # delete ALL rows of the second commit's file(s)
    dead = _valid_batch(spark, 11, 21).select("reading_timestamp", "meter_id")
    assert delete_keys(t, spark, dead) == 10
    assert t.read(spark).count() == 20

    commits = t.snapshot()
    removed = [f for c in commits for f in c.get("removed", [])]
    assert removed
    for f in removed:  # still on disk: version 1 references them
        assert os.path.exists(os.path.join(t.data_dir, f))

    # land one more append so the DELETE commit falls inside the
    # compaction base (a removal in the kept tail must keep its
    # target files referenced — old versions still read them)
    t.idempotent_append(spark, _valid_batch(spark, 31, 41))
    assert manifest.compact_log(t, keep_last=1) >= 2
    live = {f for c in t.snapshot() for f in c["added"]}
    assert live.isdisjoint(removed)
    assert t.read(spark).count() == 30

    # age every data file past TTL; vacuum sweeps the files the
    # compacted log no longer references
    old = _time.time() - 7200
    for root, _dirs, fnames in os.walk(t.data_dir):
        for fname in fnames:
            os.utime(os.path.join(root, fname), (old, old))
    swept = vacuum_unreferenced(t, ttl_s=3600)
    assert swept >= 1
    for f in removed:
        assert not os.path.exists(os.path.join(t.data_dir, f))
    assert t.read(spark).count() == 30


@pytest.mark.slow
def test_schema_evolution_additive_columns(spark, table_dir):
    """Additive schema evolution: a later batch carrying a NEW column
    commits; reads use the union schema from COMMIT METADATA (not
    parquet footer merging), so pre-evolution rows surface the column
    as NULL. A type change on an existing column is rejected at
    append time (Delta's additive-only rule), and the evolved schema
    survives compaction."""
    from pyspark.sql import functions as F

    t = manifest.ManifestTable(table_dir)
    assert t.idempotent_append(spark, _valid_batch(spark, 1, 11)) == 10

    evolved = _valid_batch(spark, 11, 21).withColumn(
        "quality_score", F.col("meter_id").cast("double") / 100.0
    )
    assert t.idempotent_append(spark, evolved) == 10

    df = t.read(spark)
    assert "quality_score" in df.columns
    rows = {r["meter_id"]: r["quality_score"] for r in df.collect()}
    assert len(rows) == 20
    for m in range(1, 11):
        assert rows[m] is None  # pre-evolution rows
    for m in range(11, 21):
        assert rows[m] == m / 100.0

    # time travel to v0 shows the ORIGINAL schema (no quality_score)
    assert "quality_score" not in read_as_of(t, spark, version=0).columns

    # type change on an existing column is refused
    bad = _valid_batch(spark, 30, 35).withColumn(
        "quality_score", F.lit("not-a-double")
    )
    with pytest.raises(ValueError, match="additive-only"):
        t.idempotent_append(spark, bad)

    # the evolved schema survives compaction into the base commit
    t.idempotent_append(spark, _valid_batch(spark, 40, 45))
    t.idempotent_append(spark, _valid_batch(spark, 50, 55))
    manifest.compact_log(t, keep_last=1)
    df2 = t.read(spark)
    assert "quality_score" in df2.columns
    assert df2.count() == 30


def test_schema_evolution_through_upsert(spark, table_dir):
    """An upsert whose batch carries a new column rewrites matched
    files under the evolved read schema: the post-image has the new
    column, survivors and untouched rows read NULL for it, and no
    column is silently dropped from the rewrite."""
    from pyspark.sql import functions as F

    t = manifest.ManifestTable(table_dir)
    assert t.idempotent_append(spark, _valid_batch(spark, 1, 21)) == 20

    msgs = [
        json.dumps(dict(GOOD, meter_id=i, reading_consumption_milliwatts=4242))
        for i in range(5, 11)
    ]
    raw = spark.createDataFrame([(m,) for m in msgs], ["value"])
    restated, _ = ingest.split_valid(
        ingest.classify(ingest.parse_messages(raw))
    )
    restated = restated.withColumn("correction_source", F.lit("manual"))
    res = upsert(t, spark, restated)
    assert res == {"updated": 6, "inserted": 0}

    df = t.read(spark)
    assert "correction_source" in df.columns
    rows = {
        r["meter_id"]: (
            r["reading_consumption_milliwatts"],
            r["correction_source"],
        )
        for r in df.collect()
    }
    assert len(rows) == 20
    for m in range(5, 11):
        assert rows[m] == (4242, "manual")
    for m in list(range(1, 5)) + list(range(11, 21)):
        assert rows[m][0] == 1500 and rows[m][1] is None


@pytest.mark.slow
def test_optimize_bin_packs_small_files(spark, table_dir):
    """OPTIMIZE: many small live files are rewritten into few
    right-sized ones in ONE copy-on-write commit — contents
    identical, pre-optimize versions still time-travel, originals
    reclaimed after log compaction + aged vacuum (the same lifecycle
    as mutations). A second optimize is a no-op."""
    import time as _time

    t = manifest.ManifestTable(table_dir)
    for lo in range(1, 100, 10):  # 10 commits, many small part files
        t.idempotent_append(spark, _valid_batch(spark, lo, lo + 10))
    before = sorted(r["meter_id"] for r in t.read(spark).collect())
    n_files_before = sum(len(c["added"]) for c in t.snapshot())
    n_versions_before = len(t.snapshot())

    res = optimize_table(t, spark, small_file_bytes=32 << 20)
    assert res["files_rewritten"] == n_files_before
    assert 0 < res["files_created"] < n_files_before

    after = sorted(r["meter_id"] for r in t.read(spark).collect())
    assert after == before
    # live file set is now the packed files only
    live = t._files(t.snapshot())
    assert len(live) == res["files_created"]
    # pre-optimize version still reads (old files intact on disk)
    assert (
        read_as_of(t, spark, version=n_versions_before - 1).count() == len(before)
    )
    # idempotent: nothing small left to pack (single output file)
    res2 = optimize_table(t, spark, small_file_bytes=32 << 20)
    assert res2["files_rewritten"] == 0

    # dedup still exact against the packed layout (1-100 committed)
    assert t.idempotent_append(spark, _valid_batch(spark, 1, 120)) == 19

    # compact + aged vacuum reclaims the originals
    t.idempotent_append(spark, _valid_batch(spark, 200, 205))
    manifest.compact_log(t, keep_last=1)
    old = _time.time() - 7200
    for root, _dirs, fnames in os.walk(t.data_dir):
        for fname in fnames:
            os.utime(os.path.join(root, fname), (old, old))
    assert vacuum_unreferenced(t, ttl_s=3600) >= n_files_before
    assert t.read(spark).count() == len(before) + 19 + 5


@pytest.mark.slow
def test_optimize_loses_fence_race_to_append_and_retries(spark, table_dir):
    """A lock-free append landing between optimize's file selection
    and its publish must cost optimize only a clean retry — no lost
    append, no double-referenced file."""
    t = manifest.ManifestTable(table_dir)
    for lo in (1, 11, 21):
        t.idempotent_append(spark, _valid_batch(spark, lo, lo + 10))

    real_put = manifest._put_if_absent
    fired = []

    def racing_put(path, payload):
        if not fired:
            fired.append(True)
            other = manifest.ManifestTable(table_dir)
            assert (
                other.idempotent_append(spark, _valid_batch(spark, 50, 61))
                == 11
            )
        return real_put(path, payload)

    manifest._put_if_absent = racing_put
    try:
        res = optimize_table(t, spark, small_file_bytes=32 << 20)
    finally:
        manifest._put_if_absent = real_put
    assert res["rounds"] == 2  # first publish lost, retry won
    df = t.read(spark)
    assert df.count() == 41
    assert df.select("reading_timestamp", "meter_id").distinct().count() == 41
    added = [f for c in t.snapshot() for f in c["added"]]
    assert len(added) == len(set(added))


def test_changed_dates_sees_deletes_and_skips_optimize(spark, table_dir):
    """CDC completeness under copy-on-write: a DELETE that empties a
    whole date must surface that date to the incremental-refresh
    driver (the post-image diff alone cannot see absence), and an
    OPTIMIZE — bytes rewritten, rows unchanged — must surface
    NOTHING (else every file compaction triggers a full spurious
    mart refresh)."""
    import datetime as dt

    from smart_meter_data_pipeline_spark.operators.incremental import (
        changed_dates_since,
    )

    def batch_on(day: str, lo, hi):
        msgs = [
            json.dumps(
                dict(GOOD, meter_id=i, reading_timestamp=f"{day}T10:30:00")
            )
            for i in range(lo, hi)
        ]
        raw = spark.createDataFrame([(m,) for m in msgs], ["value"])
        valid, _ = ingest.split_valid(
            ingest.classify(ingest.parse_messages(raw))
        )
        return valid

    t = manifest.ManifestTable(table_dir)
    t.idempotent_append(spark, batch_on("2024-03-01", 1, 11))  # v0
    t.idempotent_append(spark, batch_on("2024-03-02", 1, 11))  # v1
    v_base = len(t.snapshot()) - 1

    # empty out ALL of 03-02: the delete commit stages no survivors
    # for that date — only removed_dates metadata can report it
    dead = batch_on("2024-03-02", 1, 11).select(
        "reading_timestamp", "meter_id"
    )
    assert delete_keys(t, spark, dead) == 10
    assert changed_dates_since(spark, t, v_base) == [dt.date(2024, 3, 2)]

    # optimize rewrites every remaining small file — rows unchanged,
    # so the refresh driver must see nothing new
    v_after_delete = len(t.snapshot()) - 1
    res = optimize_table(t, spark, small_file_bytes=32 << 20)
    assert res["files_rewritten"] > 0
    assert changed_dates_since(spark, t, v_after_delete) == []
    # and an upsert's restated date still surfaces
    restated = batch_on("2024-03-01", 5, 8)
    upsert(t, spark, restated)
    assert changed_dates_since(
        spark, t, len(t.snapshot()) - 2
    ) == [dt.date(2024, 3, 1)]


def test_read_dates_prunes_files_from_metadata(spark, table_dir):
    """Date-restricted reads prune at the FILE level from commit
    metadata (no data touched for other days), and removals still
    apply inside the pruned view."""
    import datetime as dt

    def batch_on(day: str, lo, hi):
        msgs = [
            json.dumps(
                dict(GOOD, meter_id=i, reading_timestamp=f"{day}T10:30:00")
            )
            for i in range(lo, hi)
        ]
        raw = spark.createDataFrame([(m,) for m in msgs], ["value"])
        valid, _ = ingest.split_valid(
            ingest.classify(ingest.parse_messages(raw))
        )
        return valid

    t = manifest.ManifestTable(table_dir)
    t.idempotent_append(spark, batch_on("2024-03-01", 1, 11))
    t.idempotent_append(spark, batch_on("2024-03-02", 1, 21))
    t.idempotent_append(spark, batch_on("2024-03-03", 1, 6))

    d2 = t.read(spark, dates=[dt.date(2024, 3, 2)])
    assert d2.count() == 20
    # the pruned plan reads strictly fewer files than the full table
    assert len(d2.inputFiles()) < len(t.read(spark).inputFiles())

    # a delete on day 2 is visible through the pruned read
    dead = batch_on("2024-03-02", 1, 6).select(
        "reading_timestamp", "meter_id"
    )
    assert delete_keys(t, spark, dead) == 5
    assert t.read(spark, dates=[dt.date(2024, 3, 2)]).count() == 15
    # round 10: a committed table with zero matching files reads as an
    # EMPTY frame (schema known), not None — same contract as a table
    # fully emptied by delete_where
    assert t.read(spark, dates=[dt.date(2024, 3, 4)]).count() == 0


def test_file_skipping_stats_prune_mutation_scans(spark, table_dir):
    """Data skipping from commit metadata: every commit records each
    file's [min, max] meter_id straight from the parquet footers; a
    mutation whose key range can't intersect a file skips it without
    opening it. Files predating stats tracking are always kept
    (skipping is an optimization, never a correctness filter)."""
    t = manifest.ManifestTable(table_dir)
    t.idempotent_append(spark, _valid_batch(spark, 1, 101))      # low range
    t.idempotent_append(spark, _valid_batch(spark, 5001, 5101))  # high range

    commits = t.snapshot()
    # stats recorded for every added file
    for c in commits:
        assert set(c["stats"]) == set(c["added"])
        for per_col in c["stats"].values():
            mn, mx, nulls = per_col["meter_id"]
            assert mn <= mx and nulls == 0
            assert per_col["#rows"] > 0

    live = t._files(commits)
    # a delete targeting meters 5001-5050 must prune ALL low-range files
    pruned = _prune_by_stats(t, live, commits, {"meter_id": (5001, 5050)})
    low_files = set(commits[0]["added"])
    assert all(
        os.path.relpath(f, t.data_dir) not in low_files for f in pruned
    )
    assert len(pruned) < len(live)
    # legacy commits without stats are never skipped
    no_stats = [dict(c, stats={}) for c in commits]
    assert (
        _prune_by_stats(t, live, no_stats, {"meter_id": (5001, 5050)})
        == live
    )
    # legacy single-column entries ([min, max] lists) still prune
    legacy = [
        dict(
            c,
            stats={
                rel: per_col["meter_id"]
                for rel, per_col in c.get("stats", {}).items()
            },
        )
        for c in commits
    ]
    assert _prune_by_stats(
        t, live, legacy, {"meter_id": (5001, 5050)}
    ) == pruned

    # end-to-end: the pruned delete is still exact
    doomed = _valid_batch(spark, 5001, 5051).select(
        "reading_timestamp", "meter_id"
    )
    assert delete_keys(t, spark, doomed) == 50
    left = {r["meter_id"] for r in t.read(spark).collect()}
    assert left == set(range(1, 101)) | set(range(5051, 5101))


@pytest.mark.slow
def test_concurrent_upserts_serialize_cleanly(spark, table_dir):
    """Mutation-vs-mutation: a competing upsert lands between this
    upsert's validation and its publish. The loser must discard its
    stale rewrite and rerun against the winner's post-image — both
    corrections survive, no lost update (the classic write-write
    conflict the optimistic fence exists for)."""
    t = manifest.ManifestTable(table_dir)
    assert t.idempotent_append(spark, _valid_batch(spark, 1, 21)) == 20

    def restate(lo, hi, mw):
        msgs = [
            json.dumps(
                dict(GOOD, meter_id=i, reading_consumption_milliwatts=mw)
            )
            for i in range(lo, hi)
        ]
        raw = spark.createDataFrame([(m,) for m in msgs], ["value"])
        valid, _ = ingest.split_valid(
            ingest.classify(ingest.parse_messages(raw))
        )
        return valid

    fired = []

    def land_other_upsert():
        if fired:
            return
        fired.append(True)
        other = manifest.ManifestTable(table_dir)
        assert upsert(other, spark, restate(1, 6, 1111)) == {
            "updated": 5,
            "inserted": 0,
        }

    t._pre_publish_hook = land_other_upsert
    assert upsert(t, spark, restate(10, 16, 2222)) == {
        "updated": 6,
        "inserted": 0,
    }
    t._pre_publish_hook = None

    vals = _read_vals(spark, t)
    assert len(vals) == 20
    for m in range(1, 6):
        assert (m, 1111) in vals  # competitor's correction survives
    for m in range(10, 16):
        assert (m, 2222) in vals  # ours lands on top of the new log
    for m in list(range(6, 10)) + list(range(16, 21)):
        assert (m, 1500) in vals  # untouched rows intact


@pytest.mark.slow
def test_optimize_cluster_by_tightens_stats_and_skipping(spark, table_dir):
    """OPTIMIZE with cluster_by (the ZORDER role): the rewrite is
    range-partitioned + sorted on the key, so every packed file
    covers a NARROW, near-disjoint key range — and the mutation
    file-skipper then prunes most files for a range-targeted delete.
    Without clustering, interleaved appends leave every file spanning
    the whole key space and nothing can be skipped."""
    t = manifest.ManifestTable(table_dir)
    # interleaved appends: low and high meter ranges in each batch.
    # (No assertion on PRE-clustering prunability: the append's
    # anti-join reshuffles on the PK, so which meters share a file is
    # session-partitioning-dependent — only the post-clustering
    # layout is a contract.)
    t.idempotent_append(
        spark,
        _valid_batch(spark, 1, 51).unionByName(
            _valid_batch(spark, 9001, 9051)
        ),
    )
    t.idempotent_append(
        spark,
        _valid_batch(spark, 51, 101).unionByName(
            _valid_batch(spark, 9051, 9101)
        ),
    )

    res = optimize_table(
        t,
        spark,
        small_file_bytes=32 << 20,
        target_partitions=4,
        cluster_by=["meter_id"],
    )
    # range partitioning targets 4 output files; sampling may merge a
    # boundary, so pin a range rather than the exact count
    assert 2 <= res["files_created"] <= 4
    commits = t.snapshot()
    live = t._files(commits)
    pruned = _prune_by_stats(t, live, commits, {"meter_id": (1, 100)})
    # post-clustering: the low-range probe touches a strict subset
    assert len(pruned) < len(live)
    # contents identical, ranges near-disjoint
    assert t.read(spark).count() == 200
    stats = commits[-1]["stats"]
    ranges = sorted(
        per_col["meter_id"][:2] for per_col in stats.values()
    )
    for (_, hi), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi <= lo2  # range-partitioned: no overlap beyond edges

    # a range-targeted delete after clustering is still exact
    doomed = _valid_batch(spark, 9001, 9101).select(
        "reading_timestamp", "meter_id"
    )
    assert delete_keys(t, spark, doomed) == 100
    assert t.read(spark).count() == 100


def test_upsert_rejects_batch_missing_table_columns(spark, table_dir):
    """MERGE "UPDATE SET *" replaces matched rows wholesale, so a
    batch whose schema is a SUBSET of the table's (a restatement
    carrying only PK + the corrected column) must be rejected loudly
    — silently nulling the absent columns on every matched row is the
    failure mode round-7 advice flagged (manifest.py upsert)."""
    t = manifest.ManifestTable(table_dir)
    assert t.idempotent_append(spark, _valid_batch(spark, 1, 11)) == 10

    partial = _valid_batch(spark, 5, 8).drop("status")
    with pytest.raises(ValueError, match="missing table columns"):
        upsert(t, spark, partial)

    # nothing committed, nothing nulled
    df = t.read(spark)
    assert df.count() == 10
    assert df.filter(df.status.isNull()).count() == 0


def test_diff_reads_under_evolved_schema(spark, table_dir):
    """The change feed over a schema-evolution boundary must use the
    evolved commit-metadata schema like read() does: a plain
    spark.read.parquet over mixed-schema files infers whichever file
    gets sampled and can non-deterministically drop later-added
    columns from the feed."""
    from pyspark.sql import functions as F

    t = manifest.ManifestTable(table_dir)
    t.idempotent_append(spark, _valid_batch(spark, 1, 11))  # v0: base
    evolved = _valid_batch(spark, 11, 21).withColumn(
        "quality_score", F.col("meter_id").cast("double") / 100.0
    )
    t.idempotent_append(spark, evolved)  # v1: adds a column

    feed = diff(t, spark, -1, 1)
    assert "quality_score" in feed.columns
    rows = {r["meter_id"]: r["quality_score"] for r in feed.collect()}
    assert len(rows) == 20
    assert all(rows[m] is None for m in range(1, 11))
    assert all(rows[m] == m / 100.0 for m in range(11, 21))

    # a sub-range that ends before the evolution sees the old schema
    assert "quality_score" not in diff(t, spark, -1, 0).columns


def test_file_stats_non_integer_column_skips_not_breaks(spark, table_dir):
    """File-skipping stats are an optimization: a table whose stats
    column (meter_id) is non-integral must still append/commit — the
    unguarded int() cast used to raise and break every write. Since
    round 12, STRING columns additionally record string min/max
    (UTF-8 zone maps — what makes the posting index prune itself);
    other unsupported types still just skip."""
    from pyspark.sql import functions as F

    t = manifest.ManifestTable(table_dir)
    batch = _valid_batch(spark, 1, 11).withColumn(
        "meter_id", F.concat(F.lit("M-"), F.col("meter_id"))
    )
    assert t.idempotent_append(spark, batch) == 10
    (c,) = t.snapshot()
    saw_col_stats = False
    for e in c.get("stats", {}).values():
        if "meter_id" not in e:
            # round 14: "#rows" is recorded unconditionally (squash
            # counts need it), so EMPTY staged part-files now carry a
            # rows-only stats entry — nothing else may be in it
            assert e.get("#rows") == 0 and set(e) == {"#rows"}
            continue
        saw_col_stats = True
        mn, mx = e["meter_id"][0], e["meter_id"][1]
        assert isinstance(mn, str) and isinstance(mx, str)
        assert mn <= mx and mn.startswith("M-")
    assert saw_col_stats
    assert t.read(spark).count() == 10
    # an array-typed stats column: nothing recorded, append still fine
    t2 = manifest.ManifestTable(
        table_dir + "_arr", stats_columns=["arr"]
    )
    batch2 = _valid_batch(spark, 1, 11).withColumn(
        "arr", F.array(F.col("meter_id"))
    )
    assert t2.idempotent_append(spark, batch2) == 10
    (c2,) = t2.snapshot()
    assert all("arr" not in e for e in c2.get("stats", {}).values())


def test_changed_dates_is_metadata_only_and_mutation_exact(
    spark, table_dir
):
    """changed_dates_since must (a) answer from commit metadata alone
    — surviving a compact+vacuum that deletes range-added files — and
    (b) report a mutation's EXACT changed dates (removed_dates ∪
    batch_dates), not the full date range of its rewritten survivor
    files."""
    import datetime as dt
    import time as _time

    from smart_meter_data_pipeline_spark.operators.incremental import (
        changed_dates_since,
    )

    def batch_on_days(pairs):
        msgs = [
            json.dumps(
                dict(GOOD, meter_id=i, reading_timestamp=f"{day}T10:30:00")
            )
            for day, i in pairs
        ]
        raw = spark.createDataFrame([(m,) for m in msgs], ["value"])
        valid, _ = ingest.split_valid(
            ingest.classify(ingest.parse_messages(raw))
        )
        return valid

    t = manifest.ManifestTable(table_dir)
    # v0: ONE commit mixing two dates (its files span d1 and d3)
    t.idempotent_append(
        spark,
        batch_on_days(
            [("2024-03-01", i) for i in range(1, 6)]
            + [("2024-03-03", i) for i in range(6, 11)]
        ),
    )
    # v1: upsert restating two d1 meters — survivors carry d3 rows,
    # but d3 is NOT a changed date of this commit
    res = upsert(
        t, spark, batch_on_days([("2024-03-01", 1), ("2024-03-01", 2)])
    )
    assert res["updated"] == 2
    assert changed_dates_since(spark, t, 0) == [dt.date(2024, 3, 1)]

    # feed from the beginning still covers both original dates
    assert changed_dates_since(spark, t, -1) == [
        dt.date(2024, 3, 1),
        dt.date(2024, 3, 3),
    ]

    # compact the log and vacuum the CoW-removed originals: the feed
    # answers identically with zero file IO
    manifest.compact_log(t, keep_last=0)
    old = _time.time() - 7200
    for root, _, names in os.walk(t.data_dir):
        for n in names:
            os.utime(os.path.join(root, n), (old, old))
    vacuum_unreferenced(t, ttl_s=3600)
    assert changed_dates_since(spark, t, -1) == [
        dt.date(2024, 3, 1),
        dt.date(2024, 3, 3),
    ]


def test_restore_version_rolls_back_and_keeps_history(spark, table_dir):
    """RESTORE: one metadata-only commit returns the live state to the
    target version; the reverted commits stay time-travelable; the
    change feed sees the reverted dates; restoring to the current
    state is a no-op; a vacuumed restore point raises instead of
    publishing a half-readable state."""
    import datetime as dt
    import time as _time

    from pyspark.sql import functions as F

    from smart_meter_data_pipeline_spark.operators.incremental import (
        changed_dates_since,
    )

    t = manifest.ManifestTable(table_dir)
    t.idempotent_append(spark, _valid_batch(spark, 1, 11))    # v0
    t.idempotent_append(spark, _valid_batch(spark, 11, 21))   # v1
    restated = _valid_batch(spark, 5, 8).withColumn(
        "reading_consumption_milliwatts", F.lit(9999)
    )
    upsert(t, spark, restated)                                 # v2

    res = restore_version(t, 0)                      # v3
    assert res["restored_version"] == 0
    assert res["files_removed"] > 0 and res["files_readded"] > 0

    rows = {
        r["meter_id"]: r["reading_consumption_milliwatts"]
        for r in t.read(spark).collect()
    }
    assert sorted(rows) == list(range(1, 11))  # v1's meters gone
    assert all(v == 1500 for v in rows.values())  # upsert reverted

    # history intact: v2 still time-travels to the post-upsert state
    v2 = {
        r["meter_id"]: r["reading_consumption_milliwatts"]
        for r in read_as_of(t, spark, version=2).collect()
    }
    assert len(v2) == 20 and v2[5] == 9999

    # the feed reports the reverted dates from metadata alone
    assert changed_dates_since(spark, t, 2) == [dt.date(2024, 3, 1)]

    # restoring to the restored state is a no-op commit-wise
    assert restore_version(t, 3) == {
        "files_readded": 0,
        "files_removed": 0,
        "restored_version": 3,
    }

    # appends continue normally after a restore
    assert t.idempotent_append(spark, _valid_batch(spark, 30, 35)) == 5
    assert t.read(spark).count() == 15


def test_restore_surfaces_dates_a_reverted_delete_emptied(spark, table_dir):
    """Round-9 advisory (medium): restoring past a CoW delete that
    emptied a whole date RE-ADDS that date's rows, but the delete
    commit recorded the date only in its ``removed_dates`` — if the
    restore commit's change metadata unions only ``dates`` of the
    reverted commits, changed_dates_since skips the resurrected date
    and incremental marts stay stale."""
    import datetime as dt

    from smart_meter_data_pipeline_spark.operators.incremental import (
        changed_dates_since,
    )

    def batch_on(day, lo, hi):
        msgs = [
            json.dumps(
                dict(GOOD, meter_id=i, reading_timestamp=f"{day}T10:30:00")
            )
            for i in range(lo, hi)
        ]
        raw = spark.createDataFrame([(m,) for m in msgs], ["value"])
        valid, _ = ingest.split_valid(
            ingest.classify(ingest.parse_messages(raw))
        )
        return valid

    t = manifest.ManifestTable(table_dir)
    t.idempotent_append(spark, batch_on("2024-03-01", 1, 11))  # v0
    t.idempotent_append(spark, batch_on("2024-03-02", 1, 11))  # v1
    dead = batch_on("2024-03-02", 1, 11).select(
        "reading_timestamp", "meter_id"
    )
    assert delete_keys(t, spark, dead) == 10                    # v2
    v_after_delete = len(t.snapshot()) - 1

    restore_version(t, 1)                             # v3
    assert t.read(spark).count() == 20  # 03-02 resurrected

    changed = changed_dates_since(spark, t, v_after_delete)
    assert dt.date(2024, 3, 2) in changed


def test_restore_refuses_missing_target_files(spark, table_dir):
    """If a file the restore point references is gone from disk (an
    external cleanup outside the vacuum protocol — the in-protocol
    vacuum never reclaims files a log-visible commit still
    references, and compaction renumbers versions so stale restore
    targets cannot be named), restore must raise instead of
    publishing a commit referencing dead files."""
    t = manifest.ManifestTable(table_dir)
    t.idempotent_append(spark, _valid_batch(spark, 1, 11))    # v0
    restated = _valid_batch(spark, 1, 11)
    upsert(t, spark, restated)                                 # v1 rewrites all
    v0_files = t._files(t.snapshot()[:1])
    live = set(t._files(t.snapshot()))
    dead = [f for f in v0_files if f not in live]
    assert dead  # the CoW originals v1 removed
    os.remove(dead[0])
    with pytest.raises(ValueError, match="vacuumed"):
        restore_version(t, 0)


def test_multi_column_stats_prune_on_any_disjoint_column(spark, table_dir):
    """A table configured with two stats columns records both ranges
    per file, and a mutation skips a file when EITHER column's batch
    range is disjoint — each extra stats column only prunes more."""
    from pyspark.sql import functions as F

    t = manifest.ManifestTable(
        table_dir,
        stats_columns=["meter_id", "reading_consumption_milliwatts"],
    )
    lo = _valid_batch(spark, 1, 51)
    hi = _valid_batch(spark, 1001, 1051).withColumn(
        "reading_consumption_milliwatts", F.lit(999_000)
    )
    t.idempotent_append(spark, lo)
    t.idempotent_append(spark, hi)
    commits = t.snapshot()
    for c in commits:
        for per_col in c["stats"].values():
            assert set(per_col) == {
                "meter_id",
                "reading_consumption_milliwatts",
                "#rows",
            }
    live = t._files(commits)
    # meter range hits BOTH commits, but the consumption range only
    # matches the low batch -> the second column prunes the hi files
    pruned = _prune_by_stats(
        t,
        live,
        commits,
        {
            "meter_id": (1, 2000),
            "reading_consumption_milliwatts": (1000, 2000),
        },
    )
    hi_files = set(commits[1]["added"])
    assert all(
        os.path.relpath(f, t.data_dir) not in hi_files for f in pruned
    )
    assert len(pruned) < len(live)
    # end-to-end: a consumption-targeted delete stays exact
    doomed = lo.limit(10).select("reading_timestamp", "meter_id")
    assert delete_keys(t, spark, doomed) == 10
    assert t.read(spark).count() == 90


@pytest.mark.slow
def test_change_feed_classifies_row_level_changes(spark, table_dir):
    """Row-level CDF from the snapshot file difference: updates carry
    pre+post images, deletes the pre-image, appends inserts — and
    rewritten-survivor rows (same values, new file) never appear.
    Cost bound: only files in the snapshots' symmetric difference are
    read, pinned by comparing against the live-file sets."""
    from pyspark.sql import functions as F

    t = manifest.ManifestTable(table_dir)
    t.idempotent_append(spark, _valid_batch(spark, 1, 21))       # v0
    restated = _valid_batch(spark, 5, 9).withColumn(
        "reading_consumption_milliwatts", F.lit(9999)
    )
    upsert(t, spark, restated)                                    # v1
    doomed = _valid_batch(spark, 3, 4).select(
        "reading_timestamp", "meter_id"
    )
    delete_keys(t, spark, doomed)                                 # v2
    t.idempotent_append(spark, _valid_batch(spark, 30, 33))      # v3

    feed = change_feed(t, spark, 0, 3)
    rows = [
        (r["meter_id"], r["_change_type"],
         r["reading_consumption_milliwatts"])
        for r in feed.collect()
    ]
    by_type: dict[str, set] = {}
    for m, ct, v in rows:
        by_type.setdefault(ct, set()).add((m, v))
    assert by_type["insert"] == {(m, 1500) for m in range(30, 33)}
    assert by_type["delete"] == {(3, 1500)}
    assert by_type["update_preimage"] == {
        (m, 1500) for m in range(5, 9)
    }
    assert by_type["update_postimage"] == {
        (m, 9999) for m in range(5, 9)
    }
    # no survivors leak: every meter in the feed is a logical change
    assert {m for m, _, _ in rows} == {3, 30, 31, 32, 5, 6, 7, 8}

    # full-history feed from empty: everything an insert
    full = change_feed(t, spark, -1, 0)
    assert (
        full.filter(full._change_type != "insert").count() == 0
        and full.count() == 20
    )
    # identical snapshots: no feed
    assert change_feed(t, spark, 3, 3) is None


def test_change_feed_spans_schema_evolution(spark, table_dir):
    """A feed crossing an additive-evolution boundary surfaces the new
    column: NULL on pre-images, populated on post-images."""
    from pyspark.sql import functions as F

    t = manifest.ManifestTable(table_dir)
    t.idempotent_append(spark, _valid_batch(spark, 1, 11))       # v0
    evolved = _valid_batch(spark, 5, 8).withColumn(
        "correction_source", F.lit("manual")
    )
    upsert(t, spark, evolved)                                     # v1

    feed = change_feed(t, spark, 0, 1)
    rows = {
        (r["meter_id"], r["_change_type"]): r["correction_source"]
        for r in feed.collect()
    }
    for m in range(5, 8):
        assert rows[(m, "update_preimage")] is None
        assert rows[(m, "update_postimage")] == "manual"
    # the evolved column itself makes the rows differ, even though
    # every pre-existing column kept its value
    assert len(rows) == 6


def test_check_constraints_gate_every_write_path(spark, table_dir):
    """Delta-invariant CHECK constraints: a violating batch raises on
    append AND on upsert with per-check counts, nothing commits; a
    clean batch writes normally; a constraint on a column the batch
    lacks counts as not_null violations."""
    from pyspark.sql import functions as F

    t = manifest.ManifestTable(
        table_dir,
        constraints=[
            {"kind": "non_negative",
             "column": "reading_consumption_milliwatts"},
            {"kind": "accepted_values", "column": "status",
             "values": ["V", "E", "S"]},
        ],
    )
    good = _valid_batch(spark, 1, 11)
    assert t.idempotent_append(spark, good) == 10

    bad = _valid_batch(spark, 20, 25).withColumn(
        "reading_consumption_milliwatts", F.lit(-5)
    )
    with pytest.raises(ValueError, match="non_negative"):
        t.idempotent_append(spark, bad)
    assert len(t.snapshot()) == 1  # nothing committed

    with pytest.raises(ValueError, match="CHECK"):
        upsert(
            t,
            spark,
            good.withColumn("status", F.lit("BOGUS")),
        )
    assert t.read(spark).count() == 10

    # clean upsert passes the gate
    res = upsert(
        t,
        spark,
        _valid_batch(spark, 5, 8).withColumn(
            "reading_consumption_milliwatts", F.lit(7)
        ),
    )
    assert res["updated"] == 3

    # not_null on a column the batch does not carry: every row counts
    t2 = manifest.ManifestTable(
        str(table_dir) + "_nn",
        constraints=[{"kind": "not_null", "column": "no_such_col"}],
    )
    with pytest.raises(ValueError, match="not_null_no_such_col"):
        t2.idempotent_append(spark, good)


def test_deterministic_append_lands_between_restore_validate_and_publish(
    spark, table_dir
):
    """Restore loses the put-if-absent race to an append landing in
    the exact validate→publish window: the retry re-derives the file
    sets against the NEW log, so the raced append is rolled back too
    (restore-to-v0 semantics: everything newer than v0 goes) and the
    final state is exactly v0's."""
    t = manifest.ManifestTable(table_dir)
    t.idempotent_append(spark, _valid_batch(spark, 1, 11))    # v0
    t.idempotent_append(spark, _valid_batch(spark, 11, 21))   # v1

    fired = {"n": 0}

    def land_competitor():
        fired["n"] += 1
        if fired["n"] == 1:
            other = manifest.ManifestTable(table_dir)
            assert (
                other.idempotent_append(
                    spark, _valid_batch(spark, 50, 56)
                )
                == 6
            )

    t._pre_publish_hook = land_competitor
    res = restore_version(t, 0)
    t._pre_publish_hook = None
    assert res["restored_version"] == 0
    assert fired["n"] == 2  # first publish lost, retry won
    meters = sorted(r["meter_id"] for r in t.read(spark).collect())
    assert meters == list(range(1, 11))  # v1 AND the raced append gone
    # the raced append still time-travels (history preserved)
    n_commits = len(t.snapshot())
    assert read_as_of(t, spark, version=n_commits - 2).count() == 26


def test_timestamp_asof_resolution(spark, table_dir):
    """TIMESTAMP AS OF: commits record committed_at; version_asof
    resolves to the latest version at-or-before the instant;
    read(asof=) equals read(version=); pre-first-commit timestamps
    raise; version+asof together raise; compaction leaves the merged
    base carrying the LAST merged commit's timestamp (asof granularity
    inside the merged range is lost, same as Delta log cleanup)."""
    t = manifest.ManifestTable(table_dir)
    t.idempotent_append(spark, _valid_batch(spark, 1, 11))    # v0
    t.idempotent_append(spark, _valid_batch(spark, 11, 21))   # v1
    t.idempotent_append(spark, _valid_batch(spark, 21, 31))   # v2
    snaps = t.snapshot()
    stamps = [c["committed_at"] for c in snaps]
    assert stamps == sorted(stamps)
    assert version_asof(t, stamps[0]) == 0
    assert version_asof(t, stamps[1]) == 1
    assert version_asof(t, stamps[2] + 1e6) == 2
    assert read_as_of(t, spark, asof=stamps[1]).count() == 20
    with pytest.raises(ValueError):
        version_asof(t, stamps[0] - 3600.0)
    with pytest.raises(ValueError):
        read_as_of(t, spark, version=1, asof=stamps[1])
    # compaction: merged base inherits the last merged stamp
    manifest.compact_log(t, keep_last=1)
    snaps2 = t.snapshot()
    assert snaps2[0]["committed_at"] == stamps[1]
    assert version_asof(t, stamps[1]) == 0
    assert read_as_of(t, spark, asof=stamps[2]).count() == 30


# -- shallow clone ----------------------------------------------------------


def test_shallow_clone_reads_source_without_copy(spark, tmp_path):
    src = manifest.ManifestTable(str(tmp_path / "src"))
    src.idempotent_append(spark, _valid_batch(spark, 0, 40))
    src.idempotent_append(spark, _valid_batch(spark, 40, 60))

    clone = shallow_clone(src, str(tmp_path / "clone"))
    got = {r["meter_id"] for r in clone.read(spark).collect()}
    assert got == set(range(60))
    # zero data files copied — the clone's data dir holds nothing
    assert not any(
        files for _, _, files in os.walk(clone.data_dir)
    )
    # schema and stats carried into the base commit
    base = clone.snapshot()[0]
    assert base.get("schema")
    assert base.get("stats")
    assert base["cloned_from"] == src.table_dir


def test_shallow_clone_diverges_in_isolation(spark, tmp_path):
    src = manifest.ManifestTable(str(tmp_path / "src"))
    src.idempotent_append(spark, _valid_batch(spark, 0, 50))
    clone = shallow_clone(src, str(tmp_path / "clone"))

    # mutate the CLONE: delete + append must not touch the source
    doomed = (
        clone.read(spark).filter("meter_id < 10").select(*manifest.PK)
    )
    delete_keys(clone, spark, doomed)
    clone.idempotent_append(spark, _valid_batch(spark, 100, 110))
    assert {r["meter_id"] for r in clone.read(spark).collect()} == (
        set(range(10, 50)) | set(range(100, 110))
    )
    assert {r["meter_id"] for r in src.read(spark).collect()} == set(range(50))

    # append to the SOURCE after the clone point: clone must not see it
    src.idempotent_append(spark, _valid_batch(spark, 50, 70))
    assert {r["meter_id"] for r in clone.read(spark).collect()} == (
        set(range(10, 50)) | set(range(100, 110))
    )

    # the clone's vacuum never deletes source bytes
    removed = vacuum_unreferenced(clone, ttl_s=0.0)
    assert {r["meter_id"] for r in src.read(spark).collect()} == set(
        range(70)
    )


def test_shallow_clone_materializes_via_optimize(spark, tmp_path):
    src = manifest.ManifestTable(str(tmp_path / "src"))
    for lo, hi in ((0, 20), (20, 40), (40, 60)):
        src.idempotent_append(spark, _valid_batch(spark, lo, hi))
    clone = shallow_clone(src, str(tmp_path / "clone"))
    optimize_table(clone, spark)
    # all live files are now LOCAL to the clone
    live = clone._files(clone.snapshot())
    for p in live:
        assert os.path.realpath(p).startswith(
            os.path.realpath(clone.data_dir)
        )
    assert {r["meter_id"] for r in clone.read(spark).collect()} == set(
        range(60)
    )


def test_shallow_clone_refuses_nonempty_target_and_empty_source(
    spark, tmp_path
):
    src = manifest.ManifestTable(str(tmp_path / "src"))
    with pytest.raises(ValueError, match="empty table"):
        shallow_clone(src, str(tmp_path / "c0"))
    src.idempotent_append(spark, _valid_batch(spark, 0, 10))
    tgt = manifest.ManifestTable(str(tmp_path / "c1"))
    tgt.idempotent_append(spark, _valid_batch(spark, 0, 5))
    with pytest.raises(ValueError, match="not empty"):
        shallow_clone(src, str(tmp_path / "c1"))


def test_upsert_never_prunes_by_non_pk_stats_or_bloom(spark, tmp_path):
    """Round-9 soundness fix: mutation file-skipping may use only
    MATCH-KEY columns. A non-PK stats/bloom column's value can change
    across a restatement; pruning by the batch's NEW value range used
    to skip the file holding the stale OLD row, resurrecting it next
    to its replacement (duplicate PK — reproduced before the fix)."""
    import datetime as dt

    def mk(rows):
        return spark.createDataFrame(
            rows, "reading_timestamp timestamp, meter_id bigint, v bigint"
        )

    base = dt.datetime(2024, 1, 1)
    for kwargs in (
        {"stats_columns": ["v"]},
        {"bloom_columns": ["v"]},
    ):
        t = manifest.ManifestTable(
            str(tmp_path / f"t_{'_'.join(kwargs)}"), **kwargs
        )
        t.idempotent_append(
            spark,
            mk(
                [
                    (base + dt.timedelta(minutes=i), i, 10 + i)
                    for i in range(5)
                ]
            ).repartition(1),
        )
        t.idempotent_append(
            spark,
            mk(
                [
                    (base + dt.timedelta(minutes=10 + i), 100 + i, 1000 + i)
                    for i in range(5)
                ]
            ).repartition(1),
        )
        # restate a low-v row with a v far outside its file's range
        res = upsert(t, spark, mk([(base, 0, 5000)]))
        assert res == {"updated": 1, "inserted": 0}, kwargs
        df = t.read(spark)
        assert df.count() == 10, kwargs
        dup = (
            df.groupBy("reading_timestamp", "meter_id")
            .count()
            .filter("count > 1")
            .count()
        )
        assert dup == 0, kwargs
        assert [r["v"] for r in df.filter("meter_id = 0").collect()] == [
            5000
        ], kwargs


def test_table_config_persists_across_bare_reopen(spark, tmp_path):
    """stats/bloom columns and CHECK constraints are table properties:
    configured once, a bare ManifestTable(dir) reopen (a maintenance
    job, the CLI) must inherit them — and an explicit re-configure
    replaces them (ALTER TABLE SET semantics)."""
    tdir = str(tmp_path / "cfg")
    t = manifest.ManifestTable(
        tdir,
        stats_columns=["meter_id", "reading_consumption_milliwatts"],
        bloom_columns=["meter_id"],
        constraints=[{"kind": "not_null", "column": "meter_id"}],
    )
    t.idempotent_append(spark, _valid_batch(spark, 1, 11))

    bare = manifest.ManifestTable(tdir)
    assert bare.stats_columns == [
        "meter_id",
        "reading_consumption_milliwatts",
    ]
    assert bare.bloom_columns == ["meter_id"]
    assert bare.constraints == [{"kind": "not_null", "column": "meter_id"}]

    # explicit reconfigure wins and persists
    manifest.ManifestTable(tdir, stats_columns=["meter_id"])
    assert manifest.ManifestTable(tdir).stats_columns == ["meter_id"]


def test_timestamp_stats_prune_time_sliced_mutations(spark, tmp_path):
    """Round 9: per-file TIMESTAMP stats (UTC epoch micros) — a
    mutation targeting one time slice must rewrite only that slice's
    files even when every file shares the same meter range (where
    meter-only stats cannot prune at all)."""
    import datetime as dt

    def mk(day_hour, lo, hi):
        rows = [
            (dt.datetime(2024, 3, 1, day_hour, i), i, 7.0)
            for i in range(lo, hi)
        ]
        return spark.createDataFrame(
            rows, "reading_timestamp timestamp, meter_id bigint, v double"
        ).repartition(1)

    # same meters in both files -> meter stats are useless here
    t_ts = manifest.ManifestTable(
        str(tmp_path / "t_ts"),
        stats_columns=["meter_id", "reading_timestamp"],
    )
    t_ts.idempotent_append(spark, mk(10, 1, 21))
    t_ts.idempotent_append(spark, mk(11, 1, 21))
    stats = t_ts.snapshot()[-1]["stats"]
    assert all("reading_timestamp" in s for s in stats.values())

    # the prune itself: the hour-11 key range must drop the hour-10
    # file from the CANDIDATE SCAN (the rewrite set was always exact
    # via the semi-join; stats save the scan). meter ranges are
    # identical across files, so only the timestamp stats can prune.
    import datetime as dt2

    commits = t_ts.snapshot()
    files = t_ts._files(commits)
    assert len(files) == 2
    ranges = {
        "meter_id": (1, 5),
        "reading_timestamp": (
            dt2.datetime(2024, 3, 1, 11, 1),
            dt2.datetime(2024, 3, 1, 11, 5),
        ),
    }
    assert len(_prune_by_stats(t_ts, files, commits, ranges)) == 1
    # meter-only ranges keep both files (identical meter spans)
    assert (
        len(_prune_by_stats(t_ts, files, commits, {"meter_id": (1, 5)}))
        == 2
    )

    # end to end: the time-sliced delete is correct and exact
    doomed = mk(11, 1, 6).select("reading_timestamp", "meter_id")
    assert delete_keys(t_ts, spark, doomed) == 5
    assert len(t_ts.snapshot()[-1]["removed"]) == 1
    assert t_ts.read(spark).count() == 35


def test_batch_key_ranges_timestamp_is_tz_independent(spark):
    """ADVICE r10 (high): mutation-prune batch ranges must be computed
    ENGINE-SIDE as UTC epoch micros. A collected TimestampType value
    arrives as a NAIVE datetime in the DRIVER'S LOCAL timezone
    (TimestampType.fromInternal -> datetime.fromtimestamp), so the old
    collect-then-assume-UTC path shifted the prune window by the UTC
    offset on a non-UTC host — skipping files that still held stale
    rows (duplicate-PK resurrection, same class as the round-9 non-pk
    fix). Pin: _batch_key_ranges returns exact INT epoch micros and is
    unchanged when the process timezone is forced 14h off UTC."""
    import datetime as dt
    import time

    # instants defined by the SESSION timezone (UTC), not by any
    # driver-side Python conversion
    keys = spark.sql(
        "SELECT to_timestamp('2024-03-01 10:30:00') AS reading_timestamp,"
        " CAST(1 AS BIGINT) AS meter_id"
        " UNION ALL"
        " SELECT to_timestamp('2024-03-01 11:45:00'), CAST(2 AS BIGINT)"
    )
    want_lo = int(
        dt.datetime(
            2024, 3, 1, 10, 30, tzinfo=dt.timezone.utc
        ).timestamp()
        * 1_000_000
    )
    want_hi = int(
        dt.datetime(
            2024, 3, 1, 11, 45, tzinfo=dt.timezone.utc
        ).timestamp()
        * 1_000_000
    )

    def ranges():
        return _batch_key_ranges(
            keys, ["reading_timestamp", "meter_id"]
        )

    old_tz = os.environ.get("TZ")
    try:
        r = ranges()
        assert r["reading_timestamp"] == (want_lo, want_hi)
        assert all(isinstance(v, int) for v in r["reading_timestamp"])
        assert r["meter_id"] == (1, 2)
        # force the driver 14 hours east of UTC: engine-side epoch
        # micros must not move (the pre-fix path shifts by 14h here)
        os.environ["TZ"] = "Pacific/Kiritimati"
        time.tzset()
        assert ranges()["reading_timestamp"] == (want_lo, want_hi)
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def _skip_table(spark, tmp_path, stats_cols):
    """16 single-file appends with disjoint meter ranges [i*10, i*10+10)."""
    import datetime as dt

    t = manifest.ManifestTable(
        str(tmp_path / "skip_tbl"), stats_columns=stats_cols
    )
    for i in range(16):
        rows = [
            (
                dt.datetime(2024, 3, 1, i, m, 0),
                i * 10 + m,
                float(i),
            )
            for m in range(10)
        ]
        df = spark.createDataFrame(
            rows, "reading_timestamp timestamp, meter_id bigint, v double"
        ).repartition(1)
        t.idempotent_append(spark, df)
    return t


@pytest.mark.slow
def test_read_where_skips_files_and_matches_filter(spark, tmp_path):
    """Zone-map skipping on the READ path: disjoint per-file meter
    ranges must let a narrow range read open only its files, and the
    result must equal the unpruned filter row-for-row. Timestamp
    ranges prune through the epoch-micros stats the same way."""
    t = _skip_table(spark, tmp_path, ["meter_id", "reading_timestamp"])
    rep = skipping_report(t, {"meter_id": (25, 44)})
    assert rep == {"files_live": 16, "files_read": 3, "files_skipped": 13}
    got = read_where(t, spark, where={"meter_id": (25, 44)})
    want = t.read(spark).filter("meter_id BETWEEN 25 AND 44")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # timestamp range: hours 3-5 live in exactly three files
    import datetime as dt

    lo, hi = dt.datetime(2024, 3, 1, 3), dt.datetime(2024, 3, 1, 5, 59)
    rep_ts = skipping_report(t, {"reading_timestamp": (lo, hi)})
    assert rep_ts["files_read"] == 3
    assert read_where(
        t, spark, where={"reading_timestamp": (lo, hi)}
    ).count() == 30
    # open-ended bound still prunes on its bounded side
    rep_open = skipping_report(t, {"meter_id": (140, None)})
    assert rep_open["files_read"] == 2
    assert read_where(t, spark, where={"meter_id": (140, None)}).count() == 20
    # pruned-to-empty returns an EMPTY frame, not None
    empty = read_where(t, spark, where={"meter_id": (10_000, 20_000)})
    assert empty is not None and empty.count() == 0
    assert set(empty.columns) == {
        "reading_timestamp",
        "meter_id",
        "v",
    }


@pytest.mark.slow
def test_read_where_non_stats_column_filters_but_keeps_all_files(spark, tmp_path):
    """A `where` column without recorded stats must keep every file —
    the row filter alone provides the semantics (skipping is an
    optimization, never the correctness filter)."""
    t = _skip_table(spark, tmp_path, ["meter_id"])
    # v has no stats records: zero pruning, still filtered
    rep = skipping_report(t, {"v": (3, 3)})
    assert rep["files_read"] == rep["files_live"] == 16
    assert read_where(t, spark, where={"v": (3, 3)}).count() == 10
    # combined: the stats column prunes, the stats-free one filters
    got = read_where(t, spark, where={"meter_id": (25, 44), "v": (3, 3)})
    assert got.count() == 10
    assert skipping_report(
        t,
        {"meter_id": (25, 44), "v": (3, 3)}
    )["files_read"] == 3


def test_cow_mutations_on_dateless_tables(spark, tmp_path):
    """upsert / delete_where on a table WITHOUT
    reading_timestamp: the stage-stats aggregation must not assume
    the date column exists (round-12 latent bug — found by the text
    index's docs table, which is (doc_id, text))."""
    from pyspark.sql import functions as F

    t = manifest.ManifestTable(
        str(tmp_path / "dateless"), stats_columns=["k"]
    )
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.idempotent_append(spark, df, pk=["k"])
    up = df.filter("k < 10").withColumn("v", F.col("v") + 1000)
    upsert(t, spark, up, pk=["k"])
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got[0] == 1000 and got[50] == 100 and len(got) == 100
    rep = delete_where(t, spark, "k", lo=90)
    assert rep["rows_deleted"] == 10
    assert t.read(spark).count() == 90


def test_string_zone_maps_prune_and_stay_exact(spark, tmp_path):
    """Round 12: STRING stats columns record per-file UTF-8 min/max,
    so a range-clustered string column zone-map-prunes both
    ``where_in`` point sets and ``where`` ranges, and the pruned read
    always equals the plain filter. Mixed-type comparisons (string
    record vs numeric sentinel) must keep the file, never raise."""
    import datetime as dt

    t = manifest.ManifestTable(
        str(tmp_path / "str_tbl"), stats_columns=["code", "meter_id"]
    )
    from pyspark.sql import functions as F

    df = spark.range(800).select(
        F.col("id").alias("meter_id"),
        F.expr(
            "timestampadd(MINUTE, CAST(id AS INT),"
            " timestamp'2024-03-01 00:00:00')"
        ).alias("reading_timestamp"),
        F.concat(
            F.lit("AC"), F.lpad(F.col("id").cast("string"), 5, "0")
        ).alias("code"),
    )
    t.idempotent_append(
        spark, df, pk=["meter_id"], cluster_by=["code"],
        cluster_partitions=8,
    )
    rep = skipping_report(t, where_in={"code": ["AC00017", "AC00091"]})
    assert rep["files_live"] == 8
    assert rep["files_read"] < 8
    got = read_where(t, spark, where_in={"code": ["AC00017", "AC00091"]})
    assert sorted(r.code for r in got.collect()) == [
        "AC00017", "AC00091",
    ]
    # string RANGE predicate prunes too, result equals plain filter
    rng = read_where(t, spark, where={"code": ("AC00700", "AC00710")})
    assert rng.count() == 11
    rep2 = skipping_report(t, where={"code": ("AC00700", "AC00710")})
    assert 0 < rep2["files_read"] < 8
    # open-ended string bound: numeric sentinel is type-incompatible
    # with the string record — no pruning, correct rows, no raise
    half = read_where(t, spark, where={"code": ("AC00400", None)})
    assert half.count() == 400
    # delete_where on string bounds: clean error, not a TypeError
    with pytest.raises(ValueError, match="delete_where bounds"):
        delete_where(t, spark, "code", lo="AC00100")
    # numeric retention on a table CARRYING string stats still works
    rep3 = delete_where(t, spark, "meter_id", hi=99)
    assert rep3["rows_deleted"] == 100
    assert t.read(spark).count() == 700


@pytest.mark.slow
def test_read_where_in_bloom_point_lookup(spark, tmp_path):
    """Bloom point-lookup on the READ path: hash-sharded files whose
    meter ranges all overlap (zone maps keep everything) but whose
    memberships are disjoint (blooms keep only the matching shards)."""
    import datetime as dt

    t = manifest.ManifestTable(
        str(tmp_path / "bl_tbl"),
        stats_columns=["meter_id"],
        bloom_columns=["meter_id"],
    )
    for shard in range(8):
        rows = [
            (dt.datetime(2024, 3, 1, 0, m, 0), m * 8 + shard, 1.0)
            for m in range(20)
        ]
        df = spark.createDataFrame(
            rows, "reading_timestamp timestamp, meter_id bigint, v double"
        ).repartition(1)
        t.idempotent_append(spark, df)
    # zone maps: overlapping ranges keep all 8 files
    assert skipping_report(t, where={"meter_id": (3, 30)})[
        "files_read"
    ] == 8
    # blooms: {3, 30} lives in shards 3 and 6 only
    rep = skipping_report(t, where_in={"meter_id": [3, 30]})
    assert rep == {"files_live": 8, "files_read": 2, "files_skipped": 6}
    got = read_where(t, spark, where_in={"meter_id": [3, 30]})
    want = t.read(spark).filter("meter_id IN (3, 30)")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # combined range + point set composes; empty IN-list reads nothing
    both = read_where(
        t,
        spark,
        where={"reading_timestamp": (dt.datetime(2024, 3, 1), None)},
        where_in={"meter_id": [3]},
    )
    assert both.count() == 1
    assert read_where(t, spark, where_in={"meter_id": []}).count() == 0
    # a value absent everywhere: blooms prune every file, empty frame
    rep_none = skipping_report(t, where_in={"meter_id": [10_000]})
    assert rep_none["files_read"] == 0
    assert read_where(t, spark, where_in={"meter_id": [10_000]}).count() == 0


@pytest.mark.slow
def test_delete_where_drops_whole_files_metadata_only(spark, tmp_path):
    """Range retention DELETE: fully-covered null-free files drop by
    metadata alone, the straddler rewrites, disjoint files are
    untouched, reads/time-travel/row counts all line up."""
    import datetime as dt

    t = manifest.ManifestTable(str(tmp_path / "ret_tbl"))
    for h in range(8):
        rows = [
            (dt.datetime(2024, 3, 1, h, m, 0), h * 100 + m, 1.0)
            for m in range(30)
        ]
        t.idempotent_append(
            spark,
            spark.createDataFrame(
                rows,
                "reading_timestamp timestamp, meter_id bigint, v double",
            ).repartition(1),
        )
    live_before = set(t._files(t.snapshot()))
    # delete everything before 03:15 — hours 0-2 fully covered,
    # hour 3 straddles, hours 4-7 disjoint
    res = delete_where(
        t,
        spark,
        "reading_timestamp",
        hi=dt.datetime(2024, 3, 1, 3, 14, 59),
    )
    assert res == {
        "files_dropped": 3,
        "files_rewritten": 1,
        "rows_deleted": 3 * 30 + 15,
    }
    df = t.read(spark)
    assert df.count() == 8 * 30 - res["rows_deleted"]
    assert df.filter(
        "reading_timestamp < timestamp'2024-03-01 03:15:00'"
    ).count() == 0
    # untouched files are literally the same paths (no rewrite)
    live_after = set(t._files(t.snapshot()))
    assert len(live_before & live_after) == 4
    # time travel still sees the pre-delete rows
    assert read_as_of(t, spark, version=7).count() == 240
    # no-op delete commits nothing
    n_commits = len(t.snapshot())
    assert delete_where(
        t, spark, "meter_id", lo=10_000
    ) == {"files_dropped": 0, "files_rewritten": 0, "rows_deleted": 0}
    assert len(t.snapshot()) == n_commits


def test_delete_where_stats_first_zero_driver_footer_io(
    spark, tmp_path, monkeypatch
):
    """When the commit log's recorded stats cover the DELETE column
    (min/max + null count + row count — every commit since round 11),
    delete_where classifies every file from the LOG: zero driver-side
    parquet-footer reads. Pinned by making pq.read_metadata raise in
    the driver process — the distributed fallback's executor workers
    import pyarrow fresh and are unaffected, so a failure here means
    the driver loop came back."""
    import datetime as dt

    import pyarrow.parquet as pq

    t = manifest.ManifestTable(
        str(tmp_path / "sf_tbl"),
        stats_columns=["meter_id", "reading_timestamp"],
    )
    for h in range(4):
        rows = [
            (dt.datetime(2024, 3, 1, h, m, 0), h * 100 + m, 1.0)
            for m in range(10)
        ]
        t.idempotent_append(
            spark,
            spark.createDataFrame(
                rows,
                "reading_timestamp timestamp, meter_id bigint, v double",
            ).repartition(1),
        )

    def boom(*a, **kw):
        raise AssertionError(
            "driver-side parquet footer read during stats-covered "
            "delete_where classification"
        )

    monkeypatch.setattr(pq, "read_metadata", boom)
    res = delete_where(
        t,
        spark,
        "reading_timestamp",
        hi=dt.datetime(2024, 3, 1, 1, 59, 59),
    )
    # classification AND the drop-only commit are metadata-only: two
    # whole-file drops, no rewrite, no footer ever opened driver-side
    assert res == {
        "files_dropped": 2,
        "files_rewritten": 0,
        "rows_deleted": 20,
    }
    monkeypatch.undo()
    assert t.read(spark).count() == 20


@pytest.mark.slow
def test_delete_where_statless_column_falls_back_distributed(
    spark, tmp_path, monkeypatch
):
    """A column OUTSIDE stats_columns still classifies correctly via
    the distributed footer fallback — and that fallback never runs a
    footer read in the DRIVER process (the Spark job's workers do)."""
    import datetime as dt

    import pyarrow.parquet as pq

    t = manifest.ManifestTable(str(tmp_path / "fb_tbl"))
    for k in range(3):
        rows = [
            (dt.datetime(2024, 3, 1, k, m, 0), m, k * 100 + m)
            for m in range(10)
        ]
        t.idempotent_append(
            spark,
            spark.createDataFrame(
                rows,
                "reading_timestamp timestamp, meter_id bigint, v bigint",
            ).repartition(1),
        )

    real = pq.read_metadata

    def guarded(*a, **kw):
        raise AssertionError(
            "driver-side parquet footer read in delete_where fallback"
        )

    monkeypatch.setattr(pq, "read_metadata", guarded)
    res = delete_where(t, spark, "v", hi=99)
    monkeypatch.setattr(pq, "read_metadata", real)
    # file k=0 (v 0..9) drops whole; k=1 (100..109), k=2 disjoint
    assert res == {
        "files_dropped": 1,
        "files_rewritten": 0,
        "rows_deleted": 10,
    }
    assert t.read(spark).count() == 20


def test_delete_where_missing_live_file_fails_fast(spark, tmp_path):
    """A live commit-log file missing on disk is table corruption —
    delete_where raises the explicit integrity error instead of
    queueing the path for a rewrite read that dies with an opaque
    PATH_NOT_FOUND."""
    import datetime as dt

    t = manifest.ManifestTable(str(tmp_path / "corrupt_tbl"))
    rows = [(dt.datetime(2024, 3, 1, 0, m, 0), m, 1.0) for m in range(5)]
    t.idempotent_append(
        spark,
        spark.createDataFrame(
            rows,
            "reading_timestamp timestamp, meter_id bigint, v double",
        ).repartition(1),
    )
    victim = t._files(t.snapshot())[0]
    os.unlink(victim)
    with pytest.raises(FileNotFoundError, match="live file missing"):
        delete_where(t, spark, "meter_id", hi=100)


def test_delete_where_null_rows_survive(spark, tmp_path):
    """SQL DELETE three-valued WHERE: NULL column values never match —
    a value-range-covered file holding NULLs must REWRITE (not drop)
    and keep its NULL rows."""
    import datetime as dt

    t = manifest.ManifestTable(str(tmp_path / "null_tbl"))
    rows = [
        (dt.datetime(2024, 3, 1, 0, m, 0), m, None if m % 5 == 0 else m * 10)
        for m in range(20)
    ]
    t.idempotent_append(
        spark,
        spark.createDataFrame(
            rows,
            "reading_timestamp timestamp, meter_id bigint, v bigint",
        ).repartition(1),
    )
    res = delete_where(t, spark, "v", lo=0, hi=1000)
    assert res["files_dropped"] == 0 and res["files_rewritten"] == 1
    assert res["rows_deleted"] == 16
    left = t.read(spark)
    assert left.count() == 4
    assert left.filter("v IS NULL").count() == 4


@pytest.mark.slow
def test_delete_where_guards_and_race(spark, tmp_path):
    """A competing append between listing and publish forces a clean
    retry that still lands."""
    import datetime as dt

    rows = [
        (dt.datetime(2024, 3, 1, 0, m, 0), m, 1.0) for m in range(40)
    ]
    df = spark.createDataFrame(
        rows, "reading_timestamp timestamp, meter_id bigint, v double"
    )
    t = manifest.ManifestTable(str(tmp_path / "race_tbl"))
    t.idempotent_append(spark, df)

    competing = spark.createDataFrame(
        [(dt.datetime(2024, 3, 2), 900, 1.0)],
        "reading_timestamp timestamp, meter_id bigint, v double",
    )
    fired = {"n": 0}

    def hook():
        if fired["n"] == 0:
            fired["n"] = 1
            manifest.ManifestTable(t.table_dir).idempotent_append(
                spark, competing
            )

    t._pre_publish_hook = hook
    try:
        res = delete_where(t, spark, "meter_id", lo=0, hi=9)
    finally:
        t._pre_publish_hook = None
    assert res["rows_deleted"] == 10
    got = t.read(spark)
    assert got.filter("meter_id <= 9").count() == 0
    assert got.filter("meter_id = 900").count() == 1


@pytest.mark.slow
def test_alter_drop_column_metadata_only(spark, tmp_path):
    """ALTER TABLE DROP COLUMN: marker-commit drop, time travel keeps
    the column, same-type re-add works, type-changing re-add and
    load-bearing-column drops are rejected, drop survives log
    compaction."""
    import datetime as dt

    rows = [(dt.datetime(2024, 3, 1, 0, m, 0), m, float(m)) for m in range(20)]
    df = spark.createDataFrame(
        rows, "reading_timestamp timestamp, meter_id bigint, v double"
    )
    t = manifest.ManifestTable(str(tmp_path / "drop_tbl"))
    t.idempotent_append(spark, df)
    v_pre = len(t.snapshot()) - 1
    files_before = set(t._files(t.snapshot()))
    alter_drop_column(t, "v")
    # metadata-only: same data files, column gone from reads
    assert set(t._files(t.snapshot())) == files_before
    assert "v" not in t.read(spark).columns
    assert t.read(spark).count() == 20
    # time travel still sees it
    assert "v" in read_as_of(t, spark, version=v_pre).columns
    # guards
    with pytest.raises(ValueError, match="pk column"):
        alter_drop_column(t, "meter_id")
    with pytest.raises(ValueError, match="does not exist"):
        alter_drop_column(t, "nope")
    # type-changing re-add rejected; same-type re-add works
    bad = spark.createDataFrame(
        [(dt.datetime(2024, 3, 2), 100, "s")],
        "reading_timestamp timestamp, meter_id bigint, v string",
    )
    with pytest.raises(ValueError, match="ALTER-dropped"):
        t.idempotent_append(spark, bad)
    good = spark.createDataFrame(
        [(dt.datetime(2024, 3, 2), 100, 7.0)],
        "reading_timestamp timestamp, meter_id bigint, v double",
    )
    t.idempotent_append(spark, good)
    got = t.read(spark)
    assert "v" in got.columns
    # pre-drop files read v as NULL under the re-added schema? No —
    # additive evolution re-selects the column, and the bytes are
    # still there: original values come back (rename-free drop is a
    # soft delete until files rewrite)
    assert got.filter("v IS NOT NULL").count() == 21
    # drop again, compact, guard still enforced post-compaction
    alter_drop_column(t, "v")
    assert manifest.compact_log(t, keep_last=1) > 0
    assert "v" not in t.read(spark).columns
    with pytest.raises(ValueError, match="ALTER-dropped"):
        t.idempotent_append(spark, bad)


def test_vacuum_dry_run_lists_without_deleting(spark, tmp_path):
    import datetime as dt

    t = manifest.ManifestTable(str(tmp_path / "vac_tbl"))
    df = spark.createDataFrame(
        [(dt.datetime(2024, 3, 1), 1, 1.0)],
        "reading_timestamp timestamp, meter_id bigint, v double",
    )
    t.idempotent_append(spark, df)
    upsert(t, spark, df.withColumn("v", df.v + 1))
    upsert(t, spark, df.withColumn("v", df.v + 2))
    assert manifest.compact_log(t, keep_last=1) == 2
    would = vacuum_unreferenced(t, ttl_s=0.0, dry_run=True)
    assert isinstance(would, list) and len(would) >= 1
    # nothing deleted
    assert all(
        os.path.exists(os.path.join(t.data_dir, rel)) for rel in would
    )
    swept = vacuum_unreferenced(t, ttl_s=0.0)
    assert swept == len(would)
    assert not any(
        os.path.exists(os.path.join(t.data_dir, rel)) for rel in would
    )
    assert t.read(spark).count() == 1


@pytest.mark.slow
def test_manifest_cdc_starting_version(spark, tmp_path):
    """manifest_cdc startingVersion: a consumer attaching at commit N
    streams only commits >= N (no history backfill)."""
    import datetime as dt

    from smart_meter_data_pipeline_spark.sources.manifest_cdc_source import (
        make_manifest_cdc_datasource,
    )

    spark.dataSource.register(make_manifest_cdc_datasource())
    t = manifest.ManifestTable(str(tmp_path / "cdc_tbl"))

    def mk(lo, hi):
        return spark.createDataFrame(
            [
                (dt.datetime(2024, 3, 1, 0, i, 0), i, 1.0)
                for i in range(lo, hi)
            ],
            "reading_timestamp timestamp, meter_id bigint, v double",
        )

    t.idempotent_append(spark, mk(0, 10))
    t.idempotent_append(spark, mk(10, 25))
    sink = str(tmp_path / "sink")
    q = (
        spark.readStream.format("manifest_cdc")
        .option("path", t.table_dir)
        .option("startingVersion", "1")
        .load()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.parquet(sink)
    assert out.count() == 15
    assert out.agg({"meter_id": "min"}).collect()[0][0] == 10


def test_dateless_dimension_table_append_roundtrip(spark, tmp_path):
    """Dimension tables (no reading_timestamp) go through the same
    idempotent-append protocol: validation anti-joins against ALL
    files (no date pruning to mis-skip), re-delivery is a no-op, and
    the commit simply records no dates."""
    t = manifest.ManifestTable(str(tmp_path / "dim_tbl"))
    dim = spark.createDataFrame(
        [(i, f"zone-{i % 4}") for i in range(50)],
        "meter_id bigint, zone string",
    )
    assert t.idempotent_append(spark, dim, pk=["meter_id"]) == 50
    # exact redelivery: fully duplicate
    assert t.idempotent_append(spark, dim, pk=["meter_id"]) == 0
    # partial overlap: only the new keys land
    more = spark.createDataFrame(
        [(i, "z") for i in range(40, 60)], "meter_id bigint, zone string"
    )
    assert t.idempotent_append(spark, more, pk=["meter_id"]) == 10
    got = t.read(spark)
    assert got.count() == 60
    assert t.snapshot()[0]["dates"] == []


def test_schema_history_tracks_adds_and_drops(spark, tmp_path):
    import datetime as dt

    t = manifest.ManifestTable(str(tmp_path / "sh_tbl"))
    base = spark.createDataFrame(
        [(dt.datetime(2024, 3, 1), 1, 1.0)],
        "reading_timestamp timestamp, meter_id bigint, v double",
    )
    t.idempotent_append(spark, base)
    t.idempotent_append(
        spark,
        spark.createDataFrame(
            [(dt.datetime(2024, 3, 2), 2, 2.0, "x")],
            "reading_timestamp timestamp, meter_id bigint,"
            " v double, note string",
        ),
    )
    alter_drop_column(t, "v")
    hist = schema_history(t)
    assert hist == [
        {
            "version": 0,
            "added_columns": ["meter_id", "reading_timestamp", "v"],
            "dropped_columns": [],
        },
        {"version": 1, "added_columns": ["note"], "dropped_columns": []},
        {"version": 2, "added_columns": [], "dropped_columns": ["v"]},
    ]


def test_double_column_stats_enable_read_skipping_and_retention(
    spark, tmp_path
):
    """Round 10: parquet footers carry exact double min/max, so zone
    maps and whole-file retention drops work on MEASURE columns too
    (previously int/timestamp only)."""
    import datetime as dt

    t = manifest.ManifestTable(
        str(tmp_path / "dbl_tbl"), stats_columns=["v"]
    )
    for i in range(4):
        rows = [
            (dt.datetime(2024, 3, 1, i, m, 0), i * 10 + m, i * 100.0 + m)
            for m in range(10)
        ]
        t.idempotent_append(
            spark,
            spark.createDataFrame(
                rows,
                "reading_timestamp timestamp, meter_id bigint, v double",
            ).repartition(1),
        )
    # zone maps on the double column: files are value-disjoint
    rep = skipping_report(t, where={"v": (100.0, 199.0)})
    assert rep == {"files_live": 4, "files_read": 1, "files_skipped": 3}
    got = read_where(t, spark, where={"v": (100.0, 199.0)})
    assert got.count() == 10
    # retention DELETE drops the fully-covered double-range file whole
    res = delete_where(t, spark, "v", lo=0.0, hi=105.5)
    assert res == {
        "files_dropped": 1,
        "files_rewritten": 1,
        "rows_deleted": 16,
    }
    assert t.read(spark).count() == 24


def test_manifest_cdc_streams_evolved_schema(spark, tmp_path):
    """manifest_cdc under schema evolution: pre-evolution files stream
    the later column as NULL, and an ALTER-dropped column leaves the
    stream schema entirely."""
    import datetime as dt

    from smart_meter_data_pipeline_spark.sources.manifest_cdc_source import (
        make_manifest_cdc_datasource,
    )

    spark.dataSource.register(make_manifest_cdc_datasource())
    t = manifest.ManifestTable(str(tmp_path / "cdc_ev"))
    t.idempotent_append(
        spark,
        spark.createDataFrame(
            [(dt.datetime(2024, 3, 1), 1, 1.0)],
            "reading_timestamp timestamp, meter_id bigint, v double",
        ),
    )
    t.idempotent_append(
        spark,
        spark.createDataFrame(
            [(dt.datetime(2024, 3, 2), 2, 2.0, "n2")],
            "reading_timestamp timestamp, meter_id bigint,"
            " v double, note string",
        ),
    )
    alter_drop_column(t, "v")

    sink = str(tmp_path / "sink")
    q = (
        spark.readStream.format("manifest_cdc")
        .option("path", t.table_dir)
        .load()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.parquet(sink)
    assert set(out.columns) == {"reading_timestamp", "meter_id", "note"}
    rows = {r["meter_id"]: r["note"] for r in out.collect()}
    assert rows == {1: None, 2: "n2"}


@pytest.mark.slow
def test_read_skipping_survives_compaction_and_optimize(spark, tmp_path):
    """Zone maps must keep working across the maintenance lifecycle:
    log compaction carries per-file stats for surviving files, and an
    OPTIMIZE (ZORDER) rewrite records fresh stats for the packed
    files — read(where=) skips correctly before and after both."""
    import datetime as dt

    from smart_meter_data_pipeline_spark.sources.manifest import compact_log
    from smart_meter_data_pipeline_spark.sources.manifest_services import (
        optimize_table,
    )
    from smart_meter_data_pipeline_spark.sources.manifest_skipping import (
        read_where,
        skipping_report,
    )

    t = manifest.ManifestTable(
        str(tmp_path / "life_tbl"), stats_columns=["meter_id"]
    )
    for i in range(8):
        rows = [
            (dt.datetime(2024, 3, 1, i, m, 0), i * 10 + m, 1.0)
            for m in range(10)
        ]
        t.idempotent_append(
            spark,
            spark.createDataFrame(
                rows,
                "reading_timestamp timestamp, meter_id bigint, v double",
            ).repartition(1),
        )
    where = {"meter_id": (25, 44)}
    assert skipping_report(t, where)["files_read"] == 3
    assert compact_log(t, keep_last=2) == 6
    rep = skipping_report(t, where)
    assert rep["files_read"] == 3, rep  # stats survived the merge
    assert read_where(t, spark, where=where).count() == 20
    optimize_table(
        t, spark, target_partitions=4, cluster_by=["meter_id"]
    )
    rep2 = skipping_report(t, where)
    assert rep2["files_live"] == 4 and rep2["files_read"] <= 2, rep2
    assert read_where(t, spark, where=where).count() == 20


def test_upsert_partial_carries_forward_unspecified_columns(spark, tmp_path):
    """Partial-column MERGE: matched rows keep their unspecified
    columns from the current image, new keys get NULL there, and the
    plain upsert still rejects the same partial batch loudly."""
    import datetime as dt

    t = manifest.ManifestTable(str(tmp_path / "up_tbl"))
    base = spark.createDataFrame(
        [
            (dt.datetime(2024, 3, 1, 0, m, 0), m, float(m), f"tag{m}")
            for m in range(10)
        ],
        "reading_timestamp timestamp, meter_id bigint,"
        " v double, tag string",
    )
    t.idempotent_append(spark, base)
    partial = spark.createDataFrame(
        [
            (dt.datetime(2024, 3, 1, 0, 3, 0), 3, 999.0),   # restate
            (dt.datetime(2024, 3, 1, 0, 30, 0), 30, 30.0),  # new key
        ],
        "reading_timestamp timestamp, meter_id bigint, v double",
    )
    with pytest.raises(ValueError, match="missing table columns"):
        upsert(t, spark, partial)
    res = upsert_partial(t, spark, partial)
    assert res == {"updated": 1, "inserted": 1}
    got = {r["meter_id"]: (r["v"], r["tag"]) for r in t.read(spark).collect()}
    assert got[3] == (999.0, "tag3")   # v updated, tag carried forward
    assert got[30] == (30.0, None)     # new key: no tag to carry
    assert got[5] == (5.0, "tag5")     # untouched rows intact
    assert len(got) == 11
    # full-column batches route straight through the plain upsert
    full = spark.createDataFrame(
        [(dt.datetime(2024, 3, 1, 0, 5, 0), 5, 50.0, "newtag")],
        "reading_timestamp timestamp, meter_id bigint,"
        " v double, tag string",
    )
    assert upsert_partial(t, spark, full) == {"updated": 1, "inserted": 0}
    assert t.read(spark).filter("meter_id = 5").collect()[0]["tag"] == "newtag"


def test_upsert_if_newer_drops_stale_rows(spark, tmp_path):
    """Ordering-guarded MERGE: a late/replayed batch never regresses a
    row holding newer data; genuinely newer rows and new keys land;
    ties update (idempotent replay)."""
    import datetime as dt

    t = manifest.ManifestTable(str(tmp_path / "new_tbl"))
    pk = ["meter_id"]
    t.idempotent_append(
        spark,
        spark.createDataFrame(
            [
                (dt.datetime(2024, 3, 1, 0, m, 0), m, 10.0 * m)
                for m in range(5)
            ],
            "reading_timestamp timestamp, meter_id bigint, v double",
        ),
        pk=pk,
    )
    late = spark.createDataFrame(
        [
            # STALE: older ts than the current row for meter 1
            (dt.datetime(2024, 2, 1), 1, -1.0),
            # NEWER: must update meter 2
            (dt.datetime(2024, 3, 5), 2, 222.0),
            # TIE: same ts as current meter 3 — updates
            (dt.datetime(2024, 3, 1, 0, 3, 0), 3, 333.0),
            # NEW key
            (dt.datetime(2024, 3, 9), 9, 999.0),
        ],
        "reading_timestamp timestamp, meter_id bigint, v double",
    )
    res = upsert_if_newer(t, spark, late, "reading_timestamp", pk=pk)
    assert res == {"updated": 2, "inserted": 1, "skipped_stale": 1}
    got = {r["meter_id"]: r["v"] for r in t.read(spark).collect()}
    assert got[1] == 10.0      # stale row dropped
    assert got[2] == 222.0     # newer row landed
    assert got[3] == 333.0     # tie updates
    assert got[9] == 999.0     # new key inserted


def test_upsert_timestamp_free_pk_never_date_prunes(spark, tmp_path):
    """Date pruning is only sound when the timestamp is part of the
    match key. Under pk=[meter_id], a restatement that MOVES a row to
    a different date must still rewrite the file holding the old row
    — a date-pruned candidate scan would miss it and duplicate the
    key (the round-9 non-pk pruning rule, applied to dates)."""
    import datetime as dt

    t = manifest.ManifestTable(str(tmp_path / "dp_tbl"))
    pk = ["meter_id"]
    t.idempotent_append(
        spark,
        spark.createDataFrame(
            [(dt.datetime(2024, 3, 1), 1, 5.0)],
            "reading_timestamp timestamp, meter_id bigint, v double",
        ),
        pk=pk,
    )
    # restate meter 1 onto a DIFFERENT calendar date
    res = upsert(
        t,
        spark,
        spark.createDataFrame(
            [(dt.datetime(2024, 4, 15), 1, 6.0)],
            "reading_timestamp timestamp, meter_id bigint, v double",
        ),
        pk=pk,
    )
    assert res == {"updated": 1, "inserted": 0}
    rows = t.read(spark).collect()
    assert len(rows) == 1
    assert rows[0]["v"] == 6.0
    assert rows[0]["reading_timestamp"] == dt.datetime(2024, 4, 15)


@pytest.mark.slow
def test_upsert_partial_reenriches_after_concurrent_write(spark, tmp_path):
    """Lost-update protection: a concurrent writer updating a
    CARRIED-FORWARD column between the enrichment read and the commit
    forces re-enrichment against the new image — the partial merge
    must not overwrite the concurrent change with pre-snapshot
    values. Deterministic via the pre-publish hook: the competing
    full upsert lands exactly between our enrichment and our
    put-if-absent, so the fence-pinned commit loses and re-derives."""
    import datetime as dt

    t = manifest.ManifestTable(str(tmp_path / "pr_tbl"))
    ts = dt.datetime(2024, 3, 1, 0, 7, 0)
    t.idempotent_append(
        spark,
        spark.createDataFrame(
            [(ts, 7, 1.0, "orig")],
            "reading_timestamp timestamp, meter_id bigint,"
            " v double, tag string",
        ),
    )
    partial = spark.createDataFrame(
        [(ts, 7, 2.0)],
        "reading_timestamp timestamp, meter_id bigint, v double",
    )
    fired = {"n": 0}

    def hook():
        if fired["n"] == 0:
            fired["n"] = 1
            upsert(
                manifest.ManifestTable(t.table_dir),
                spark,
                spark.createDataFrame(
                    [(ts, 7, 1.0, "concurrent")],
                    "reading_timestamp timestamp, meter_id bigint,"
                    " v double, tag string",
                ),
            )

    t._pre_publish_hook = hook
    try:
        res = upsert_partial(t, spark, partial)
    finally:
        t._pre_publish_hook = None
    assert fired["n"] == 1
    assert res == {"updated": 1, "inserted": 0}
    row = t.read(spark).collect()[0]
    # ours: v=2.0; theirs: tag="concurrent" — BOTH must survive
    assert (row["v"], row["tag"]) == (2.0, "concurrent")


def test_upsert_if_newer_refilters_after_concurrent_write(
    spark, tmp_path
):
    """Never-regress under multi-writer: a concurrent upsert advances
    a row's version after the staleness guard was evaluated but
    before the commit — the fence-pinned retry re-joins against the
    current image and now DROPS the batch row instead of regressing
    the concurrent writer's newer value."""
    import datetime as dt

    t = manifest.ManifestTable(str(tmp_path / "nr_tbl"))
    pk = ["meter_id"]
    t.idempotent_append(
        spark,
        spark.createDataFrame(
            [(dt.datetime(2024, 3, 1), 1, 5.0)],
            "reading_timestamp timestamp, meter_id bigint, v double",
        ),
        pk=pk,
    )
    batch = spark.createDataFrame(
        [(dt.datetime(2024, 3, 7), 1, 7.0)],
        "reading_timestamp timestamp, meter_id bigint, v double",
    )
    fired = {"n": 0}

    def hook():
        if fired["n"] == 0:
            fired["n"] = 1
            upsert(
                manifest.ManifestTable(t.table_dir),
                spark,
                spark.createDataFrame(
                    [(dt.datetime(2024, 3, 9), 1, 9.0)],
                    "reading_timestamp timestamp,"
                    " meter_id bigint, v double",
                ),
                pk=pk,
            )

    t._pre_publish_hook = hook
    try:
        res = upsert_if_newer(t, spark, batch, "reading_timestamp", pk=pk)
    finally:
        t._pre_publish_hook = None
    assert fired["n"] == 1
    # re-filter saw the concurrent 2024-03-09 row: batch row is stale
    assert res == {"updated": 0, "inserted": 0, "skipped_stale": 1}
    row = t.read(spark).collect()[0]
    assert row["v"] == 9.0
    assert row["reading_timestamp"] == dt.datetime(2024, 3, 9)


# -- distributed row numbers ---------------------------------------------


def test_identity_assignment_plan_has_no_global_window(spark, table_dir):
    """Row numbers over a batch (the kit an id assignment rides) come
    from a range partition + pid-local window, never Exchange
    SinglePartition."""
    from smart_meter_data_pipeline_spark.operators.common import (
        distributed_row_number,
    )

    import contextlib
    import io

    batch = _valid_batch(spark, 0, 50)
    df = distributed_row_number(
        batch, ["reading_timestamp", "meter_id"], "rid"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange SinglePartition" not in plan
    assert "_pfx_pid" in plan

