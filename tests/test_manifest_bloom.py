"""Per-file Bloom filter index: point-lookup file skipping on
unclustered tables where min/max stats cannot prune."""

from __future__ import annotations

import pytest

import datetime as dt

from smart_meter_data_pipeline_spark.sources.manifest import (
    ManifestTable,
    compact_log,
)
from smart_meter_data_pipeline_spark.sources.manifest_cow import delete_keys
from smart_meter_data_pipeline_spark.sources.manifest_services import (
    shallow_clone,
)
from smart_meter_data_pipeline_spark.sources.manifest_skipping import (
    _prune_by_bloom,
    _prune_by_stats,
    read_where,
    skipping_report,
)

TS = dt.datetime(2024, 1, 1)


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "reading_timestamp timestamp, meter_id bigint, v double"
    )


def _interleaved_table(spark, tmp_path, n_files=4, per_file=40):
    """Every file holds meters 0..per_file*n_files-1 STRIDED, so every
    file's [min, max] overlaps every key — range stats are useless by
    construction; only the bloom can skip."""
    t = ManifestTable(str(tmp_path / "tbl"), bloom_columns=["meter_id"])
    minute = 0
    for f in range(n_files):
        rows = []
        for j in range(per_file):
            meter = j * n_files + f  # disjoint meter sets, same range
            rows.append((TS + dt.timedelta(minutes=minute), meter, 1.0))
            minute += 1
        t.idempotent_append(spark, _mk(spark, rows).coalesce(1))
    return t


@pytest.mark.slow
def test_blooms_recorded_and_prune_point_lookups(spark, tmp_path):
    t = _interleaved_table(spark, tmp_path)
    commits = t.snapshot()
    blooms = {}
    for c in commits:
        blooms.update(c.get("blooms", {}))
    assert len(blooms) == 4
    assert all("meter_id" in b for b in blooms.values())
    files = t._files(commits)
    # stats cannot prune: every file overlaps the probe key's range
    stats_kept = _prune_by_stats(t, files, commits, {"meter_id": (4, 4)})
    assert len(stats_kept) == 4
    # meter 4 = j=1, f=0 -> lives ONLY in file 0; the bloom must keep
    # exactly the file(s) whose bitmap can contain it (>=1, and with
    # 32K bits / 160 keys, false positives are overwhelmingly unlikely
    # to keep all four)
    bloom_kept = _prune_by_bloom(t, files, commits, {"meter_id": [4]})
    assert 1 <= len(bloom_kept) < 4
    # correctness floor: the true file is never pruned
    truth = [
        f
        for f in files
        if spark.read.parquet(f).filter("meter_id = 4").count() > 0
    ]
    assert set(truth) <= set(bloom_kept)
    # unknown key: every bit test may fail -> possibly zero files kept
    kept_missing = _prune_by_bloom(
        t, files, commits, {"meter_id": [10**9 + 7]}
    )
    assert len(kept_missing) <= 1  # at most an FP


def test_bloom_pruned_cow_delete_correct_and_bounded(spark, tmp_path):
    t = _interleaved_table(spark, tmp_path)
    n_before = t.read(spark).count()
    keys = t.read(spark).filter("meter_id = 4").select(
        "reading_timestamp", "meter_id"
    )
    assert delete_keys(t, spark, keys) == 1
    assert t.read(spark).count() == n_before - 1
    assert t.read(spark).filter("meter_id = 4").count() == 0
    # the CoW commit rewrote exactly one file
    last = t.snapshot()[-1]
    assert len(last["removed"]) == 1


@pytest.mark.slow
def test_bloom_survives_compaction_and_clone(spark, tmp_path):
    t = _interleaved_table(spark, tmp_path)
    assert compact_log(t, keep_last=1) > 0
    commits = t.snapshot()
    files = t._files(commits)
    kept = _prune_by_bloom(t, files, commits, {"meter_id": [4]})
    assert 1 <= len(kept) < 4
    clone = shallow_clone(t, str(tmp_path / "clone"))
    ccommits = clone.snapshot()
    cfiles = clone._files(ccommits)
    ckept = _prune_by_bloom(clone, cfiles, ccommits, {"meter_id": [4]})
    assert 1 <= len(ckept) < 4
    assert clone.bloom_columns == ["meter_id"]


def test_bloom_off_by_default_and_optional(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "plain"))
    t.idempotent_append(
        spark, _mk(spark, [(TS, 1, 1.0), (TS + dt.timedelta(minutes=1), 2, 2.0)])
    )
    c = t.snapshot()[-1]
    assert c.get("blooms") == {}
    # pruning with no records keeps everything
    files = t._files(t.snapshot())
    assert _prune_by_bloom(t, files, t.snapshot(), {"meter_id": [1]}) == files


# ---------------------------------------------------------------------------
# Dictionary index: the string complement of the Bloom index
# ---------------------------------------------------------------------------


def _mk_str(spark, rows):
    return spark.createDataFrame(
        rows,
        "reading_timestamp timestamp, meter_id bigint, plan string",
    )


def _plan_table(spark, tmp_path, plans=("basic", "tou", "solar")):
    """One file per plan — each file's dictionary is a single value,
    so a plan point lookup can skip everything else."""
    t = ManifestTable(str(tmp_path / "dtbl"), dict_columns=["plan"])
    minute = 0
    for p in plans:
        rows = []
        for j in range(20):
            rows.append((TS + dt.timedelta(minutes=minute), minute, p))
            minute += 1
        t.idempotent_append(spark, _mk_str(spark, rows).coalesce(1))
    return t


@pytest.mark.slow
def test_dict_recorded_and_prunes_string_lookup(spark, tmp_path):
    t = _plan_table(spark, tmp_path)
    commits = t.snapshot()
    recorded = {}
    for c in commits:
        recorded.update(c.get("blooms", {}))
    assert len(recorded) == 3
    assert all(r["plan"] in (["basic"], ["tou"], ["solar"]) for r in recorded.values())
    files = t._files(commits)
    # the dictionary is EXACT membership: exactly one file survives
    kept = _prune_by_bloom(t, files, commits, {"plan": ["tou"]})
    assert len(kept) == 1
    # two-value lookup keeps exactly the two matching files
    kept2 = _prune_by_bloom(t, files, commits, {"plan": ["tou", "solar"]})
    assert len(kept2) == 2
    # unknown value keeps nothing
    assert _prune_by_bloom(t, files, commits, {"plan": ["nope"]}) == []


@pytest.mark.slow
def test_dict_read_equals_plain_filter(spark, tmp_path):
    t = _plan_table(spark, tmp_path)
    rep = skipping_report(t, where_in={"plan": ["solar"]})
    assert rep["files_skipped"] == 2 and rep["files_read"] == 1
    pruned = read_where(t, spark, where_in={"plan": ["solar"]})
    plain = t.read(spark).filter("plan = 'solar'")
    assert sorted(r.meter_id for r in pruned.collect()) == sorted(
        r.meter_id for r in plain.collect()
    )


@pytest.mark.slow
def test_dict_high_cardinality_file_records_nothing(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "hc"), dict_columns=["plan"])
    rows = [
        (TS + dt.timedelta(minutes=i), i, f"plan_{i}")
        for i in range(ManifestTable.DICT_MAX_VALUES + 5)
    ]
    t.idempotent_append(spark, _mk_str(spark, rows).coalesce(1))
    recorded = {}
    for c in t.snapshot():
        recorded.update(c.get("blooms", {}))
    # too many distinct values -> no dictionary for that file
    assert all("plan" not in e for e in recorded.values())
    # and the unprunable read is still correct
    files = t._files(t.snapshot())
    assert (
        _prune_by_bloom(t, files, t.snapshot(), {"plan": ["plan_3"]})
        == files
    )
    assert read_where(t, spark, where_in={"plan": ["plan_3"]}).count() == 1


@pytest.mark.slow
def test_dict_survives_compaction_and_clone_and_reopen(spark, tmp_path):
    t = _plan_table(spark, tmp_path)
    assert compact_log(t, keep_last=1) > 0
    files = t._files(t.snapshot())
    assert len(_prune_by_bloom(t, files, t.snapshot(), {"plan": ["tou"]})) == 1
    clone = shallow_clone(t, str(tmp_path / "dclone"))
    cfiles = clone._files(clone.snapshot())
    assert (
        len(_prune_by_bloom(clone, cfiles, clone.snapshot(), {"plan": ["tou"]}))
        == 1
    )
    assert clone.dict_columns == ["plan"]
    # bare reopen loads the persisted dict config
    t2 = ManifestTable(str(tmp_path / "dtbl"))
    assert t2.dict_columns == ["plan"]


@pytest.mark.slow
def test_dict_and_bloom_coexist_per_file(spark, tmp_path):
    t = ManifestTable(
        str(tmp_path / "both"),
        bloom_columns=["meter_id"],
        dict_columns=["plan"],
    )
    rows = [(TS + dt.timedelta(minutes=i), i, "basic") for i in range(10)]
    t.idempotent_append(spark, _mk_str(spark, rows).coalesce(1))
    rows2 = [
        (TS + dt.timedelta(minutes=10 + i), 100 + i, "tou") for i in range(10)
    ]
    t.idempotent_append(spark, _mk_str(spark, rows2).coalesce(1))
    recorded = {}
    for c in t.snapshot():
        recorded.update(c.get("blooms", {}))
    assert all(
        isinstance(e["meter_id"], str) and isinstance(e["plan"], list)
        for e in recorded.values()
    )
    files = t._files(t.snapshot())
    # int lookup rides the bitmap, string lookup rides the list —
    # together they prune to the single intersecting file (or none)
    kept = _prune_by_bloom(
        t, files, t.snapshot(), {"meter_id": [5], "plan": ["basic"]}
    )
    assert len(kept) == 1
    assert (
        _prune_by_bloom(
            t, files, t.snapshot(), {"meter_id": [5], "plan": ["tou"]}
        )
        == []
    )
