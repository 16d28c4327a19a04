"""The commit record every writer publishes, and the seam each publish
passes through.

Each writer runs once on a tiny table. The first test pins the keys of
the commit it publishes, its ``count`` and ``dates`` (the dates of the
rows its added files hold, so none when a delete drops whole files and
adds none, as it does when each row sits in a file of its own), and
the ``stats``/``blooms`` of the files it adds: a writer may spell out a key
it used to leave out only with the empty value every reader defaults it
to (``removed: []``, ``blooms: {}``), and may never drop a key or change
a value. The hook tests make every writer's pre-publish hook raise
and check that nothing was published.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from smart_meter_data_pipeline_spark.sources import manifest
from smart_meter_data_pipeline_spark.sources.catalog import (
    Catalog,
    compact_catalog,
    optimize_catalog_table,
)
from smart_meter_data_pipeline_spark.sources.manifest import ManifestTable
from smart_meter_data_pipeline_spark.sources.manifest_cow import (
    delete_keys,
    delete_where,
    upsert,
)
from smart_meter_data_pipeline_spark.sources.manifest_services import (
    alter_drop_column,
    optimize_table,
    shallow_clone,
)
from smart_meter_data_pipeline_spark.sources.manifest_timetravel import (
    restore_version,
)

RECORD = {"version", "added", "count", "dates", "schema", "stats", "blooms",
          "committed_at"}
MUTATION = RECORD | {"removed"}
PINNED = {
    "append": RECORD,
    "upsert": MUTATION | {"removed_dates", "batch_dates"},
    "delete_keys": MUTATION | {"removed_dates", "batch_dates"},
    "delete_where": MUTATION | {"removed_dates"},
    "optimize_table": MUTATION | {"optimize"},
    "restore_version": MUTATION | {"removed_dates", "batch_dates",
                                   "restore_of"},
    "alter_drop_column": MUTATION | {"drop_columns", "dropped_types"},
    "shallow_clone": (RECORD - {"count"}) | {"cloned_from"},
    "compact_log": RECORD | {"compacted_from", "dropped_types"},
}
# keys a writer may gain, each with the value readers default it to
EMPTY = {"removed": [], "blooms": {}, "stats": {}, "schema": None,
         "count": 0, "dropped_types": {}}
# the count each writer records: the rows its added files hold, 0, or
# (the merged base) the sum of the merged commits' counts
COUNTS = {
    "restore_version": 0,
    "alter_drop_column": 0,
    "shallow_clone": 0,
}
DAY = ["2024-03-01"]
DELETES = {"delete_keys", "delete_where"}
CHAIN = {"version", "tables", "committed_at"}
TABLE_PAYLOAD = {"added", "removed", "count", "dates", "schema", "stats"}


def _rows(spark, lo, hi, consumption=1500):
    return spark.range(lo, hi).select(
        F.expr("timestamp'2024-03-01 10:30:00'").alias("reading_timestamp"),
        F.col("id").alias("meter_id"),
        F.lit(consumption).cast("long").alias("reading_consumption_milliwatts"),
        F.lit(0).cast("long").alias("reading_production_milliwatts"),
        F.lit("V").alias("status"),
    )


def _check_keys(commit: dict, pinned: set, extra_ok=()) -> None:
    keys = set(commit)
    assert pinned <= keys, sorted(pinned - keys)
    for k in keys - pinned - set(extra_ok):
        assert k in EMPTY and commit[k] == EMPTY[k], (k, commit[k])


def _added_dates(spark, t: ManifestTable, commit: dict) -> list[str]:
    """The distinct dates of the rows in the commit's added files."""
    if not commit["added"]:
        return []
    paths = [os.path.join(t.data_dir, f) for f in commit["added"]]
    added = spark.read.parquet(*paths)
    days = added.select(F.to_date("reading_timestamp").cast("string")).distinct()
    return sorted(r[0] for r in days.collect())


def _check_indexes(t: ManifestTable, commit: dict) -> None:
    """Every added file's recorded stats and blooms are what its footer
    gives, whether the writer read the footer or carried the entry."""
    stats = commit.get("stats") or {}
    blooms = commit.get("blooms") or {}
    for f in commit["added"]:
        assert stats[f] == t._file_stats([f])[f]
        assert blooms.get(f) == t._file_blooms([f]).get(f)
    assert set(stats) <= set(commit["added"])
    assert set(blooms) <= set(commit["added"])


def test_every_writer_keeps_the_commit_format(spark, tmp_path):
    t = ManifestTable(
        str(tmp_path / "t"), bloom_columns=["meter_id"], dict_columns=["status"]
    )
    published = {}

    def record(name):
        published[name] = t.snapshot()[-1]

    t.idempotent_append(spark, _rows(spark, 0, 20))
    record("append")
    t.idempotent_append(spark, _rows(spark, 20, 40))
    upsert(t, spark, _rows(spark, 5, 8, consumption=99))
    record("upsert")
    delete_keys(t, spark, _rows(spark, 30, 31).select(*manifest.PK))
    record("delete_keys")
    delete_where(t, spark, "meter_id", 10, 12)
    record("delete_where")
    optimize_table(t, spark)
    record("optimize_table")
    restore_version(t, 1)
    record("restore_version")
    alter_drop_column(t, "reading_production_milliwatts")
    record("alter_drop_column")
    # the tail commit compact_log keeps
    t.idempotent_append(spark, _rows(spark, 40, 50))
    clone = shallow_clone(t, str(tmp_path / "clone"))
    published["shallow_clone"] = clone.snapshot()[0]
    merged = sum(c.get("count", 0) for c in t.snapshot()[:8])
    assert manifest.compact_log(t, keep_last=1) == 8
    published["compact_log"] = t.snapshot()[0]
    counts = dict(COUNTS, compact_log=merged)

    assert set(published) == set(PINNED)
    for name, commit in published.items():
        table = clone if name == "shallow_clone" else t
        # the merged base maps each file to the commit that added it
        extra_ok = {"added_numbers"} if name == "compact_log" else ()
        _check_keys(commit, PINNED[name], extra_ok)
        rows = sum(s["#rows"] for s in commit["stats"].values())
        assert commit.get("count", 0) == counts.get(name, rows), name
        assert commit["dates"] == _added_dates(spark, table, commit), name
        _check_indexes(table, commit)
        if name in DELETES:
            # whether the delete rewrote its files or dropped them whole
            assert commit["removed"] and commit["removed_dates"] == DAY, name
        else:
            assert commit["added"] or name == "alter_drop_column", name
    assert published["append"]["dates"] == DAY
    assert {r["meter_id"] for r in t.read(spark).collect()} == set(range(50))


def test_catalog_commits_keep_the_commit_format(spark, tmp_path):
    cat = Catalog(str(tmp_path / "cat"))
    txn = cat.txn()
    txn.append(spark, "fact", _rows(spark, 0, 10))
    txn.commit()
    txn = cat.txn()
    txn.append(spark, "fact", _rows(spark, 10, 20))
    txn.upsert(spark, "fact", _rows(spark, 3, 4, consumption=99))
    txn.commit()
    txn = cat.txn()
    txn.delete_keys(spark, "fact", _rows(spark, 15, 16).select(*manifest.PK))
    txn.commit()
    chain = [c for _, c in cat.numbered_snapshot()]
    assert compact_catalog(cat, keep_last=1) == 2
    base = cat.numbered_snapshot()[0][1]

    t = cat.table_handle("fact")
    for commit, extra in (
        (chain[0], set()),
        (chain[1], set()),
        (chain[2], set()),
        (base, {"compacted_from"}),
    ):
        _check_keys(commit, CHAIN | extra)
        payload = commit["tables"]["fact"]
        # the merged base maps each file to the commit that added it
        _check_keys(payload, TABLE_PAYLOAD, {"added_numbers"} if extra else ())
        # a payload's count is the rows its added files hold
        rows = sum(s["#rows"] for s in payload["stats"].values())
        assert payload["count"] == rows
        assert payload["dates"] == _added_dates(spark, t, payload)
        _check_indexes(t, payload)
    assert chain[0]["tables"]["fact"]["count"] == 10
    assert chain[0]["tables"]["fact"]["dates"] == DAY
    assert sorted(
        r["meter_id"] for r in cat.read(spark, "fact").collect()
    ) == [m for m in range(20) if m != 15]


class _Killed(Exception):
    pass


def _kill():
    raise _Killed("killed before publish")


TABLE_WRITERS = {
    "append": lambda spark, t: t.idempotent_append(spark, _rows(spark, 30, 40)),
    "upsert": lambda spark, t: upsert(t, spark, _rows(spark, 5, 8, 99)),
    "delete_keys": lambda spark, t: delete_keys(
        t, spark, _rows(spark, 5, 8).select(*manifest.PK)
    ),
    "delete_where": lambda spark, t: delete_where(
        t, spark, "meter_id", 0, 12
    ),
    "optimize_table": lambda spark, t: optimize_table(t, spark),
    "restore_version": lambda spark, t: restore_version(t, 0),
    "alter_drop_column": lambda spark, t: alter_drop_column(
        t, "reading_production_milliwatts"
    ),
    "compact_log": lambda spark, t: manifest.compact_log(t, keep_last=1),
}


@pytest.mark.parametrize("writer", sorted(TABLE_WRITERS))
def test_pre_publish_hook_fires_on_every_writer(spark, tmp_path, writer):
    """A writer whose pre-publish hook raises publishes nothing: the
    log listing and the table's rows are what they were."""
    t = ManifestTable(str(tmp_path / "t"))
    for lo in (0, 10, 20):
        t.idempotent_append(spark, _rows(spark, lo, lo + 10))

    def state():
        rows = sorted(tuple(r) for r in t.read(spark).collect())
        return sorted(os.listdir(t.commits_dir)), rows

    before = state()
    t._pre_publish_hook = _kill
    with pytest.raises(_Killed):
        TABLE_WRITERS[writer](spark, t)
    assert state() == before


def _catalog_txn_commit(spark, cat):
    txn = cat.txn()
    txn.append(spark, "fact", _rows(spark, 30, 40))
    txn._pre_publish_hook = _kill
    txn.commit()


CATALOG_WRITERS = {
    "txn_commit": _catalog_txn_commit,
    "optimize_catalog_table": lambda spark, cat: optimize_catalog_table(
        cat, spark, "fact"
    ),
    "compact_catalog": lambda spark, cat: compact_catalog(cat, keep_last=1),
}


@pytest.mark.parametrize("writer", sorted(CATALOG_WRITERS))
def test_pre_publish_hook_fires_on_every_catalog_writer(spark, tmp_path, writer):
    """The same for the catalog chain: a raising hook leaves the chain
    listing and the table's rows as they were."""
    cat = Catalog(str(tmp_path / "cat"))
    for lo in (0, 10, 20):
        txn = cat.txn()
        txn.append(spark, "fact", _rows(spark, lo, lo + 10))
        txn.commit()

    def state():
        rows = sorted(tuple(r) for r in cat.read(spark, "fact").collect())
        return sorted(os.listdir(cat.commits_dir)), rows

    before = state()
    cat._pre_publish_hook = _kill
    with pytest.raises(_Killed):
        CATALOG_WRITERS[writer](spark, cat)
    assert state() == before
