"""CLI runner (python -m smart_meter_data_pipeline_spark)."""

from __future__ import annotations

from smart_meter_data_pipeline_spark.__main__ import main
from smart_meter_data_pipeline_spark.sources.manifest_cow import upsert


def test_cli_list(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) >= 70
    names = {line.split("\t")[0] for line in out}
    assert {"daily_customer_billing", "manifest_cow_roundtrip"} <= names


def test_cli_unknown_query(capsys):
    assert main(["run", "no_such_query"]) == 2


def test_cli_quality_gates(spark):
    # reuses the session via getOrCreate; exit 0 = all gates pass
    assert main(["test"]) == 0


def test_cli_maintain_compacts_and_sweeps(spark, tmp_path, capsys):
    import json as _json

    from tests.test_manifest import _valid_batch
    from smart_meter_data_pipeline_spark.sources import manifest as mf

    tdir = str(tmp_path / "m")
    t = mf.ManifestTable(tdir)
    for lo in range(1, 40, 10):
        t.idempotent_append(spark, _valid_batch(spark, lo, lo + 10))
    rc = main(["maintain", tdir, "--keep-last", "1"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["commits_merged"] == 3
    assert out["commits_now"] == 2
    assert t.read(spark).count() == 40


def test_cli_history_and_restore(spark, tmp_path, capsys):
    import json as _json

    from pyspark.sql import functions as F

    from tests.test_manifest import _valid_batch
    from smart_meter_data_pipeline_spark.sources import manifest as mf

    tdir = str(tmp_path / "fact")
    t = mf.ManifestTable(tdir)
    t.idempotent_append(spark, _valid_batch(spark, 1, 11))
    upsert(
        t,
        spark,
        _valid_batch(spark, 5, 8).withColumn(
            "reading_consumption_milliwatts", F.lit(7777)
        ),
    )

    assert main(["history", tdir]) == 0
    rows = [
        _json.loads(line)
        for line in capsys.readouterr().out.strip().splitlines()
    ]
    assert [r["version"] for r in rows] == [0, 1]
    assert rows[1]["n_removed"] > 0  # the CoW rewrite

    assert main(["restore", tdir, "0"]) == 0
    res = _json.loads(capsys.readouterr().out.strip())
    assert res["restored_version"] == 0
    vals = {
        r["meter_id"]: r["reading_consumption_milliwatts"]
        for r in t.read(spark).collect()
    }
    assert all(v == 1500 for v in vals.values())

    # typo'd path: no empty-table creation, exit 2
    assert main(["restore", str(tmp_path / "nope"), "0"]) == 2
    assert main(["history", str(tmp_path / "nope")]) == 2


def test_cli_asof(spark, tmp_path, capsys):
    import json as _json

    from tests.test_manifest import _valid_batch
    from smart_meter_data_pipeline_spark.sources import manifest as mf

    tdir = str(tmp_path / "fact_asof")
    t = mf.ManifestTable(tdir)
    t.idempotent_append(spark, _valid_batch(spark, 1, 11))
    t.idempotent_append(spark, _valid_batch(spark, 11, 21))
    ts0 = t.snapshot()[0]["committed_at"]

    assert main(["asof", tdir, str(ts0)]) == 0
    res = _json.loads(capsys.readouterr().out.strip())
    assert res["version"] == 0

    assert main(["asof", tdir, str(ts0 + 1e6)]) == 0
    res = _json.loads(capsys.readouterr().out.strip())
    assert res["version"] == 1

    # pre-first-commit -> exit 2; typo'd path -> exit 2
    assert main(["asof", tdir, str(ts0 - 3600.0)]) == 2
    capsys.readouterr()
    assert main(["asof", str(tmp_path / "nope"), "0"]) == 2


def test_cli_clone(spark, tmp_path, capsys):
    import json as _json

    from tests.test_manifest import _valid_batch
    from smart_meter_data_pipeline_spark.sources import manifest as mf

    tdir = str(tmp_path / "fact_src")
    t = mf.ManifestTable(tdir)
    t.idempotent_append(spark, _valid_batch(spark, 1, 21))

    target = str(tmp_path / "fact_clone")
    assert main(["clone", tdir, target]) == 0
    res = _json.loads(capsys.readouterr().out.strip())
    assert res["clone"] == target
    assert res["files_referenced"] >= 1
    clone = mf.ManifestTable(target)
    assert clone.read(spark).count() == t.read(spark).count()

    # non-empty target refused; bad source path refused
    assert main(["clone", tdir, target]) == 2
    capsys.readouterr()
    assert main(["clone", str(tmp_path / "nope"), str(tmp_path / "c2")]) == 2


def test_cli_clone_restore_pending_tombstones_exit_2(spark, tmp_path, capsys):
    """Clone and restore of a table an older version left with an
    unapplied merge-on-read tombstone take the clean stderr + exit-2
    path instead of copying or reverting rows that were deleted."""
    from tests.test_manifest import _valid_batch, _write_pending_tombstone
    from smart_meter_data_pipeline_spark.sources import manifest as mf

    tdir = str(tmp_path / "fact_pend")
    t = mf.ManifestTable(tdir)
    t.idempotent_append(spark, _valid_batch(spark, 1, 21))
    _write_pending_tombstone(
        t, _valid_batch(spark, 1, 6).select("reading_timestamp", "meter_id")
    )

    assert main(["clone", tdir, str(tmp_path / "fact_pend_clone")]) == 2
    err = capsys.readouterr().err
    assert "tombstone" in err.lower()

    assert main(["restore", tdir, "0"]) == 2
    err = capsys.readouterr().err
    assert "tombstone" in err.lower()


def test_cli_maintain_zorder(spark, tmp_path, capsys):
    """--cluster-by + --zorder reach optimize_table through the CLI."""
    import datetime as dt

    from smart_meter_data_pipeline_spark.sources import manifest as mf

    base = dt.datetime(2024, 1, 1)
    tdir = str(tmp_path / "fact_z")
    t = mf.ManifestTable(tdir, stats_columns=["meter_id", "v"])
    for lo in range(0, 512, 128):
        rows = [
            (base + dt.timedelta(minutes=i), i % 32, i // 32)
            for i in range(lo, lo + 128)
        ]
        t.idempotent_append(
            spark,
            spark.createDataFrame(
                rows,
                "reading_timestamp timestamp, meter_id bigint, v bigint",
            ).repartition(1),
        )
    rc = main(
        [
            "maintain",
            tdir,
            "--optimize-small-bytes",
            str(32 << 20),
            "--optimize-target-partitions",
            "8",
            "--cluster-by",
            "meter_id,v",
            "--zorder",
        ]
    )
    assert rc == 0
    import json as _json

    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["files_rewritten"] == 4 and out["files_created"] >= 1
    # z-property: per-file v range narrowed below the full span
    stats = mf.ManifestTable(tdir).snapshot()[-1]["stats"]
    widths = [s["v"][1] - s["v"][0] for s in stats.values() if "v" in s]
    # the bare reopen must have inherited the persisted stats columns,
    # and z-order must have narrowed v below its full 0..15 span
    assert len(widths) >= 4
    assert sum(widths) / len(widths) < 12
