"""Command-line runner — the engine's operational surface, replacing
the reference's assorted entry points (producer loop, consumer loop,
``dbt run`` / ``dbt test``) with one CLI:

    python -m smart_meter_data_pipeline_spark list
    python -m smart_meter_data_pipeline_spark run <query> [--sf-dir D]
        [--output PATH] [--limit N] [--explain]
    python -m smart_meter_data_pipeline_spark marts [--sf-dir D]
    python -m smart_meter_data_pipeline_spark test [--sf-dir D]
    python -m smart_meter_data_pipeline_spark maintain <table_dir>
        [--keep-last N] [--vacuum-ttl-s S]
    python -m smart_meter_data_pipeline_spark history <table_dir>
    python -m smart_meter_data_pipeline_spark restore <table_dir> <version>
    python -m smart_meter_data_pipeline_spark asof <table_dir> <unix_ts>
    python -m smart_meter_data_pipeline_spark clone <table_dir> <target_dir>
    python -m smart_meter_data_pipeline_spark cds-archive

``run`` executes any registered query (the full SURVEY §2 + LLM-ops
registry); ``marts`` is the ``dbt run`` twin (rebuild staging + both
marts); ``test`` is the ``dbt test`` twin (the declared data-quality
gates, non-zero exit on failure — reference: dbt schema tests,
SURVEY.md §5). ``cds-archive`` builds the driver JVM's class-data-sharing
archive now instead of at the first ``get_spark`` (see ``session``).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="smart_meter_data_pipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    run = sub.add_parser("run", help="run one registered query")
    run.add_argument("query")
    run.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    run.add_argument("--output", help="write result parquet here")
    run.add_argument("--limit", type=int, default=20)
    run.add_argument(
        "--explain", action="store_true", help="print the formatted plan"
    )

    marts = sub.add_parser("marts", help="rebuild staging + both marts")
    marts.add_argument("--sf-dir", default="/root/testdata/sf0.01")

    test = sub.add_parser("test", help="run data-quality gates")
    test.add_argument("--sf-dir", default="/root/testdata/sf0.01")

    maint = sub.add_parser(
        "maintain", help="manifest-table services: log compaction + vacuum"
    )
    maint.add_argument("table_dir", help="ManifestTable directory")
    maint.add_argument(
        "--keep-last",
        type=int,
        default=10,
        help="commits to keep uncompacted (default 10)",
    )
    maint.add_argument(
        "--vacuum-ttl-s",
        type=float,
        default=3600.0,
        help="min age before an unreferenced stage dir is swept",
    )
    maint.add_argument(
        "--optimize-small-bytes",
        type=int,
        default=0,
        help="bin-pack live data files smaller than this many bytes "
        "before compacting the log (0 = skip; needs a Spark session)",
    )
    maint.add_argument(
        "--optimize-target-partitions",
        type=int,
        default=0,
        help="explicit packed-file count for the optimize rewrite "
        "(0 = size-derived)",
    )
    maint.add_argument(
        "--drop-column",
        default="",
        help="ALTER TABLE DROP COLUMN (metadata-only marker commit; "
        "refuses pk/stats/bloom/constraint columns)",
    )
    maint.add_argument(
        "--vacuum-dry-run",
        action="store_true",
        help="list what vacuum WOULD sweep instead of deleting",
    )
    maint.add_argument(
        "--cluster-by",
        default="",
        help="comma-separated columns to cluster the optimize rewrite "
        "on (narrows per-file stats ranges for skipping)",
    )
    maint.add_argument(
        "--zorder",
        action="store_true",
        help="bit-interleave >=2 --cluster-by columns (OPTIMIZE "
        "ZORDER): every clustered column's file range narrows",
    )

    hist = sub.add_parser(
        "history", help="manifest table commit history (DESCRIBE HISTORY)"
    )
    hist.add_argument("table_dir", help="ManifestTable directory")

    rest = sub.add_parser(
        "restore",
        help="roll a manifest table back to an earlier version "
        "(metadata-only commit, history preserved)",
    )
    rest.add_argument("table_dir", help="ManifestTable directory")
    rest.add_argument("version", type=int, help="target commit version")

    asof = sub.add_parser(
        "asof",
        help="resolve TIMESTAMP AS OF to a commit version "
        "(metadata-only; read the data with read_as_of(version=...))",
    )
    asof.add_argument("table_dir", help="ManifestTable directory")
    asof.add_argument(
        "timestamp",
        type=float,
        help="unix seconds; resolves to the latest version committed "
        "at or before this instant",
    )

    clone = sub.add_parser(
        "clone",
        help="zero-copy SHALLOW CLONE into an empty target directory "
        "(one metadata commit; source bytes are never copied)",
    )
    clone.add_argument("table_dir", help="source ManifestTable directory")
    clone.add_argument("target_dir", help="empty clone target directory")

    sub.add_parser(
        "cds-archive",
        help="build the driver JVM's class-data-sharing archive if it is "
        "missing, failed or incomplete; prints its path and size",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)

    if args.cmd == "cds-archive":
        import os

        from smart_meter_data_pipeline_spark.cds_build import build_cds_archive

        found = build_cds_archive(retry=True)
        if found is None:
            print(
                "no archive: the build failed (see its .log) or this JDK, "
                "Spark conf dir or cache cannot use one",
                file=sys.stderr,
            )
            return 1
        print(json.dumps({"archive": found[0], "bytes": os.path.getsize(found[0])}))
        return 0

    from smart_meter_data_pipeline_spark.plans import registry

    registry.load_all()

    if args.cmd == "list":
        for name in registry.QUERIES:
            oracle = "oracle" if name in registry.ORACLES else "rows-only"
            print(f"{name}\t{oracle}")
        return 0

    if args.cmd in ("history", "restore", "asof", "clone"):
        # Metadata-only (one log listing; restore publishes one
        # commit) — no Spark session, same typo'd-path guard as
        # maintain.
        import os

        from smart_meter_data_pipeline_spark.sources import (
            manifest as mf,
            manifest_services,
            manifest_timetravel,
        )

        commits_dir = os.path.join(args.table_dir, mf.COMMITS_DIRNAME)
        if not os.path.isdir(commits_dir):
            print(
                f"not a manifest table (no {mf.COMMITS_DIRNAME}/ dir): "
                f"{args.table_dir}",
                file=sys.stderr,
            )
            return 2
        t = mf.ManifestTable(args.table_dir)
        if args.cmd == "history":
            for row in manifest_timetravel.history(t):
                print(json.dumps(row))
            return 0
        if args.cmd == "asof":
            try:
                v = manifest_timetravel.version_asof(t, args.timestamp)
            except ValueError as e:
                print(str(e), file=sys.stderr)
                return 2
            print(json.dumps({"version": v, "asof": args.timestamp}))
            return 0
        if args.cmd == "clone":
            try:
                c = manifest_services.shallow_clone(t, args.target_dir)
            except ValueError as e:
                print(str(e), file=sys.stderr)
                return 2
            print(
                json.dumps(
                    {
                        "cloned_from": args.table_dir,
                        "clone": c.table_dir,
                        "files_referenced": len(c._files(c.snapshot())),
                    }
                )
            )
            return 0
        try:
            res = manifest_timetravel.restore_version(t, args.version)
        except ValueError as e:
            print(str(e), file=sys.stderr)
            return 2
        print(json.dumps(res))
        return 0

    if args.cmd == "maintain":
        # No Spark session needed (metadata-only), and guard against a
        # typo'd path: ManifestTable() mkdirs its target, so an
        # unvalidated path would silently create an empty table and
        # report a successful no-op maintenance run.
        import os

        from smart_meter_data_pipeline_spark.sources import (
            manifest as mf,
            manifest_services,
        )

        commits = os.path.join(args.table_dir, mf.COMMITS_DIRNAME)
        if not os.path.isdir(commits):
            print(
                f"not a manifest table (no {mf.COMMITS_DIRNAME}/ dir): "
                f"{args.table_dir}",
                file=sys.stderr,
            )
            return 2
        t = mf.ManifestTable(args.table_dir)
        optimized = {"files_rewritten": 0, "files_created": 0}
        if args.optimize_small_bytes > 0:
            # Only this path needs a Spark session (file rewrite);
            # pure-metadata maintenance stays JVM-free.
            from smart_meter_data_pipeline_spark.session import get_spark

            cluster = [
                c.strip() for c in args.cluster_by.split(",") if c.strip()
            ]
            optimized = manifest_services.optimize_table(
                t,
                get_spark("smart-meter-maintain"),
                small_file_bytes=args.optimize_small_bytes,
                target_partitions=args.optimize_target_partitions or None,
                cluster_by=cluster or None,
                zorder=args.zorder,
            )
        dropped_col = None
        if args.drop_column:
            dropped_col = manifest_services.alter_drop_column(
                t, args.drop_column
            )
        merged = mf.compact_log(t, keep_last=args.keep_last)
        swept = manifest_services.vacuum_unreferenced(
            t, ttl_s=args.vacuum_ttl_s, dry_run=args.vacuum_dry_run
        )
        print(
            json.dumps(
                {
                    "files_rewritten": optimized["files_rewritten"],
                    "files_created": optimized["files_created"],
                    "commits_merged": merged,
                    "stages_swept": (
                        len(swept) if isinstance(swept, list) else swept
                    ),
                    "would_sweep": (
                        swept if isinstance(swept, list) else None
                    ),
                    "commits_now": len(t.snapshot()),
                    "dropped_column_commit": dropped_col,
                }
            )
        )
        return 0

    from smart_meter_data_pipeline_spark.session import get_spark

    spark = get_spark("smart-meter-cli")

    if args.cmd == "run":
        if args.query not in registry.QUERIES:
            print(f"unknown query: {args.query}", file=sys.stderr)
            return 2
        t0 = time.monotonic()
        df = registry.QUERIES[args.query](spark, args.sf_dir)
        if args.explain:
            df.explain("formatted")
        if args.output:
            df.write.mode("overwrite").parquet(args.output)
            n = spark.read.parquet(args.output).count()
        else:
            n = df.count()
            df.show(args.limit, truncate=False)
        elapsed = round(time.monotonic() - t0, 3)
        print(json.dumps({"query": args.query, "rows": n, "sec": elapsed}))
        return 0

    if args.cmd == "marts":
        from smart_meter_data_pipeline_spark.operators import meter_pipeline as mp

        t0 = time.monotonic()
        readings = mp.gen_meter_readings(spark)
        billing, grid = mp.build_all_marts(spark, readings, mp.N_METERS)
        out = {
            "billing_rows": billing.count(),
            "grid_rows": grid.count(),
            "sec": round(time.monotonic() - t0, 3),
        }
        print(json.dumps(out))
        return 0

    if args.cmd == "test":
        checks = registry.QUERIES["meter_quality_checks"](spark, args.sf_dir)
        rows = checks.collect()
        n_failed = 0
        for r in rows:
            ok = r["n_violations"] == 0
            n_failed += 0 if ok else 1
            print(f"{'PASS' if ok else 'FAIL'}\t{r['check_name']}")
        return 1 if n_failed else 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
