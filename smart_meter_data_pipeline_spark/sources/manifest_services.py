"""Table services for a manifest table: OPTIMIZE (bin-packing, with
optional Z-order or Hilbert clustering), VACUUM of unreferenced data
files, ALTER TABLE DROP COLUMN and zero-copy SHALLOW CLONE.
"""

from __future__ import annotations

import contextlib
import os
import time

from pyspark.sql import SparkSession

from smart_meter_data_pipeline_spark.sources.manifest import (
    COMMITS_DIRNAME,
    PK,
    CommitConflictError,
    ManifestTable,
    _publish,
    _record,
)

Z_BITS = 10  # per-column bucket resolution of the Z-order/Hilbert key


def _bucket_sqls(df, cols: list[str]) -> list[str]:
    """Min/max-normalized {Z_BITS}-bit bucket SQL per column
    (timestamps via epoch seconds) — the shared front half of both
    space-filling-curve keys. Returned as SQL strings so callers can
    inline them into larger expressions (the Hilbert fold). The
    min/max pass is one bounded aggregation over the files being
    rewritten (a 1-row collect — scalars, not data)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def col_sql(c: str) -> str:
        f = df.schema[c]
        if isinstance(f.dataType, T.TimestampType):
            return f"unix_timestamp(`{c}`)"
        return f"CAST(`{c}` AS BIGINT)"

    aggs = []
    for i, c in enumerate(cols):
        aggs.append(F.min(F.expr(col_sql(c))).alias(f"mn_{i}"))
        aggs.append(F.max(F.expr(col_sql(c))).alias(f"mx_{i}"))
    row = df.agg(*aggs).collect()[0]
    cap = (1 << Z_BITS) - 1
    out = []
    for ci, c in enumerate(cols):
        mn = row[f"mn_{ci}"] or 0
        mx = row[f"mx_{ci}"] or 0
        span = max(1, mx - mn)
        out.append(
            f"CAST(greatest(least((({col_sql(c)} - {mn}) * {cap})"
            f" div {span}, {cap}), 0) AS BIGINT)"
        )
    return out


def _zorder_column(spark: SparkSession, df, cols: list[str]):
    """Bit-interleaved Z-order key over ``cols``: each column's
    {Z_BITS}-bit bucket bits are interleaved column-round-robin."""
    from pyspark.sql import functions as F

    buckets = [F.expr(s) for s in _bucket_sqls(df, cols)]
    n = len(cols)
    z = F.lit(0).cast("bigint")
    for ci, bucket in enumerate(buckets):
        for b in range(Z_BITS):
            z = z + F.shiftleft(
                F.shiftright(bucket, b).bitwiseAND(F.lit(1)),
                b * n + ci,
            ).cast("bigint")
    return z


def _hilbert_column(spark: SparkSession, df, cols: list[str]):
    """2-D HILBERT-curve key over ``cols`` — the locality upgrade
    over Z-order (Databricks liquid clustering's curve): the Hilbert
    curve has no Z-shaped jumps, so consecutive key ranges are always
    edge-adjacent squares and each packed file's (col1, col2)
    bounding box is tighter for the same file count — strictly better
    metadata skipping on 2-D range slices, measured by the
    comparative layout test (tests/test_zorder.py).

    The classic xy2d transform (quadrant index + rotate/flip per
    level, {Z_BITS} levels) runs as a Catalyst ``aggregate()`` fold
    over the level sequence with an (x, y, d) accumulator struct —
    the recurrence stays a LINEAR plan (unrolling it into nested
    column expressions quadruples the tree per level: 4^{Z_BITS}
    nodes OOMs the driver before a single row moves). Pure int64
    arithmetic, JVM-side, no UDF; bucketization shares
    :func:`_bucket_exprs` with Z-order. Validated bijective +
    unit-step-adjacent against the reference xy2d for every grid
    order up to 2^{Z_BITS} (tests/test_zorder.py)."""
    from pyspark.sql import functions as F

    if len(cols) != 2:
        raise ValueError(
            "hilbert layout supports exactly 2 cluster columns "
            f"(got {len(cols)}); use zorder for 3+"
        )
    x_sql, y_sql = _bucket_sqls(df, cols)
    fold = f"""
aggregate(
  sequence({Z_BITS - 1}, 0, -1),
  named_struct('x', {x_sql}, 'y', {y_sql}, 'd', CAST(0 AS BIGINT)),
  (acc, b) -> named_struct(
    'x', IF((acc.y & shiftleft(CAST(1 AS BIGINT), b)) = 0,
            IF((acc.x & shiftleft(CAST(1 AS BIGINT), b)) > 0,
               shiftleft(CAST(1 AS BIGINT), b) - 1 - acc.y, acc.y),
            acc.x),
    'y', IF((acc.y & shiftleft(CAST(1 AS BIGINT), b)) = 0,
            IF((acc.x & shiftleft(CAST(1 AS BIGINT), b)) > 0,
               shiftleft(CAST(1 AS BIGINT), b) - 1 - acc.x, acc.x),
            acc.y),
    'd', acc.d + shiftleft(CAST(1 AS BIGINT), 2 * b) *
         ((CAST(3 AS BIGINT) *
           IF((acc.x & shiftleft(CAST(1 AS BIGINT), b)) > 0,
              CAST(1 AS BIGINT), CAST(0 AS BIGINT))) ^
          IF((acc.y & shiftleft(CAST(1 AS BIGINT), b)) > 0,
             CAST(1 AS BIGINT), CAST(0 AS BIGINT)))
  ),
  acc -> acc.d
)"""
    return F.expr(fold)


def optimize_table(
    table: ManifestTable,
    spark: SparkSession,
    small_file_bytes: int = 32 * 1024 * 1024,
    target_partitions: int | None = None,
    cluster_by: list[str] | None = None,
    zorder: bool = False,
    hilbert: bool = False,
) -> dict:
    """Bin-packing file compaction — the OPTIMIZE of the manifest
    world, and the operational answer to the small-file problem a
    micro-batch ingest accumulates (ten thousand 100 KB files make a
    100 TB table unreadable regardless of total size: per-file open
    cost dominates the scan and the driver's split planning).

    Live files under ``small_file_bytes`` are read once, rewritten as
    ``target_partitions`` right-sized files (default: total small
    bytes / small_file_bytes, min 1), and swapped in with ONE
    copy-on-write commit (rewrites ``added``, originals ``removed``)
    — rows are untouched, so readers before/after see identical
    contents, old versions still time-travel, and the originals
    become reclaimable once log compaction nets them out (the same
    delete → compact → vacuum lifecycle as mutations).

    ``cluster_by`` is OPTIMIZE ZORDER's role here: the rewrite is
    range-partitioned and sorted on those columns, so each packed
    file covers a narrow key range — which is exactly what makes the
    per-file min/max stats in the commit (and therefore the
    mutations' file skipping) selective. Packing without clustering
    shrinks file COUNT; packing with it also shrinks every file's
    stats RANGE.

    ``zorder=True`` (with >= 2 ``cluster_by`` columns) interleaves
    instead of nesting: lexicographic clustering gives the FIRST
    column narrow per-file ranges and leaves every later column's
    range as wide as the whole table (a predicate on the second
    column alone prunes nothing). The Z-order rewrite min/max-
    normalizes each column to a {Z_BITS}-bit bucket and range-
    partitions on the bit-interleaved key, so EVERY clustered
    column's per-file range narrows like sqrt-of-file-count — the
    Delta/Iceberg OPTIMIZE ZORDER trade. Numeric and timestamp
    columns are supported (timestamps via epoch seconds); the
    transform is layout-only, rows untouched.

    ``hilbert=True`` (exactly 2 ``cluster_by`` columns) swaps the
    curve for the 2-D HILBERT key (:func:`_hilbert_column`) —
    jump-free locality, tighter per-file bounding boxes than Z-order
    at the same file count (the Databricks liquid-clustering curve).

    Runs under the table flock (serializes with other maintenance);
    publishes through put-if-absent at a fence from the SAME listing
    it selected files from, so a lock-free append landing mid-rewrite
    costs only a clean retry. Returns
    ``{"files_rewritten": n, "files_created": m, "rounds": r}``."""
    from smart_meter_data_pipeline_spark.sources.txn import table_lock

    with table_lock(table.table_dir):
        for attempt in range(5):
            numbered = table.numbered_snapshot()
            commits = [c for _, c in numbered]
            fence = table._fence(numbered)
            live = table._files(commits)
            small = [
                f
                for f in live
                if os.path.exists(f)
                and os.path.getsize(f) < small_file_bytes
            ]
            if len(small) <= 1:
                return {
                    "files_rewritten": 0,
                    "files_created": 0,
                    "rounds": attempt,
                }
            total = sum(os.path.getsize(f) for f in small)
            n_out = target_partitions or max(
                1, total // small_file_bytes
            )
            schema = table._evolved_schema(commits)
            src_df = table._read_files(spark, small, schema)
            if cluster_by and (zorder or hilbert) and len(cluster_by) >= 2:
                curve = _hilbert_column if hilbert else _zorder_column
                zcol = curve(spark, src_df, cluster_by)
                packed = (
                    src_df.withColumn("__z", zcol)
                    .repartitionByRange(int(n_out), "__z")
                    .sortWithinPartitions("__z")
                    .drop("__z")
                )
            elif cluster_by:
                packed = src_df.repartitionByRange(
                    int(n_out), *cluster_by
                ).sortWithinPartitions(*cluster_by)
            else:
                packed = src_df.repartition(int(n_out))
            staged = table._stage(packed)
            n_staged = spark.read.parquet(
                *(os.path.join(table.data_dir, f) for f in staged)
            ).count()
            record = _record(
                table,
                staged,
                removed=sorted(
                    os.path.relpath(f, table.data_dir) for f in small
                ),
                count=n_staged,
                # Dates over-approximate (union of all commit dates):
                # safe for the date-pruned validation scan — it may
                # read the packed files unnecessarily, never miss them.
                dates={d for c in commits for d in c.get("dates", [])},
                schema=schema,
                optimize=True,
            )
            if _publish(
                table._commit_path(fence),
                fence,
                table._pre_publish_hook,
                **record,
            ):
                return {
                    "files_rewritten": len(small),
                    "files_created": len(staged),
                    "rounds": attempt + 1,
                }
            table._discard_stage_all(staged)
        raise CommitConflictError(
            f"optimize gave up after 5 attempts on {table.table_dir}"
        )


def vacuum_unreferenced(
    table: ManifestTable, ttl_s: float = 3600.0, dry_run: bool = False
) -> int | list[str]:
    """Delete data FILES no commit references — crashed-writer stage
    leaks, and copy-on-write originals once compaction nets their
    removal out of the log (the Delta VACUUM lifecycle). File-level,
    not directory-level: a partially-rewritten stage dir can hold
    both live and dead files (empty part files a delete didn't touch
    next to removed ones). TTL-guarded so an IN-FLIGHT writer's
    freshly staged files are never swept: only files older than
    ``ttl_s`` go; directories left empty are pruned. Runs under the
    table lock; returns the number of files removed. Refuses to run
    while a stranded ``.old`` log dir exists (legacy
    interrupted-compaction marker): until that log is restored, the
    current commits dir may under-report references and the sweep
    would delete live data. Refuses, for the same reason, a table
    holding branch commits an older version wrote
    (:func:`_refuse_branch_commits`).

    ``dry_run=True`` returns the data-dir-relative paths the sweep
    WOULD delete (same TTL rules) without touching a byte — the
    audit an operator runs before the first destructive vacuum of a
    production table."""
    from smart_meter_data_pipeline_spark.sources.txn import table_lock

    if os.path.isdir(table.commits_dir + ".old"):
        raise RuntimeError(
            f"refusing to vacuum {table.table_dir}: stranded "
            f"'{COMMITS_DIRNAME}.old' dir present — reopen the table "
            "(ManifestTable restores the displaced log) and retry"
        )
    _refuse_branch_commits(
        os.path.join(table.table_dir, "_commits_branches"), table.table_dir
    )
    with table_lock(table.table_dir):
        referenced = {f for c in table.snapshot() for f in c["added"]}
        return _sweep_unreferenced(table.data_dir, referenced, ttl_s, dry_run)


def _refuse_branch_commits(branches_dir: str, where: str) -> None:
    """Raise ``ValueError`` when ``branches_dir`` holds a branch commit
    an older version of this module wrote (``<branches_dir>/<name>/
    <number>.json``). Those commits are the only references to the
    branch's data files, so a sweep that reads only the main log would
    delete them as unreferenced."""
    if not os.path.isdir(branches_dir):
        return
    for name in os.listdir(branches_dir):
        log = os.path.join(branches_dir, name)
        if os.path.isdir(log) and any(
            n.endswith(".json") for n in os.listdir(log)
        ):
            raise ValueError(
                f"refusing to vacuum {where}: branch {name!r} has commits "
                f"under {log}, and the data files only they reference "
                "would be deleted. This version has no branches; publish "
                "or delete the branch with the version that wrote it first."
            )


def _sweep_unreferenced(
    data_dir: str, referenced: set[str], ttl_s: float, dry_run: bool
) -> int | list[str]:
    """The TTL sweep behind both vacuums: delete every file in a stage
    directory of ``data_dir`` that ``referenced`` (data-dir-relative
    paths) does not name and that is older than ``ttl_s``, and prune
    stage directories left empty. Returns the number of files removed,
    or with ``dry_run`` the sorted paths it would remove."""
    removed = 0
    would: list[str] = []
    now = time.time()
    for name in os.listdir(data_dir):
        p = os.path.join(data_dir, name)
        if not os.path.isdir(p):
            continue
        entries = os.listdir(p)
        dir_has_live = any(os.path.join(name, f) in referenced for f in entries)
        for fname in entries:
            rel = os.path.join(name, fname)
            fp = os.path.join(p, fname)
            if rel in referenced:
                continue
            # non-data markers (_SUCCESS) stay with a live dir;
            # they go only when the whole stage is dead
            if not fname.endswith(".parquet") and dir_has_live:
                continue
            if now - os.path.getmtime(fp) < ttl_s:
                continue
            if dry_run:
                would.append(rel)
                continue
            with contextlib.suppress(FileNotFoundError):
                os.unlink(fp)
                removed += 1
        if not dry_run and not os.listdir(p):
            with contextlib.suppress(OSError):
                os.rmdir(p)
    return sorted(would) if dry_run else removed


def alter_drop_column(table: ManifestTable, column: str) -> int:
    """ALTER TABLE DROP COLUMN — metadata-only: one marker commit
    removes the column from the evolved READ schema; the bytes stay
    in the files (reclaimed only when rewrites/OPTIMIZE naturally
    re-stage them), time travel to any pre-drop version still sees
    the column, and a later append may re-introduce the name — with
    the SAME type only (the marker records the dropped type and the
    schema-compat gate rejects a type-changing re-add, which would
    make pre-drop files unreadable under the new type; Delta solves
    this with column mapping, this log solves it by refusing).

    Refuses to drop PK / stats / bloom / constraint columns — each is
    load-bearing for mutations or skipping. Returns the commit
    number."""
    guards = {
        "pk": list(PK),
        "stats_columns": table.stats_columns,
        "bloom_columns": table.bloom_columns,
    }
    for what, cols in guards.items():
        if column in cols:
            raise ValueError(
                f"cannot drop '{column}': it is a {what} column"
            )
    for c in table.constraints:
        if column in str(c):
            raise ValueError(
                f"cannot drop '{column}': referenced by constraint {c}"
            )
    for attempt in range(20):
        numbered = table.numbered_snapshot()
        commits = [c for _, c in numbered]
        fence = table._fence(numbered)
        schema = table._evolved_schema(commits)
        if schema is None or column not in {f.name for f in schema.fields}:
            raise ValueError(
                f"column '{column}' does not exist in {table.table_dir}"
            )
        post = [f for f in schema.fields if f.name != column]
        dropped = next(
            f for f in schema.fields if f.name == column
        )
        from pyspark.sql.types import StructType

        if _publish(
            table._commit_path(fence),
            fence,
            table._pre_publish_hook,
            **_record(
                table,
                schema=StructType(post) if post else None,
                drop_columns=[column],
                dropped_types={column: dropped.dataType.json()},
            ),
        ):
            return fence
    raise CommitConflictError(
        f"gave up after 20 drop-column attempts on {table.table_dir}"
    )


def shallow_clone(source: ManifestTable, target_dir: str) -> ManifestTable:
    """Zero-copy SHALLOW CLONE (Delta ``CREATE TABLE ... SHALLOW CLONE``
    parity): a new table at ``target_dir`` whose single base commit
    references the SOURCE's live data files — no bytes copied, clone
    cost is one metadata commit regardless of table size.

    Mechanics: the clone's ``added`` entries are data-dir-RELATIVE
    traversal paths (``../..``-style) that resolve to the source's
    files, so every existing reader/mutator works unchanged: reads
    follow the paths; copy-on-write mutations record removals with the
    SAME relative strings (``_rel`` computes them against the clone's
    data dir) and write survivors into the clone's own data dir;
    ``optimize_table`` naturally MATERIALIZES the clone (rewrites into
    local files); the clone's vacuum can never delete source bytes
    (it only sweeps the clone's own data dir). Divergence after the
    clone point is therefore fully isolated — the Delta semantics.

    HAZARD (same as Delta): the source's VACUUM does not know about
    clones — a CoW mutation or OPTIMIZE on the SOURCE followed by its
    vacuum can delete files the clone still references. Clones are
    for short-lived branches (experiments, dev snapshots, blue/green
    validation), not long-term archival; materialize with
    ``optimize_table`` to cut the dependency."""
    numbered = source.numbered_snapshot()
    if not numbered:
        raise ValueError(f"cannot clone an empty table: {source.table_dir}")
    commits = [c for _, c in numbered]
    live_abs = source._files(commits)

    clone = ManifestTable(
        target_dir,
        stats_columns=source.stats_columns,
        constraints=source.constraints,
        bloom_columns=source.bloom_columns,
        dict_columns=source.dict_columns,
    )
    if clone.snapshot():
        raise ValueError(f"clone target is not empty: {target_dir}")

    schema = source._evolved_schema(commits)
    if not _publish(
        clone._commit_path(0),
        0,
        clone._pre_publish_hook,
        **_record(
            clone,
            carried=[os.path.relpath(p, clone.data_dir) for p in live_abs],
            carry_from=commits,
            carry_dir=source.data_dir,
            dates={d for c in commits for d in c["dates"]},
            schema=schema,
            cloned_from=source.table_dir,
        ),
    ):
        raise ValueError(f"clone target is not empty: {target_dir}")
    return clone
